#!/usr/bin/env python3
"""Writes the five golden osmpbf test PBFs read by the decode specs.

    python3 scripts/make_pbf_fixtures.py [outdir]

`outdir` defaults to src/test/resources/pbf/ next to this script's repo.
The files re-encode the content of the osmpbf crate's test inputs
(tests/test.osm and the goldens in tests/read.rs, as FIXTURES.md §1 and
the specs quote them); src/test/resources/pbf/README.md says which
document each value comes from and which values are this script's own.

The encoder is deliberately independent of the Scala build: it uses the
Python stdlib only and writes every message field by field from
fileformat.proto / osmformat.proto (SURVEY.md §1.1, §1.3), so a decoder
bug cannot hide behind a mirrored bug in graft's own PbfWriter. Output is
deterministic: re-running it reproduces the committed bytes (zlib at
level 9, checked with zlib 1.2.13).
"""

import calendar
import os
import struct
import sys
import zlib

# ---------------------------------------------------------------------------
# Protobuf wire format: 0 = varint, 2 = length-delimited.


def varint(v):
    assert v >= 0, v
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag(v):
    return v << 1 if v >= 0 else ((-v) << 1) - 1


def f_uint(field, v):
    return varint(field << 3 | 0) + varint(v)


def f_sint(field, v):
    return f_uint(field, zigzag(v))


def f_bytes(field, b):
    return varint(field << 3 | 2) + varint(len(b)) + b


def f_str(field, s):
    return f_bytes(field, s.encode("utf-8"))


def f_packed_uint(field, vs):
    return f_bytes(field, b"".join(varint(v) for v in vs))


def f_packed_sint(field, vs):
    return f_bytes(field, b"".join(varint(zigzag(v)) for v in vs))


def deltas(vs):
    return [v - p for v, p in zip(vs, [0] + vs[:-1])]


# ---------------------------------------------------------------------------
# Content of tests/test.osm (FIXTURES.md §1; read.rs goldens in the specs).

GRANULARITY = 100  # osmformat.proto default; never written to the block


def ts(second):
    """2003-04-05T06:07:<second>Z in seconds (date_granularity 1000 ms)."""
    return calendar.timegm((2003, 4, 5, 6, 7, second, 0, 0, 0))


# id, lat, lon in nanodegrees: the LocationsOnWays goldens (read.rs:418-485),
# which lie within 1e-7 degrees of read.rs:128-145's node coordinates
NODES = [
    (105, 52122403100, 11628401700),
    (106, 52119923500, 11625644600),
    (108, 52119899100, 11631019200),
]
NODE_TS = [ts(8), ts(9), ts(10)]
WAY_ID, WAY_REFS = 107, [105, 106, 108, 105]
WAY_TAGS = [("building", "yes"), ("name", "triangle")]
REL_ID, REL_TAGS = 120, [("rel_key", "rel_value")]
REL_MEMBERS = [(1, 107, "test_role")]  # MemberType WAY = 1
UID, USER, VERSION = 17, "testuser", 1
# no document states these; the script's own choices
CHANGESET = 1
WAY_TS, REL_TS = ts(11), ts(12)


class StringTable:
    """Block-local string table; index 0 is the reserved blank entry."""

    def __init__(self):
        self.strings = [""]

    def sid(self, s):
        if s not in self.strings:
            self.strings.append(s)
        return self.strings.index(s)

    def encode(self):
        return b"".join(f_str(1, s) for s in self.strings)


def info(st, timestamp):
    """Info: version=1, timestamp=2, changeset=3, uid=4, user_sid=5; no
    visible (6), which only history files carry."""
    return (f_uint(1, VERSION) + f_uint(2, timestamp) + f_uint(3, CHANGESET)
            + f_uint(4, UID) + f_uint(5, st.sid(USER)))


def dense_group(st, nodes, stamps, versions=None, visible=None):
    """PrimitiveGroup.dense (2): DenseNodes id=1Δ, denseinfo=5, lat=8Δ,
    lon=9Δ; no keys_vals (10) since no node carries a tag."""
    n = len(nodes)
    versions = versions or [VERSION] * n
    di = (f_packed_uint(1, versions) + f_packed_sint(2, deltas(stamps))
          + f_packed_sint(3, deltas([CHANGESET] * n))
          + f_packed_sint(4, deltas([UID] * n))
          + f_packed_sint(5, deltas([st.sid(USER)] * n)))
    if visible is not None:
        di += f_packed_uint(6, [int(v) for v in visible])
    dense = (f_packed_sint(1, deltas([i for i, _, _ in nodes]))
             + f_bytes(5, di)
             + f_packed_sint(8, deltas([la // GRANULARITY for _, la, _ in nodes]))
             + f_packed_sint(9, deltas([lo // GRANULARITY for _, _, lo in nodes])))
    return f_bytes(2, dense)


def sparse_group(st, nodes, stamps):
    """PrimitiveGroup.nodes (1): one Node per element, id=1 sint64,
    info=4, lat=8 / lon=9 sint64 (not delta coded)."""
    return b"".join(
        f_bytes(1, f_sint(1, i) + f_bytes(4, info(st, t))
                + f_sint(8, la // GRANULARITY) + f_sint(9, lo // GRANULARITY))
        for (i, la, lo), t in zip(nodes, stamps))


def way_group(st, locations=False):
    """PrimitiveGroup.ways (3): Way id=1, keys=2, vals=3, info=4, refs=8Δ,
    and with LocationsOnWays lat=9Δ / lon=10Δ."""
    w = (f_uint(1, WAY_ID)
         + f_packed_uint(2, [st.sid(k) for k, _ in WAY_TAGS])
         + f_packed_uint(3, [st.sid(v) for _, v in WAY_TAGS])
         + f_bytes(4, info(st, WAY_TS))
         + f_packed_sint(8, deltas(WAY_REFS)))
    if locations:
        by_id = {i: (la, lo) for i, la, lo in NODES}
        w += f_packed_sint(9, deltas([by_id[r][0] // GRANULARITY for r in WAY_REFS]))
        w += f_packed_sint(10, deltas([by_id[r][1] // GRANULARITY for r in WAY_REFS]))
    return f_bytes(3, w)


def relation_group(st):
    """PrimitiveGroup.relations (4): Relation id=1, keys=2, vals=3, info=4,
    roles_sid=8, memids=9Δ, types=10."""
    r = (f_uint(1, REL_ID)
         + f_packed_uint(2, [st.sid(k) for k, _ in REL_TAGS])
         + f_packed_uint(3, [st.sid(v) for _, v in REL_TAGS])
         + f_bytes(4, info(st, REL_TS))
         + f_packed_uint(8, [st.sid(role) for _, _, role in REL_MEMBERS])
         + f_packed_sint(9, deltas([ref for _, ref, _ in REL_MEMBERS]))
         + f_packed_uint(10, [t for t, _, _ in REL_MEMBERS]))
    return f_bytes(4, r)


def primitive_block(*group_fns):
    """PrimitiveBlock: stringtable=1, primitivegroup=2 (repeated). The
    groups are built first so the string table holds what they use."""
    st = StringTable()
    groups = [fn(st) for fn in group_fns]
    return f_bytes(1, st.encode()) + b"".join(f_bytes(2, g) for g in groups)


def header_block(required, optional=()):
    """HeaderBlock: bbox=1 (HeaderBBox left=1 right=2 top=3 bottom=4,
    sint64 nanodegrees), required_features=4, optional_features=5,
    writingprogram=16."""
    lats = [la for _, la, _ in NODES]
    lons = [lo for _, _, lo in NODES]
    bbox = (f_sint(1, min(lons)) + f_sint(2, max(lons))
            + f_sint(3, max(lats)) + f_sint(4, min(lats)))
    return (f_bytes(1, bbox)
            + b"".join(f_str(4, f) for f in required)
            + b"".join(f_str(5, f) for f in optional)
            + f_str(16, "make_pbf_fixtures.py"))


# ---------------------------------------------------------------------------
# Container: [4-byte BE BlobHeader length][BlobHeader][Blob] per record.


def blob(payload, compress):
    """Blob: raw=1, or raw_size=2 + zlib_data=3."""
    if compress:
        return f_uint(2, len(payload)) + f_bytes(3, zlib.compress(payload, 9))
    return f_bytes(1, payload)


def record(kind, payload, compress):
    """BlobHeader: type=1, datasize=3; then the Blob itself."""
    body = blob(payload, compress)
    header = f_str(1, kind) + f_uint(3, len(body))
    return struct.pack(">I", len(header)) + header + body


def pbf(header, blocks, compress):
    return (record("OSMHeader", header, compress)
            + b"".join(record("OSMData", b, compress) for b in blocks))


DENSE = ["OsmSchema-V0.6", "DenseNodes"]


def fixtures():
    full_dense = primitive_block(
        lambda st: dense_group(st, NODES, NODE_TS), way_group, relation_group)
    full_sparse = primitive_block(
        lambda st: sparse_group(st, NODES, NODE_TS), way_group, relation_group)
    # history file: node 105 deleted in version 2, node 106 current
    history = primitive_block(lambda st: dense_group(
        st, NODES[:2], NODE_TS[:2], versions=[2, 1], visible=[False, True]))
    return {
        "test.osm.pbf": pbf(header_block(DENSE), [full_dense], True),
        "test_nozlib.osm.pbf": pbf(header_block(DENSE), [full_dense], False),
        "test_nozlib_nodense.osm.pbf":
            pbf(header_block(["OsmSchema-V0.6"]), [full_sparse], False),
        "deleted_nodes.osh.pbf": pbf(
            header_block(DENSE + ["HistoricalInformation"]), [history], True),
        "loc_on_ways.osm.pbf": pbf(
            header_block(DENSE, ["LocationsOnWays"]),
            [primitive_block(lambda st: dense_group(st, NODES, NODE_TS)),
             primitive_block(lambda st: way_group(st, locations=True),
                             relation_group)],
            True),
    }


def main(argv):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = argv[1] if len(argv) > 1 else os.path.join(
        root, "src", "test", "resources", "pbf")
    os.makedirs(out, exist_ok=True)
    for name, data in fixtures().items():
        with open(os.path.join(out, name), "wb") as f:
            f.write(data)
        print(f"{name}: {len(data)} bytes")


if __name__ == "__main__":
    main(sys.argv)

package graft.sources.pbf

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

/** HeaderBlock metadata (osmformat.proto HeaderBlock; decoded like
  * osmpbf/src/block.rs:15-86). bbox is ×1e-9 degrees.
  */
final case class OsmHeader(
    bboxLeft: Option[Double], bboxRight: Option[Double],
    bboxTop: Option[Double], bboxBottom: Option[Double],
    requiredFeatures: Seq[String], optionalFeatures: Seq[String],
    writingProgram: Option[String], source: Option[String],
    replicationTimestamp: Option[Long], replicationSequence: Option[Long],
    replicationBaseUrl: Option[String])

/** Decodes OSM PBF payloads (the uncompressed output of [[Blobs.decode]])
  * into [[ColumnSink]] appends of the [[OsmSchema.schema]] fields.
  *
  * Semantics mirror the reference exactly:
  *  - coords: degrees = 1e-9 × (offset + granularity × raw)
  *    (osmpbf/src/elements.rs:84-111, dense.rs:36-63)
  *  - timestamps: raw × date_granularity milliseconds (elements.rs:583-591)
  *  - tag pairs with invalid-UTF-8 key or value are silently dropped
  *    (block.rs:439-456)
  *  - sparse elements: absent user → "" (sink.rs:183,227,249); visible
  *    always present, defaulting true (elements.rs:616-619)
  *  - dense nodes without DenseInfo: every info column null including
  *    user and visible (sink.rs:203-222)
  *  - relation member roles with invalid UTF-8 → null role
  *    (sink.rs:251-260 `.role().ok()`)
  *  - node id is sint64 (zigzag), way/relation ids are int64 (plain)
  *
  * [[decode]] is the one emit path: each primitive group goes to the sink
  * of its element kind. The transcode appends straight into its parquet
  * leaves; [[rows]] is a [[decode]] of the whole block into the scan's
  * rows, [[rowsWithIds]] the same through an id filter (the node read of
  * [[IndexedPbf.readWaysAndDeps]]), and [[idRanges]] folds the blob
  * catalog's ranges from the appends of `id`, `lat` and `lon`.
  */
object BlockDecoder {

  /** Column-pruning projection for the scan (DataSourceV2
    * `SupportsPushDownRequiredColumns`): columns not required skip their
    * decode work entirely — the Spark-native version of the reference's
    * lazy decode (blob.rs:92-113). `types` prunes whole
    * primitive groups when a `type = …` predicate is pushed down, the
    * analog of the reference's known-empty blob skip (indexed.rs:275-300).
    */
  final case class Projection(
      tags: Boolean = true,
      coords: Boolean = true,
      nds: Boolean = true,
      members: Boolean = true,
      info: Boolean = true,
      types: Set[String] = Set(OsmSchema.TypeNode, OsmSchema.TypeWay, OsmSchema.TypeRelation),
      // LocationsOnWays read option: rows carry a 14th `node_locations`
      // column (OsmSchema.schemaWithWayLocations). Off by default — the
      // 13-col transcode/scan paths are untouched.
      wayLocs: Boolean = false)

  val FullProjection: Projection = Projection()

  /** PrimitiveBlock → element rows. */
  def decodeBlock(payload: Array[Byte]): Iterator[Row] =
    decodeBlock(payload, FullProjection)

  /** Row view of the decode — convenience for tests and library users. */
  def decodeBlock(payload: Array[Byte], proj: Projection): Iterator[Row] = {
    val conv = CatalystTypeConverters.createToScalaConverter(OsmSchema.schemaFor(proj.wayLocs))
    decodeBlockInternal(payload, proj).map(r => conv(r).asInstanceOf[Row])
  }

  /** PrimitiveBlock → InternalRows of the source schema (13 columns, 14
    * with `wayLocs`), in Catalyst's own runtime formats (UTF8String,
    * ArrayBasedMapData, epoch-micros). */
  def decodeBlockInternal(payload: Array[Byte], proj: Projection): Iterator[InternalRow] =
    rows(payload, proj, OsmSchema.schemaFor(proj.wayLocs))

  /** PrimitiveBlock → InternalRows holding `schema`'s columns (any of the
    * source schema's, in any order): a [[decode]] of the whole block into
    * a buffer of rows; every row is an independent object. */
  def rows(payload: Array[Byte], proj: Projection, schema: StructType): Iterator[InternalRow] = {
    val out = new RowSink(schema)
    decode(payload, proj, out)
    out.rows.iterator
  }

  /** [[rows]] of only the elements whose `id` is in `ids` (sorted
    * ascending): any other element builds no row. */
  def rowsWithIds(payload: Array[Byte], proj: Projection, schema: StructType,
                  ids: Array[Long]): Iterator[InternalRow] = {
    val out = new RowSink(schema)
    decode(payload, proj, new IdFilterSink(ids, out))
    out.rows.iterator
  }

  /** PrimitiveBlock → appends into `out`, group by group. Returns the
    * number of elements emitted.
    *
    * Field order in the wire format puts granularity (17-20) after the
    * groups (2), so the group spans are collected first and decoded once
    * the block-level scalars are known. A projection that reads no string
    * column skips the string table, as it skips every pruned field. */
  def decode(payload: Array[Byte], proj: Projection, out: ColumnSinks): Int = {
    val strings = proj.tags || proj.info || proj.members
    val r = new ProtoReader(payload)
    var stringTable: Array[UTF8String] = Array.empty
    val groups = ArrayBuffer.empty[ProtoReader]
    var granularity = 100L
    var latOffset = 0L
    var lonOffset = 0L
    var dateGranularity = 1000L
    while (r.hasNext) {
      val tag = r.readTag()
      (tag: @annotation.switch) match {
        case 0x0a => // 1
          if (strings) stringTable = decodeStringTable(r.readMessage()) else r.skip(2)
        case 0x12 => groups += r.readMessage() // 2
        case _ =>
          val field = tag >>> 3
          val wire = tag & 7
          field match {
            case 17 => granularity = r.readVarint()
            case 18 => dateGranularity = r.readVarint()
            case 19 => latOffset = r.readVarint()
            case 20 => lonOffset = r.readVarint()
            case _ => r.skip(wire)
          }
      }
    }
    val ctx = new BlockCtx(stringTable, granularity, latOffset, lonOffset, dateGranularity)
    out.block()
    var n = 0
    groups.foreach(g => n += emitGroup(g, ctx, proj, out))
    n
  }

  private val TypeU = Array(OsmSchema.TypeNode, OsmSchema.TypeWay, OsmSchema.TypeRelation)
    .map(UTF8String.fromString)
  private val EmptyTags = new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any]))
  private val EmptyUser = UTF8String.fromString("")

  /** StringTable: repeated bytes s = 1. Invalid UTF-8 entries decode to
    * null so tag/role lookups can drop them like the reference (UTF8String
    * tolerates any bytes, so validity is checked once here at build time).
    * The bytes go straight into UTF8String (one slice copy + an in-place
    * validity scan) — the former bytes→String→re-encoded-bytes path cost
    * a CharsetDecoder, a char[], and a second byte[] per entry. */
  private def decodeStringTable(r: ProtoReader): Array[UTF8String] = {
    val out = ArrayBuffer.empty[UTF8String]
    while (r.hasNext) {
      val tag = r.readTag()
      if (tag == 0x0a) {
        val s = UTF8String.fromBytes(r.readBytes())
        out += (if (s.isValid) s else null)
      } else r.skip(tag & 7)
    }
    out.toArray
  }

  private final class BlockCtx(
      val strings: Array[UTF8String],
      val granularity: Long,
      val latOffset: Long,
      val lonOffset: Long,
      val dateGranularity: Long) {
    @inline def coord(offset: Long, raw: Long): Double =
      1e-9 * (offset + granularity * raw)
    @inline def millis(rawTs: Long): Long = rawTs * dateGranularity
    @inline def string(idx: Int): UTF8String =
      if (idx >= 0 && idx < strings.length) strings(idx) else null
  }

  /** Input-ordered tag pairs; pairs whose key or value is invalid UTF-8
    * (null in the string table) are dropped. */
  private def emitTags(keys: Array[Long], vals: Array[Long], ctx: BlockCtx, s: ColumnSink): Unit = {
    val n = math.min(keys.length, vals.length)
    var i = 0
    while (i < n) {
      val k = keys(i).toInt; val v = vals(i).toInt
      val ks = ctx.string(k); val vs = ctx.string(v)
      if (ks != null && vs != null) s.tag(k, ks, v, vs)
      i += 1
    }
  }

  /** PrimitiveGroup: nodes=1, dense=2, ways=3, relations=4. Groups of a
    * type excluded by a pushed `type` predicate are skipped without decode.
    * Each element is parsed whole, then emitted, so a corrupt element
    * fails before any of its appends. */
  private def emitGroup(r: ProtoReader, ctx: BlockCtx, proj: Projection, out: ColumnSinks): Int = {
    val wantNode = proj.types(OsmSchema.TypeNode)
    val wantWay = proj.types(OsmSchema.TypeWay)
    val wantRel = proj.types(OsmSchema.TypeRelation)
    var n = 0
    while (r.hasNext) {
      val tag = r.readTag()
      (tag: @annotation.switch) match {
        case 0x0a => if (wantNode) { emitNode(r.readMessage(), ctx, proj, out.sink(0)); n += 1 } else r.skip(2)
        case 0x12 => if (wantNode) n += emitDense(r.readMessage(), ctx, proj, out.sink(0)) else r.skip(2)
        case 0x1a => if (wantWay) { emitWay(r.readMessage(), ctx, proj, out.sink(1)); n += 1 } else r.skip(2)
        case 0x22 => if (wantRel) { emitRelation(r.readMessage(), ctx, proj, out.sink(2)); n += 1 } else r.skip(2)
        case t => r.skip(t & 7)
      }
    }
    n
  }

  /** Info message: version=1, timestamp=2, changeset=3, uid=4, user_sid=5,
    * visible=6; the last message of the element wins. A sparse element
    * always has user ("" when absent) and visible (default true); `m` is
    * null when the element has no info or the projection skips it. */
  private def emitInfo(m: ProtoReader, ctx: BlockCtx, s: ColumnSink): Unit = {
    var has = 0
    var version, uid, userSid = 0
    var ts, changeset = 0L
    var visible = true
    if (m != null) while (m.hasNext) {
      val tag = m.readTag()
      (tag >>> 3) match {
        case 1 => version = m.readVarint().toInt; has |= 1
        case 2 => ts = ctx.millis(m.readVarint()); has |= 2
        case 3 => changeset = m.readVarint(); has |= 4
        case 4 => uid = m.readVarint().toInt; has |= 8
        case 5 => userSid = m.readVarint().toInt; has |= 16
        case 6 => visible = m.readVarint() != 0
        case _ => m.skip(tag & 7)
      }
    }
    if ((has & 1) != 0) s.version(version)
    if ((has & 2) != 0) s.timestamp(ts * 1000L)
    if ((has & 4) != 0) s.changeset(changeset)
    if ((has & 8) != 0) s.uid(uid)
    val user = if ((has & 16) != 0) ctx.string(userSid) else null
    if (user == null) s.user(-1, EmptyUser) else s.user(userSid, user)
    s.visible(visible)
  }

  /** Node: id=1 sint64, keys=2, vals=3, info=4, lat=8 sint64, lon=9 sint64. */
  private def emitNode(r: ProtoReader, ctx: BlockCtx, proj: Projection, s: ColumnSink): Unit = {
    var id = 0L
    var keys: Array[Long] = Array.empty
    var vals: Array[Long] = Array.empty
    var info: ProtoReader = null
    var lat = 0L
    var lon = 0L
    while (r.hasNext) {
      val tag = r.readTag()
      (tag >>> 3) match {
        case 1 => id = r.readZigzag()
        case 2 => if (proj.tags) keys = appendVarints(keys, r, tag) else r.skip(tag & 7)
        case 3 => if (proj.tags) vals = appendVarints(vals, r, tag) else r.skip(tag & 7)
        case 4 => if (proj.info) info = r.readMessage() else r.skip(2)
        case 8 => lat = r.readZigzag()
        case 9 => lon = r.readZigzag()
        case _ => r.skip(tag & 7)
      }
    }
    s.id(id)
    emitTags(keys, vals, ctx, s)
    if (proj.coords) { s.lat(ctx.coord(ctx.latOffset, lat)); s.lon(ctx.coord(ctx.lonOffset, lon)) }
    emitInfo(info, ctx, s)
    s.end()
  }

  /** DenseNodes: id=1Δ, denseinfo=5, lat=8Δ, lon=9Δ, keys_vals=10.
    * The running-sum delta decode is inherently sequential per blob —
    * exactly why the parallelism unit is the blob (dense.rs:148-151).
    * Field parse is eager (packed arrays); then one pass emits the nodes.
    */
  private def emitDense(r: ProtoReader, ctx: BlockCtx, proj: Projection, s: ColumnSink): Int = {
    var ids: Array[Long] = Array.empty
    var lats: Array[Long] = Array.empty
    var lons: Array[Long] = Array.empty
    var keysVals: Array[Long] = Array.empty
    var di: DenseInfoArrays = null
    while (r.hasNext) {
      val tag = r.readTag()
      (tag >>> 3) match {
        case 1 => ids = appendZigzags(ids, r, tag)
        case 5 => if (proj.info) di = decodeDenseInfo(r.readMessage()) else r.skip(2)
        // pruned coords skip the packed parse and the per-node delta and
        // double work below
        case 8 => if (proj.coords) lats = appendZigzags(lats, r, tag) else r.skip(tag & 7)
        case 9 => if (proj.coords) lons = appendZigzags(lons, r, tag) else r.skip(tag & 7)
        case 10 => if (proj.tags) keysVals = appendVarints(keysVals, r, tag) else r.skip(tag & 7)
        case _ => r.skip(tag & 7)
      }
    }
    val n = ids.length
    // ALL five delta arrays must cover every node — gating on version
    // alone let a corrupt payload with a full version array but a short
    // timestamp/changeset/uid/userSid array escape as an
    // ArrayIndexOutOfBounds from the accumulator reads (found by
    // DecodeFuzzSpec); visible is individually length-guarded at use
    val hasInfo = di != null && di.version.length == n &&
      di.timestamp.length == n && di.changeset.length == n &&
      di.uid.length == n && di.userSid.length == n
    // Dense-node coords are MANDATORY per the PBF spec: when coords are
    // requested and the payload carries lat/lon arrays of the wrong length,
    // that is corruption and must fail typed — not silently NULL every
    // coordinate in the block (which downstream bbox filters would then
    // silently drop). The null path stays ONLY for the pruned case
    // (proj.coords off, or both arrays absent entirely).
    if (proj.coords && (lats.nonEmpty || lons.nonEmpty) &&
        (lats.length != n || lons.length != n))
      throw new PbfFormatException(
        s"DenseNodes coord arrays mismatch ids: ids=$n lats=${lats.length} lons=${lons.length}")
    val hasCoords = lats.length == n && lons.length == n
    var id, lat, lon, ts, cs, uid, usid = 0L
    var kv = 0 // cursor into keys_vals
    var i = 0
    while (i < n) {
      id += ids(i)
      s.id(id)
      // 0-delimited (key,val) pairs for this node (dense.rs:153-163)
      while (kv < keysVals.length && keysVals(kv) != 0L) {
        val k = keysVals(kv).toInt
        val ks = ctx.string(k)
        val v = if (kv + 1 < keysVals.length) keysVals(kv + 1).toInt else -1
        val vs = ctx.string(v)
        if (ks != null && vs != null) s.tag(k, ks, v, vs)
        kv += 2
      }
      if (kv < keysVals.length) kv += 1 // skip the 0 delimiter
      if (hasCoords) {
        lat += lats(i); lon += lons(i)
        s.lat(ctx.coord(ctx.latOffset, lat))
        s.lon(ctx.coord(ctx.lonOffset, lon))
      }
      // no DenseInfo: every info column null, including user & visible
      if (hasInfo) {
        ts += di.timestamp(i); cs += di.changeset(i); uid += di.uid(i); usid += di.userSid(i)
        s.changeset(cs)
        s.timestamp(ctx.millis(ts) * 1000L)
        s.uid(uid.toInt)
        val user = ctx.string(usid.toInt)
        if (user == null) s.user(-1, EmptyUser) else s.user(usid.toInt, user)
        s.version(di.version(i).toInt)
        s.visible(if (di.visible.length > i) di.visible(i) else true)
      }
      s.end()
      i += 1
    }
    n
  }

  private final class DenseInfoArrays(
      val version: Array[Long], val timestamp: Array[Long],
      val changeset: Array[Long], val uid: Array[Long],
      val userSid: Array[Long], val visible: Array[Boolean])

  /** DenseInfo: version=1 (plain), timestamp=2Δ, changeset=3Δ, uid=4Δ,
    * user_sid=5Δ, visible=6. */
  private def decodeDenseInfo(r: ProtoReader): DenseInfoArrays = {
    var version: Array[Long] = Array.empty
    var timestamp: Array[Long] = Array.empty
    var changeset: Array[Long] = Array.empty
    var uid: Array[Long] = Array.empty
    var userSid: Array[Long] = Array.empty
    var visible: Array[Long] = Array.empty
    while (r.hasNext) {
      val tag = r.readTag()
      (tag >>> 3) match {
        case 1 => version = appendVarints(version, r, tag)
        case 2 => timestamp = appendZigzags(timestamp, r, tag)
        case 3 => changeset = appendZigzags(changeset, r, tag)
        case 4 => uid = appendZigzags(uid, r, tag)
        case 5 => userSid = appendZigzags(userSid, r, tag)
        // same tag-dispatched append as fields 1-5: a spec-legal EXPANDED
        // (wire-type 0) visible value must not be misparsed as a length
        // prefix (an unconditional readPackedVarint desyncs on it)
        case 6 => visible = appendVarints(visible, r, tag)
        case _ => r.skip(tag & 7)
      }
    }
    new DenseInfoArrays(version, timestamp, changeset, uid, userSid,
      visible.map(_ != 0L))
  }

  /** Way: id=1 int64, keys=2, vals=3, info=4, refs=8Δ, lat=9Δ, lon=10Δ.
    * The optional LocationsOnWays lat/lon arrays (osmformat.proto Way
    * comment at 233-240; decoded like osmpbf/src/elements.rs:390-423) are
    * skipped by default — the reference APP ignores them (sink.rs:235) —
    * and surfaced as the `node_locations` column when the projection's
    * `wayLocs` is on. A way without the arrays yields an EMPTY array,
    * mirroring the reference library's empty iterator
    * (elements.rs:201-216). */
  private def emitWay(r: ProtoReader, ctx: BlockCtx, proj: Projection, s: ColumnSink): Unit = {
    var id = 0L
    var keys: Array[Long] = Array.empty
    var vals: Array[Long] = Array.empty
    var info: ProtoReader = null
    var refs: Array[Long] = Array.empty
    var dlats: Array[Long] = Array.empty
    var dlons: Array[Long] = Array.empty
    while (r.hasNext) {
      val tag = r.readTag()
      (tag >>> 3) match {
        case 1 => id = r.readVarint()
        case 2 => if (proj.tags) keys = appendVarints(keys, r, tag) else r.skip(tag & 7)
        case 3 => if (proj.tags) vals = appendVarints(vals, r, tag) else r.skip(tag & 7)
        case 4 => if (proj.info) info = r.readMessage() else r.skip(2)
        case 8 => if (proj.nds) refs = appendZigzags(refs, r, tag) else r.skip(tag & 7)
        // lat/lon must accept BOTH encodings of a packed-declared field
        // (protobuf spec: parsers handle packed and expanded, repeats
        // concatenate) — and when pruned, skip by the ACTUAL wire type so
        // an expanded varint doesn't get misread as a length prefix
        case 9 => if (proj.wayLocs) dlats = appendZigzags(dlats, r, tag)
                  else r.skip(tag & 7)
        case 10 => if (proj.wayLocs) dlons = appendZigzags(dlons, r, tag)
                   else r.skip(tag & 7)
        case _ => r.skip(tag & 7)
      }
    }
    s.id(id)
    emitTags(keys, vals, ctx, s)
    if (proj.nds) {
      // delta decode refs (elements.rs:332-348) in place
      var acc = 0L
      var i = 0
      while (i < refs.length) { acc += refs(i); refs(i) = acc; i += 1 }
      s.refs(refs, refs.length)
    }
    if (proj.wayLocs) {
      // same running-sum + coordinate math as the node decode
      // (elements.rs:405-412: offset + granularity × cumulative, ×1e-9)
      val n = math.min(dlats.length, dlons.length)
      val lats = new Array[Double](n)
      val lons = new Array[Double](n)
      var clat, clon = 0L
      var j = 0
      while (j < n) {
        clat += dlats(j); clon += dlons(j)
        lats(j) = ctx.coord(ctx.latOffset, clat)
        lons(j) = ctx.coord(ctx.lonOffset, clon)
        j += 1
      }
      s.locations(lats, lons, n)
    }
    emitInfo(info, ctx, s)
    s.end()
  }

  /** Relation: id=1 int64, keys=2, vals=3, info=4, roles_sid=8, memids=9Δ,
    * types=10. */
  private def emitRelation(r: ProtoReader, ctx: BlockCtx, proj: Projection, s: ColumnSink): Unit = {
    var id = 0L
    var keys: Array[Long] = Array.empty
    var vals: Array[Long] = Array.empty
    var info: ProtoReader = null
    var rolesSid: Array[Long] = Array.empty
    var memids: Array[Long] = Array.empty
    var types: Array[Long] = Array.empty
    while (r.hasNext) {
      val tag = r.readTag()
      (tag >>> 3) match {
        case 1 => id = r.readVarint()
        case 2 => if (proj.tags) keys = appendVarints(keys, r, tag) else r.skip(tag & 7)
        case 3 => if (proj.tags) vals = appendVarints(vals, r, tag) else r.skip(tag & 7)
        case 4 => if (proj.info) info = r.readMessage() else r.skip(2)
        case 8 => if (proj.members) rolesSid = appendVarints(rolesSid, r, tag) else r.skip(tag & 7)
        case 9 => if (proj.members) memids = appendZigzags(memids, r, tag) else r.skip(tag & 7)
        case 10 => if (proj.members) types = appendVarints(types, r, tag) else r.skip(tag & 7)
        case _ => r.skip(tag & 7)
      }
    }
    s.id(id)
    emitTags(keys, vals, ctx, s)
    if (proj.members) {
      s.members()
      val n = math.min(memids.length, math.min(rolesSid.length, types.length))
      var acc = 0L
      var i = 0
      while (i < n) {
        acc += memids(i)
        val t = types(i).toInt
        val role = rolesSid(i).toInt
        // unknown member type and invalid role → null
        s.member(if (t >= 0 && t < 3) TypeU(t) else null, acc, hasRef = true, role, ctx.string(role))
        i += 1
      }
    }
    emitInfo(info, ctx, s)
    s.end()
  }

  /** Builds rows of `schema` from the appends, each field straight into
    * its slot (a field the schema lacks is dropped), and collects them
    * into `rows`; `type` comes from the sink the decoder picked. */
  private final class RowSink(schema: StructType) extends ColumnSink with ColumnSinks {
    val rows = new ArrayBuffer[InternalRow]
    private[this] def slot(name: String): Int = schema.fieldNames.indexOf(name)
    private[this] val (sId, sTags, sLat, sLon, sNds, sMembers) =
      (slot("id"), slot("tags"), slot("lat"), slot("lon"), slot("nds"), slot("members"))
    private[this] val (sChangeset, sTimestamp, sUid, sUser, sVersion, sVisible) =
      (slot("changeset"), slot("timestamp"), slot("uid"), slot("user"), slot("version"), slot("visible"))
    private[this] val sType = slot("type")
    private[this] val sLocs = slot(OsmSchema.NodeLocationsField.name)
    private[this] var kind = 0
    private[this] var row: Array[Any] = _
    private[this] var keys, vals = new Array[AnyRef](8)
    private[this] var nTags = 0
    private[this] var nullTags = false
    private[this] var mems: ArrayBuffer[Any] = _

    override def block(): Unit = ()
    override def sink(k: Int): ColumnSink = { kind = k; this }

    @inline private def put(slot: Int, v: Any): Unit = if (slot >= 0) row(slot) = v

    override def id(v: Long): Unit = { row = new Array[Any](schema.length); put(sId, v) }
    override def tag(keySid: Int, key: UTF8String, valueSid: Int, value: UTF8String): Unit =
      if (sTags >= 0) {
        if (nTags == keys.length) {
          keys = java.util.Arrays.copyOf(keys, nTags * 2); vals = java.util.Arrays.copyOf(vals, nTags * 2)
        }
        keys(nTags) = key; vals(nTags) = value; nTags += 1
      }
    override def noTags(): Unit = nullTags = true
    override def lat(v: Double): Unit = put(sLat, v)
    override def lon(v: Double): Unit = put(sLon, v)
    override def refs(refs: Array[Long], n: Int): Unit = if (sNds >= 0)
      put(sNds, new GenericArrayData(Array.tabulate[Any](n)(i => new GenericInternalRow(Array[Any](refs(i))))))
    override def members(): Unit = mems = new ArrayBuffer[Any]
    override def member(tpe: UTF8String, ref: Long, hasRef: Boolean, roleSid: Int, role: UTF8String): Unit =
      mems += new GenericInternalRow(Array[Any](tpe, if (hasRef) ref else null, role))
    override def changeset(v: Long): Unit = put(sChangeset, v)
    override def timestamp(micros: Long): Unit = put(sTimestamp, micros)
    override def uid(v: Int): Unit = put(sUid, v)
    override def user(sid: Int, v: UTF8String): Unit = put(sUser, v)
    override def version(v: Int): Unit = put(sVersion, v)
    override def visible(v: Boolean): Unit = put(sVisible, v)
    override def locations(lats: Array[Double], lons: Array[Double], n: Int): Unit =
      put(sLocs, new GenericArrayData(Array.tabulate[Any](n)(i => new GenericInternalRow(Array[Any](lats(i), lons(i))))))

    override def end(): Unit = {
      put(sTags,
        if (nullTags) null
        else if (nTags == 0) EmptyTags
        else new ArrayBasedMapData(new GenericArrayData(java.util.Arrays.copyOf(keys, nTags)),
          new GenericArrayData(java.util.Arrays.copyOf(vals, nTags))))
      if (mems != null) put(sMembers, new GenericArrayData(mems.toArray))
      put(sType, TypeU(kind))
      rows += new GenericInternalRow(row)
      nTags = 0; nullTags = false; mems = null
    }
  }

  /** Passes an element's appends on to `out` only when its `id`, its first
    * append, is in `ids` (sorted ascending). */
  private final class IdFilterSink(ids: Array[Long], out: ColumnSinks) extends ColumnSink with ColumnSinks {
    private[this] var s: ColumnSink = _
    private[this] var keep = false

    override def block(): Unit = out.block()
    override def sink(k: Int): ColumnSink = { s = out.sink(k); this }
    override def id(v: Long): Unit = {
      keep = java.util.Arrays.binarySearch(ids, v) >= 0
      if (keep) s.id(v)
    }
    override def tag(keySid: Int, key: UTF8String, valueSid: Int, value: UTF8String): Unit =
      if (keep) s.tag(keySid, key, valueSid, value)
    override def noTags(): Unit = if (keep) s.noTags()
    override def lat(v: Double): Unit = if (keep) s.lat(v)
    override def lon(v: Double): Unit = if (keep) s.lon(v)
    override def refs(refs: Array[Long], n: Int): Unit = if (keep) s.refs(refs, n)
    override def members(): Unit = if (keep) s.members()
    override def member(tpe: UTF8String, ref: Long, hasRef: Boolean, roleSid: Int, role: UTF8String): Unit =
      if (keep) s.member(tpe, ref, hasRef, roleSid, role)
    override def changeset(v: Long): Unit = if (keep) s.changeset(v)
    override def timestamp(micros: Long): Unit = if (keep) s.timestamp(micros)
    override def uid(v: Int): Unit = if (keep) s.uid(v)
    override def user(sid: Int, v: UTF8String): Unit = if (keep) s.user(sid, v)
    override def version(v: Int): Unit = if (keep) s.version(v)
    override def visible(v: Boolean): Unit = if (keep) s.visible(v)
    override def locations(lats: Array[Double], lons: Array[Double], n: Int): Unit =
      if (keep) s.locations(lats, lons, n)
    override def end(): Unit = if (keep) s.end()
  }

  /** Packed-declared sint64 field occurrence: wire 2 = packed payload,
    * anything else = one expanded zigzag value; occurrences CONCATENATE —
    * the protobuf spec rule (parsers must accept both encodings, and
    * repeated occurrences of a packed field append). Through round 14 only
    * the way lat/lon fields honored this; every other packed field
    * REPLACED on a repeat occurrence, silently dropping earlier values
    * from a spec-legal multi-occurrence writer. One helper pair now serves
    * every packed field (the common single-occurrence path pays one
    * isEmpty check). Any other wire type is skipped as protobuf skips a
    * field of the wrong type, exactly as a projection that prunes the
    * field skips it, so every projection walks the same bytes. */
  private def appendZigzags(cur: Array[Long], r: ProtoReader, tag: Int): Array[Long] =
    (tag & 7) match {
      case 2 => val nw = r.readPackedZigzag(); if (cur.isEmpty) nw else cur ++ nw
      case 0 => cur :+ r.readZigzag()
      case w => r.skip(w); cur
    }

  /** int64/uint32 twin of [[appendZigzags]]. */
  private def appendVarints(cur: Array[Long], r: ProtoReader, tag: Int): Array[Long] =
    (tag & 7) match {
      case 2 => val nw = r.readPackedVarint(); if (cur.isEmpty) nw else cur ++ nw
      case 0 => cur :+ r.readVarint()
      case w => r.skip(w); cur
    }

  /** Per-blob min/max element ids — the zone map the reference's
    * IndexedReader records per blob (indexed.rs:36-44, 174-225) — and the
    * box of the node coordinates, in the degrees the scan emits.
    * `min > max` means the type (or, for the box, any node with
    * coordinates) is absent from the blob. */
  final case class BlobIdRanges(
      nodeMin: Long, nodeMax: Long,
      wayMin: Long, wayMax: Long,
      relMin: Long, relMax: Long,
      latMin: Double, latMax: Double,
      lonMin: Double, lonMax: Double) {
    def hasNodes: Boolean = nodeMin <= nodeMax
    def hasWays: Boolean = wayMin <= wayMax
    def hasRelations: Boolean = relMin <= relMax
    def hasCoords: Boolean = latMin <= latMax
  }

  private val IdsAndCoords = Projection(tags = false, nds = false, members = false, info = false)

  /** The blob's [[BlobIdRanges]]: a [[decode]] of `id`, `lat` and `lon`
    * into [[RangeSink]], so the ranges hold exactly the rows a scan
    * emits, and the build fails where that scan fails. */
  def idRanges(payload: Array[Byte]): BlobIdRanges = {
    val out = new RangeSink
    decode(payload, IdsAndCoords, out)
    out.ranges
  }

  /** Folds each kind's ids and the node coordinates into min/max;
    * every other append is dropped. */
  private final class RangeSink extends ColumnSink with ColumnSinks {
    private[this] var kind = 0
    private[this] var nodeMin, wayMin, relMin = Long.MaxValue
    private[this] var nodeMax, wayMax, relMax = Long.MinValue
    private[this] var latMin, lonMin = Double.PositiveInfinity
    private[this] var latMax, lonMax = Double.NegativeInfinity

    def ranges: BlobIdRanges = BlobIdRanges(nodeMin, nodeMax, wayMin, wayMax, relMin, relMax,
      latMin, latMax, lonMin, lonMax)

    override def block(): Unit = ()
    override def sink(k: Int): ColumnSink = { kind = k; this }
    override def id(v: Long): Unit = (kind: @annotation.switch) match {
      case 0 => if (v < nodeMin) nodeMin = v; if (v > nodeMax) nodeMax = v
      case 1 => if (v < wayMin) wayMin = v; if (v > wayMax) wayMax = v
      case _ => if (v < relMin) relMin = v; if (v > relMax) relMax = v
    }
    override def lat(v: Double): Unit = { if (v < latMin) latMin = v; if (v > latMax) latMax = v }
    override def lon(v: Double): Unit = { if (v < lonMin) lonMin = v; if (v > lonMax) lonMax = v }
    override def tag(keySid: Int, key: UTF8String, valueSid: Int, value: UTF8String): Unit = ()
    override def noTags(): Unit = ()
    override def refs(refs: Array[Long], n: Int): Unit = ()
    override def members(): Unit = ()
    override def member(tpe: UTF8String, ref: Long, hasRef: Boolean, roleSid: Int, role: UTF8String): Unit = ()
    override def changeset(v: Long): Unit = ()
    override def timestamp(micros: Long): Unit = ()
    override def uid(v: Int): Unit = ()
    override def user(sid: Int, v: UTF8String): Unit = ()
    override def version(v: Int): Unit = ()
    override def visible(v: Boolean): Unit = ()
    override def end(): Unit = ()
  }

  /** HeaderBlock: bbox=1, required_features=4, optional_features=5,
    * writingprogram=16, source=17, replication ts/seq/url=32/33/34. */
  def decodeHeader(payload: Array[Byte]): OsmHeader = {
    val r = new ProtoReader(payload)
    var left, right, top, bottom: Option[Double] = None
    val req = ArrayBuffer.empty[String]
    val opt = ArrayBuffer.empty[String]
    var program: Option[String] = None
    var source: Option[String] = None
    var repTs: Option[Long] = None
    var repSeq: Option[Long] = None
    var repUrl: Option[String] = None
    while (r.hasNext) {
      val tag = r.readTag()
      (tag >>> 3) match {
        case 1 =>
          val b = r.readMessage()
          while (b.hasNext) {
            val t2 = b.readTag()
            (t2 >>> 3) match {
              case 1 => left = Some(b.readZigzag() * 1e-9)
              case 2 => right = Some(b.readZigzag() * 1e-9)
              case 3 => top = Some(b.readZigzag() * 1e-9)
              case 4 => bottom = Some(b.readZigzag() * 1e-9)
              case _ => b.skip(t2 & 7)
            }
          }
        case 4 => req += r.readString()
        case 5 => opt += r.readString()
        case 16 => program = Some(r.readString())
        case 17 => source = Some(r.readString())
        case 32 => repTs = Some(r.readVarint())
        case 33 => repSeq = Some(r.readVarint())
        case 34 => repUrl = Some(r.readString())
        case _ => r.skip(tag & 7)
      }
    }
    OsmHeader(left, right, top, bottom, req.toSeq, opt.toSeq, program, source,
      repTs, repSeq, repUrl)
  }
}

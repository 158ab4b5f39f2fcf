package graft.sources.pbf

import org.scalatest.funsuite.AnyFunSuite

class ProtoReaderSpec extends AnyFunSuite {

  private def varintBytes(v: Long): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var x = v
    while ((x & ~0x7fL) != 0) { out += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
    out += (x & 0x7f).toByte
    out.toArray
  }

  private def zigzagEncode(v: Long): Long = (v << 1) ^ (v >> 63)

  test("varint round-trip on known values") {
    for (v <- Seq(0L, 1L, 127L, 128L, 300L, Int.MaxValue.toLong, Long.MaxValue, -1L)) {
      val r = new ProtoReader(varintBytes(v))
      assert(r.readVarint() === v)
    }
  }

  test("varint round-trip property (seeded random)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 2000) {
      val v = rnd.nextLong()
      assert(new ProtoReader(varintBytes(v)).readVarint() === v)
    }
  }

  test("zigzag round-trip property (delta-encode → decode = identity)") {
    val rnd = new scala.util.Random(43)
    for (_ <- 1 to 2000) {
      val v = rnd.nextLong() / 2
      assert(new ProtoReader(varintBytes(zigzagEncode(v))).readZigzag() === v)
    }
  }

  test("zigzag known values") {
    // protobuf spec examples: 0→0, -1→1, 1→2, -2→3
    assert(new ProtoReader(Array[Byte](0)).readZigzag() === 0L)
    assert(new ProtoReader(Array[Byte](1)).readZigzag() === -1L)
    assert(new ProtoReader(Array[Byte](2)).readZigzag() === 1L)
    assert(new ProtoReader(Array[Byte](3)).readZigzag() === -2L)
  }

  test("packed varint and message framing") {
    val payload = varintBytes(1) ++ varintBytes(128) ++ varintBytes(5)
    val framed = varintBytes(payload.length.toLong) ++ payload
    val r = new ProtoReader(framed)
    assert(r.readPackedVarint().toSeq === Seq(1L, 128L, 5L))
  }

  test("corrupt length prefixes fail typed, never desync or walk backwards") {
    // declared length overruns the message end
    val overrun = varintBytes(100L) ++ Array[Byte](1, 2, 3)
    intercept[PbfFormatException](new ProtoReader(overrun).readBytes())
    intercept[PbfFormatException](new ProtoReader(overrun).readMessage())
    intercept[PbfFormatException](new ProtoReader(overrun).readPackedVarint())
    intercept[PbfFormatException](new ProtoReader(overrun).skip(2))
    // a length whose toInt is NEGATIVE previously walked pos BACKWARDS in
    // skip (infinite tag loop) or fabricated an empty message
    val negative = varintBytes(0xFFFFFFFFL) ++ Array[Byte](1, 2, 3)
    intercept[PbfFormatException](new ProtoReader(negative).skip(2))
    intercept[PbfFormatException](new ProtoReader(negative).readMessage())
  }

  test("length varint near Int.MaxValue fails typed (pos+len overflow)") {
    // pos + len overflows Int and wraps NEGATIVE, so the old `pos + len >
    // end` guard PASSED and readMessage fabricated an empty sub-message
    // (end < pos) while readBytes/skip took untyped AIOOBE/IAE paths. The
    // overflow-safe `len > end - pos` form rejects all of them typed.
    for (len <- Seq(Int.MaxValue.toLong, Int.MaxValue.toLong - 7)) {
      val buf = varintBytes(len) ++ Array[Byte](1, 2, 3)
      intercept[PbfFormatException](new ProtoReader(buf).readMessage())
      intercept[PbfFormatException](new ProtoReader(buf).readBytes())
      intercept[PbfFormatException](new ProtoReader(buf).readPackedVarint())
      intercept[PbfFormatException](new ProtoReader(buf).skip(2))
      // and specifically: the fabricated-empty-message path is gone
      // (a reader whose next field claims ~2^31 bytes must not read as
      // "message with zero fields")
    }
  }

  test("skip(2) lands exactly past the field (multi-byte length varint)") {
    // 200-byte field: length varint is 2 bytes — the r15 guard's first cut
    // computed pos+len from the PRE-length-varint pos (+= evaluation
    // order), desyncing every skip by the varint's width
    val payload = Array.fill[Byte](200)(7)
    val buf = varintBytes(200L) ++ payload ++ varintBytes(42L)
    val r = new ProtoReader(buf)
    r.skip(2)
    assert(r.readVarint() === 42L)
  }

  test("varint overrunning its message end fails typed (no silent sibling read)") {
    // continuation bit set on the sub-reader's last byte: the varint would
    // otherwise silently consume the parent's next field bytes
    val buf = Array[Byte](0x80.toByte, 0x80.toByte, 0x01)
    val sub = new ProtoReader(buf, 0, 2) // end INSIDE buf
    intercept[PbfFormatException](sub.readVarint())
    // truncated buffer (end == buf.length) also fails typed
    intercept[PbfFormatException](
      new ProtoReader(Array[Byte](0x80.toByte)).readVarint())
  }
}

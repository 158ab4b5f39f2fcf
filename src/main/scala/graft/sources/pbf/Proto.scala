package graft.sources.pbf

import java.nio.charset.StandardCharsets

/** Minimal hand-rolled protobuf wire-format reader.
  *
  * The offline build resolves no protobuf runtime, and the OSM PBF format
  * (MIT-licensed public spec, osmpbf/src/proto/{fileformat,osmformat}.proto
  * as cited in SURVEY.md §1.1 and §1.3) uses only
  * a handful of messages, so a cursor-based reader over the blob's byte
  * array is smaller and faster than a generic runtime: no message objects,
  * no reflection — the decoder pulls fields straight into primitive arrays.
  *
  * Wire types: 0=varint, 1=fixed64, 2=length-delimited, 5=fixed32.
  */
final class ProtoReader(val buf: Array[Byte], var pos: Int, val end: Int) {

  def this(buf: Array[Byte]) = this(buf, 0, buf.length)

  @inline def hasNext: Boolean = pos < end

  /** Reads a base-128 varint (up to 10 bytes). End-guarded: a truncated
    * or corrupt varint is a TYPED error instead of a silent read into the
    * enclosing message's next field (pos can legally sit inside `buf` but
    * past this sub-reader's `end`). Guard cost is ONE compare per varint,
    * not per byte: with >= 10 bytes left before `end`, a max-length varint
    * cannot overrun, so the hot loop runs unguarded (a per-byte guard
    * measured ~20% off transcode throughput); only the last few varints of
    * each message take the byte-guarded tail path. */
  def readVarint(): Long = {
    if (end - pos >= 10) {
      var shift = 0
      var result = 0L
      while (shift < 64) {
        val b = buf(pos)
        pos += 1
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      throw new PbfFormatException("varint too long")
    } else readVarintGuarded()
  }

  private def readVarintGuarded(): Long = {
    var shift = 0
    var result = 0L
    while (shift < 64) {
      if (pos >= end)
        throw new PbfFormatException("varint overruns message end")
      val b = buf(pos)
      pos += 1
      result |= (b & 0x7fL) << shift
      if ((b & 0x80) == 0) return result
      shift += 7
    }
    throw new PbfFormatException("varint too long")
  }

  @inline def readZigzag(): Long = {
    val v = readVarint()
    (v >>> 1) ^ -(v & 1)
  }

  /** Returns the field tag (number << 3 | wireType). */
  @inline def readTag(): Int = readVarint().toInt

  /** Validated length prefix of a length-delimited field. Without this, a
    * corrupt length either walks `pos` BACKWARDS (negative toInt → an
    * infinite tag loop), fabricates an empty sub-message (end < pos →
    * hasNext false), or overruns into sibling bytes — all silent. A blob
    * that lies about a length now fails typed, in the task that owns it. */
  @inline private def readLen(): Int = {
    val len = readVarint().toInt
    // Overflow-safe form: `pos + len > end` wraps negative for len near
    // Int.MaxValue and would PASS the guard, fabricating an empty
    // sub-message (end < pos). `end - pos` cannot overflow (0 <= pos <= end).
    if (len < 0 || len > end - pos)
      throw new PbfFormatException(
        s"length-delimited field of $len bytes overruns message end (pos=$pos end=$end)")
    len
  }

  def skip(wireType: Int): Unit = (wireType: @annotation.switch) match {
    case 0 => readVarint()
    case 1 => pos += 8
    // NOT `pos += readLen()`: the += desugaring reads the OLD pos before
    // readLen() advances it past the length varint — an off-by-len-varint
    // desync (caught by the source suites when this guard first landed)
    case 2 => val len = readLen(); pos += len
    case 5 => pos += 4
    case w => throw new PbfFormatException(s"unsupported wire type $w")
  }

  /** Enters a length-delimited field: returns a sub-reader over its bytes. */
  def readMessage(): ProtoReader = {
    val len = readLen()
    val r = new ProtoReader(buf, pos, pos + len)
    pos += len
    r
  }

  /** Copies a length-delimited field's bytes. */
  def readBytes(): Array[Byte] = {
    val len = readLen()
    val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
    pos += len
    out
  }

  /** Reads a length-delimited field as a (lenient) UTF-8 string. */
  def readString(): String = {
    val len = readLen()
    val s = new String(buf, pos, len, StandardCharsets.UTF_8)
    pos += len
    s
  }

  /** Counts the varints in buf[pos, stop): one cache-hot byte scan for
    * terminator bytes (high bit clear). Lets the packed readers allocate
    * EXACTLY once — profiling showed the previous ArrayBuilder's geometric
    * growth copies (`mkArray`) as the single hottest transcode frame, and
    * a padded upper-bound array would re-create the same GC pressure at
    * 1-2 bytes per delta varint. */
  @inline private def countVarints(stop: Int): Int = {
    var cnt = 0
    var p = pos
    while (p < stop) { if ((buf(p) & 0x80) == 0) cnt += 1; p += 1 }
    cnt
  }

  /** Decodes a packed repeated varint field into an exactly-sized array. */
  def readPackedVarint(): Array[Long] = {
    val len = readLen()
    val stop = pos + len
    val out = new Array[Long](countVarints(stop))
    var n = 0
    // n guard: a truncated trailing varint (no terminator inside the
    // field) is dropped instead of overrunning the exact-sized array
    while (pos < stop && n < out.length) { out(n) = readVarint(); n += 1 }
    pos = stop
    out
  }

  /** Decodes a packed repeated sint (zigzag) field (same single-alloc
    * strategy as [[readPackedVarint]]). */
  def readPackedZigzag(): Array[Long] = {
    val len = readLen()
    val stop = pos + len
    val out = new Array[Long](countVarints(stop))
    var n = 0
    while (pos < stop && n < out.length) { out(n) = readZigzag(); n += 1 }
    pos = stop
    out
  }
}

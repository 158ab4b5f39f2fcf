package graft.sources.pbf

import java.io.{DataInputStream, EOFException, InputStream}
import java.util.zip.Inflater

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Blob framing + decompression for the OSM PBF container format
  * (fileformat.proto): the file is a sequence of
  * `[4-byte BE length][BlobHeader][Blob]` records.
  *
  * Enumeration reads only the fixed-length prefix and BlobHeader of each
  * record and seeks past the body — the reference's metadata-only skip-scan
  * (osmpbf/src/blob.rs:426-448) — so planning a 100 TB input touches a few
  * KB per blob. Decompression happens later, inside the Spark task that
  * owns the blob.
  */
object Blobs {

  /** Caps from osmpbf/src/blob.rs:22-25. */
  val MaxHeaderBytes: Int = 64 * 1024
  val MaxBodyBytes: Int = 32 * 1024 * 1024

  val TypeOsmHeader = "OSMHeader"
  val TypeOsmData = "OSMData"

  /** One blob's coordinates within the file: `offset` points at the Blob
    * message body (after the BlobHeader), `length` is its byte size.
    * `rawSize` is the DECODED payload size (Blob.raw_size, or the raw
    * field's length for uncompressed blobs; -1 when unknown) — the right
    * weight for sizing decode tasks: compressed length under-weights
    * highly-compressible blobs by 100×+.
    */
  final case class BlobSpan(offset: Long, length: Int, blobType: String,
                            rawSize: Int = -1)

  /** Streams over `in`, returning the span of every blob. `in` must be
    * positioned at file start. Bodies are shallow-parsed (tags + varints
    * only, a few bytes per blob; payload bytes are skipped, never read
    * whole or decompressed) to capture `raw_size` for task weighting.
    *
    * `stopAt`: early-exit hook for single-blob reads — enumeration
    * returns as soon as a just-scanned span satisfies it, so locating
    * the OSMHeader (the first blob in practice) or the first data blob
    * costs one or two reads instead of a whole-file skip-scan (~10k
    * header seeks through one remote stream on a planet file).
    */
  def enumerate(in: InputStream,
                stopAt: BlobSpan => Boolean = _ => false): Seq[BlobSpan] = {
    val din = new DataInputStream(in)
    val spans = Seq.newBuilder[BlobSpan]
    var offset = 0L
    var eof = false
    while (!eof) {
      val headerLen =
        try din.readInt()
        catch { case _: EOFException => eof = true; -1 }
      if (!eof) {
        if (headerLen < 0 || headerLen > MaxHeaderBytes)
          throw new PbfFormatException(s"BlobHeader length $headerLen exceeds $MaxHeaderBytes")
        val headerBytes = new Array[Byte](headerLen)
        din.readFully(headerBytes)
        val (blobType, datasize) = parseBlobHeader(headerBytes)
        if (datasize < 0 || datasize > MaxBodyBytes)
          throw new PbfFormatException(s"Blob size $datasize exceeds $MaxBodyBytes")
        val bodyOffset = offset + 4 + headerLen
        val span = BlobSpan(bodyOffset, datasize, blobType,
          scanRawSize(din, datasize))
        spans += span
        offset = bodyOffset + datasize
        if (stopAt(span)) return spans.result()
      }
    }
    spans.result()
  }

  /** Shallow Blob-body scan: consumes exactly `datasize` bytes, skipping
    * payload fields and reading only `raw_size` (field 2). For an
    * uncompressed blob (`raw`, field 1) the payload length IS the raw
    * size. Returns -1 when the field is absent or the body doesn't parse —
    * enumeration stays lazy about body validity (a malformed blob fails at
    * DECODE, in the task that owns it, like the reference; blob.rs:426-448
    * never looks inside bodies at all). Only truncation (EOF) throws:
    * stream position must stay exact for the blobs that follow. */
  private def scanRawSize(din: DataInputStream, datasize: Int): Int = {
    var consumed = 0L
    var rawSize = -1
    var bad = false
    // a varint whose continuation bits run into the body boundary would
    // otherwise consume the NEXT blob's framing — stop at the boundary and
    // mark the body unparseable instead (bad → weight-only fallback)
    def readVarint(): Long = {
      var v = 0L; var shift = 0
      var b = 0
      do {
        if (consumed >= datasize) { bad = true; return -1L }
        b = din.read()
        if (b < 0) throw new EOFException("truncated blob body")
        consumed += 1
        v |= (b & 0x7fL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    def skipBytes(n: Long): Unit = {
      var toSkip = n
      while (toSkip > 0) {
        val skipped = din.skip(toSkip)
        if (skipped <= 0) {
          if (din.read() < 0) throw new EOFException("truncated blob body")
          toSkip -= 1
        } else toSkip -= skipped
      }
      consumed += n
    }
    while (consumed < datasize && !bad) {
      val tag = readVarint().toInt
      tag match {
        case 0x10 => rawSize = readVarint().toInt // field 2 raw_size
        case t if (t & 7) == 2 =>
          val len = readVarint()
          if (len < 0 || consumed + len > datasize) bad = true
          else {
            if ((t >> 3) == 1 && rawSize < 0) rawSize = len.toInt // raw payload
            skipBytes(len)
          }
        case t if (t & 7) == 0 => readVarint()
        case _ => bad = true // unknown wire type: stop parsing, skip the rest
      }
    }
    if (consumed < datasize) skipBytes(datasize - consumed)
    if (bad) -1 else rawSize
  }

  /** BlobHeader: type=1 (string), indexdata=2, datasize=3 (int32). */
  def parseBlobHeader(bytes: Array[Byte]): (String, Int) = {
    val r = new ProtoReader(bytes)
    var blobType: String = null
    var datasize = -1
    while (r.hasNext) {
      val tag = r.readTag()
      (tag: @annotation.switch) match {
        case 0x0a => blobType = r.readString() // field 1, wire 2
        case 0x18 => datasize = r.readVarint().toInt // field 3, wire 0
        case t => r.skip(t & 7)
      }
    }
    if (blobType == null || datasize < 0)
      throw new PbfFormatException("BlobHeader missing required type/datasize")
    (blobType, datasize)
  }

  /** Blob body → uncompressed payload. Supports `raw` (field 1) and
    * `zlib_data` (field 3) like the reference (blob.rs:651-671 rejects
    * lzma/lz4/zstd), plus `zstd_data` (field 7) as an extension — Spark
    * ships zstd-jni, so supporting the format's newest codec is free.
    */
  def decode(bytes: Array[Byte]): Array[Byte] = {
    val r = new ProtoReader(bytes)
    var rawSize = -1
    var raw: Array[Byte] = null
    var zlib: Array[Byte] = null
    var zstd: Array[Byte] = null
    while (r.hasNext) {
      val tag = r.readTag()
      (tag: @annotation.switch) match {
        case 0x0a => raw = r.readBytes() // raw = 1
        case 0x10 => rawSize = r.readVarint().toInt // raw_size = 2
        case 0x1a => zlib = r.readBytes() // zlib_data = 3
        case 0x3a => zstd = r.readBytes() // zstd_data = 7
        case t => r.skip(t & 7)
      }
    }
    if (rawSize > MaxBodyBytes)
      throw new PbfFormatException(s"uncompressed blob size $rawSize exceeds $MaxBodyBytes")
    if (raw != null) raw
    else if (zlib != null) inflate(zlib, rawSize)
    else if (zstd != null) {
      // raw_size is spec-required for compressed blobs; decompressing to a
      // "rawSize max 0"-byte buffer on a missing field silently produced an
      // EMPTY payload (zero rows from a data-bearing blob) through r14
      if (rawSize < 0) throw new PbfFormatException(
        "zstd blob missing required raw_size")
      // Symmetric with the hardened zlib path: corrupt streams fail TYPED
      // (ZstdException is untyped), and an actual decompressed size that
      // differs from the declared raw_size is corruption, not padding.
      val out =
        try com.github.luben.zstd.Zstd.decompress(zstd, rawSize)
        catch { case e: com.github.luben.zstd.ZstdException =>
          throw new PbfFormatException(s"corrupt zstd stream: ${e.getMessage}")
        }
      if (out.length != rawSize) throw new PbfFormatException(
        s"zstd stream decompressed to ${out.length} bytes, declared raw_size=$rawSize")
      out
    } else throw new PbfFormatException(
      "blob carries no supported payload (raw/zlib_data/zstd_data)")
  }

  private def inflate(data: Array[Byte], expectedSize: Int): Array[Byte] = {
    val inflater = new Inflater()
    try {
      inflateBody(inflater, data, expectedSize)
    } finally inflater.end()
  }

  private def inflateBody(inflater: Inflater, data: Array[Byte],
      expectedSize: Int): Array[Byte] = {
    try {
      inflater.setInput(data)
      if (expectedSize >= 0) {
        val out = new Array[Byte](expectedSize)
        var off = 0
        while (off < expectedSize && !inflater.finished()) {
          val n = inflater.inflate(out, off, expectedSize - off)
          // zero progress while unfinished is ALWAYS corruption here:
          // needsInput = truncated; needsDictionary = a spec-legal FDICT
          // header the format never uses (a corrupt flip can fabricate a
          // CHECKSUM-VALID one — found by FuzzCampaign as an infinite
          // 0-byte inflate loop, the exact hang class the fuzz contract
          // bans); any other zero-return is an Inflater state we don't
          // model — fail typed rather than spin
          if (n == 0 && !inflater.finished())
            throw new PbfFormatException(
              if (inflater.needsDictionary())
                "zlib stream demands a preset dictionary (FDICT) — corrupt or unsupported"
              else "truncated zlib stream")
          off += n
        }
        // a stream SHORTER than the declared raw_size previously returned a
        // zero-padded tail (garbage rows decoded from the padding); one
        // LONGER kept decoding the declared prefix and silently dropped the
        // rest — both are corrupt blobs and both now fail typed
        if (off < expectedSize)
          throw new PbfFormatException(
            s"zlib stream ended at $off of declared raw_size $expectedSize")
        if (!inflater.finished()) {
          val extra = inflater.inflate(new Array[Byte](1))
          if (extra > 0) throw new PbfFormatException(
            s"zlib stream continues past declared raw_size $expectedSize")
        }
        out
      } else {
        val buf = new java.io.ByteArrayOutputStream(data.length * 4)
        val chunk = new Array[Byte](64 * 1024)
        while (!inflater.finished()) {
          val n = inflater.inflate(chunk)
          // same zero-progress discipline as the sized path (incl. the
          // FDICT spin FuzzCampaign found)
          if (n == 0 && !inflater.finished())
            throw new PbfFormatException(
              if (inflater.needsDictionary())
                "zlib stream demands a preset dictionary (FDICT) — corrupt or unsupported"
              else "truncated zlib stream")
          buf.write(chunk, 0, n)
          if (buf.size() > MaxBodyBytes)
            throw new PbfFormatException("inflated blob exceeds 32MB cap")
        }
        buf.toByteArray
      }
    } catch {
      // a corrupt deflate stream must fail TYPED like every other
      // malformed-blob class, not leak java.util.zip's checked exception
      case e: java.util.zip.DataFormatException =>
        throw new PbfFormatException(s"corrupt zlib stream: ${e.getMessage}")
    }
  }
}

/** One PBF opened through the Hadoop FileSystem API (so `file:`, `hdfs:`
  * and `s3a:` paths all work): the one place a PBF read seeks, reads and
  * inflates a blob, like the reference's `BlobReader` (osmpbf/src/blob.rs:
  * 281-315, 366-374). Counts the nanoseconds spent reading and inflating
  * and the compressed bytes read. */
final class SpanReader(path: String, conf: Configuration) extends AutoCloseable {
  private[this] val in = { val p = new Path(path); p.getFileSystem(conf).open(p) }
  var readNs, inflateNs, compressedBytes = 0L

  /** [[Blobs.enumerate]] from the start of the file. */
  def spans(stopAt: Blobs.BlobSpan => Boolean = _ => false): Seq[Blobs.BlobSpan] = {
    in.seek(0L)
    Blobs.enumerate(in, stopAt)
  }

  /** The inflated payload of the blob at `span`. */
  def read(span: Blobs.BlobSpan): Array[Byte] = {
    val t0 = System.nanoTime()
    in.seek(span.offset)
    val buf = new Array[Byte](span.length)
    in.readFully(buf)
    val t1 = System.nanoTime()
    val payload = Blobs.decode(buf)
    readNs += t1 - t0
    inflateNs += System.nanoTime() - t1
    compressedBytes += span.length
    payload
  }

  override def close(): Unit = in.close()
}

class PbfFormatException(msg: String) extends RuntimeException(msg)

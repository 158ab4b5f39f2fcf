package graft.sources.pbf

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.bytes.{ByteBufferAllocator, BytesInput, BytesUtils, HeapByteBufferAllocator}
import org.apache.parquet.column.page.PageWriter
import org.apache.parquet.column.statistics.geospatial.GeospatialStatistics
import org.apache.parquet.column.statistics.{SizeStatistics, Statistics}
import org.apache.parquet.column.values.ValuesWriter
import org.apache.parquet.column.values.bitpacking.Packer
import org.apache.parquet.column.values.dictionary.DictionaryValuesWriter.PlainBinaryDictionaryValuesWriter
import org.apache.parquet.column.values.factory.{DefaultValuesWriterFactory, ValuesWriterFactory}
import org.apache.parquet.column.values.fallback.FallbackValuesWriter
import org.apache.parquet.column.values.plain.PlainValuesWriter
import org.apache.parquet.column.{ColumnDescriptor, Encoding, ParquetProperties}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.hadoop.{CodecFactory, ColumnChunkPageWriteStore, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.io.ParquetEncodingException
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.spark.sql.catalyst.InternalRow

import scala.annotation.nowarn

/** Direct parquet-mr write path for the transcode sink.
  *
  * The reference hands decoded element batches to columnar Arrow builders
  * and encodes each column in one pass (osm-pbf-parquet/src/sink.rs:29-44,
  * 134-153). This is the Spark-side equivalent, in two steps:
  *
  *  1. Buffer. `ColumnarWriter.write(row)` shreds the decoder's
  *     `InternalRow` into the 15 leaf columns of the fixed OSM schema, with
  *     hand-derived repetition/definition levels, and only APPENDS: each
  *     leaf keeps its (rep, def) levels and its non-null values in
  *     primitive arrays. No encoder runs per row. Spark's DataFrame writer
  *     (UnsafeRow conversion, the round-1 ~4x writer floor) and parquet-mr's
  *     `MessageColumnIO` record assembly are both bypassed.
  *  2. Drain. Whenever a size is needed (parquet-mr's page size check,
  *     the row-group size check, the rotation size probe, a flush), every
  *     leaf drains its buffer in one typed loop into the objects parquet-mr's
  *     `ColumnWriterV1` drives: the level writers and values writer from
  *     [[ParquetProperties]], and a page [[Statistics]]. Pages go to
  *     `ColumnChunkPageWriteStore` in ColumnWriterV1's call order, and the
  *     row group through `ParquetFileWriter`.
  *
  * A drain replays each leaf's values into its encoders in the order they
  * were written, and every size is read only after a full drain. Page cuts
  * follow `ColumnWriteStoreBase.sizeCheck` at its own adaptive cadence, so
  * the files are byte-identical to parquet-mr's row-by-row
  * `ColumnWriteStoreV1` fed the same rows (the spec suite keeps that writer
  * as its oracle). Three encoder kernels write the same bytes as the
  * stock writers they replace. Through one [[ValuesWriterFactory]]: a
  * little-endian PLAIN writer into one `byte[]` for the dictionary-off
  * INT64/DOUBLE leaves, and a binary dictionary writer that remembers each
  * string-table array's dictionary id. In the leaves: a level writer that
  * takes the buffered runs of equal levels whole.
  *
  * Schema layout matches what Spark's own parquet writer emits (standard
  * 3-level LIST / key_value MAP, TIMESTAMP(MICROS, isAdjustedToUTC=false)),
  * so `spark.read.parquet` round-trips to the identical DataFrame schema and
  * DuckDB reads it for the oracle. Column statistics, column indexes and
  * offset indexes are parquet-mr's own.
  */
object DirectParquet {

  /** The 12 data columns of [[OsmSchema.schema]] — `type` is directory-
    * encoded (hive layout), exactly like the reference's by-hand
    * `/type={t}/` paths (sink.rs:166-179, osm_arrow.rs:52-54). */
  val MessageSchema: MessageType = {
    val string = LogicalTypeAnnotation.stringType()
    Types.buildMessage()
      .addField(Types.required(INT64).named("id"))
      .addField(Types.optionalMap()
        .key(Types.required(BINARY).as(string).named("key"))
        .value(Types.optional(BINARY).as(string).named("value"))
        .named("tags"))
      .addField(Types.optional(DOUBLE).named("lat"))
      .addField(Types.optional(DOUBLE).named("lon"))
      .addField(Types.optionalList()
        .element(Types.requiredGroup()
          .addField(Types.required(INT64).named("ref"))
          .named("element"))
        .named("nds"))
      .addField(Types.optionalList()
        .element(Types.requiredGroup()
          .addField(Types.optional(BINARY).as(string).named("type"))
          .addField(Types.optional(INT64).named("ref"))
          .addField(Types.optional(BINARY).as(string).named("role"))
          .named("element"))
        .named("members"))
      .addField(Types.optional(INT64).named("changeset"))
      .addField(Types.optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS))
        .named("timestamp"))
      .addField(Types.optional(INT32).named("uid"))
      .addField(Types.optional(BINARY).as(string).named("user"))
      .addField(Types.optional(INT32).named("version"))
      .addField(Types.optional(BOOLEAN).named("visible"))
      .named("osm")
  }

  /** The transcode's parquet settings, with parquet-mr's stock values
    * writers; [[WriterProps]] adds the encoder kernels on top. */
  private[pbf] def writerPropsBuilder: ParquetProperties.Builder = ParquetProperties.builder()
    .withDictionaryEncoding(true)
    // High-cardinality columns (unique-per-element ids/coords/times and
    // way refs) only PAY for dictionary encoding: every value hashes
    // into the dict page until it overflows and falls back to plain —
    // profiling showed the fastutil Long2Int/Double2Int insert+rehash
    // among the hottest transcode frames. Low-cardinality columns
    // (tags, user, uid, version, visible) keep the dictionary.
    .withDictionaryEncoding("id", false)
    .withDictionaryEncoding("lat", false)
    .withDictionaryEncoding("lon", false)
    .withDictionaryEncoding("changeset", false)
    .withDictionaryEncoding("timestamp", false)
    .withDictionaryEncoding("nds.list.element.ref", false)
    .withDictionaryEncoding("members.list.element.ref", false)
    // min/max column statistics STAY ON (scan pushdown and the zone-map
    // pruning depend on them); SIZE statistics (unencoded-byte accounting
    // for external table planners) are pure per-value overhead in the hot
    // write loop with no consumer in this engine
    .withSizeStatisticsEnabled(false)
    // the page-size check walks every column buffer; at ~1KB/row the
    // default 100-row cadence rechecks ~10x per page for nothing
    .withMinRowCountForPageSizeCheck(1000)

  private val WriterProps: ParquetProperties =
    writerPropsBuilder.withValuesWriterFactory(new KernelFactory).build()

  /** parquet-mr's V1 values writers, except for two kernels that write the
    * same bytes faster: [[LePlainWriter]] for dictionary-off INT64/DOUBLE
    * leaves, and [[MemoBinaryDictionaryWriter]] (behind the stock
    * dictionary → PLAIN fallback) for dictionary-on BINARY leaves. */
  private final class KernelFactory extends ValuesWriterFactory {
    private[this] val stock = new DefaultValuesWriterFactory
    private[this] var props: ParquetProperties = _

    override def initialize(p: ParquetProperties): Unit = { props = p; stock.initialize(p) }

    override def newValuesWriter(d: ColumnDescriptor): ValuesWriter =
      d.getPrimitiveType.getPrimitiveTypeName match {
        case INT64 | DOUBLE if !props.isDictionaryEnabled(d) =>
          new LePlainWriter(props.getInitialSlabSize)
        case BINARY if props.isDictionaryEnabled(d) =>
          new FallbackValuesWriter[MemoBinaryDictionaryWriter, PlainValuesWriter](
            new MemoBinaryDictionaryWriter(props.getDictionaryPageSizeThreshold, props.getAllocator),
            new PlainValuesWriter(props.getInitialSlabSize, props.getPageSizeThreshold,
              props.getAllocator))
        case _ => stock.newValuesWriter(d)
      }
  }

  /** PLAIN INT64/DOUBLE values, little-endian into one growable `byte[]`:
    * the bytes `PlainValuesWriter` produces through its
    * `LittleEndianDataOutputStream`, doubles via `doubleToLongBits` as
    * there. The buffer is reused across pages; the page store copies each
    * page's bytes before [[reset]]. */
  private final class LePlainWriter(initialBytes: Int) extends ValuesWriter {
    private[this] var buf = new Array[Byte](math.max(initialBytes, 1024))
    private[this] var le = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    private[this] var pos = 0

    private def reserve(bytes: Long): Unit = if (pos + bytes > buf.length) {
      val cap = math.max(buf.length * 2L, pos + bytes)
      if (cap > Int.MaxValue - 8)
        throw new ParquetEncodingException(s"PLAIN page buffer over 2 GB ($cap bytes)")
      buf = java.util.Arrays.copyOf(buf, cap.toInt)
      le = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    }

    override def writeLong(v: Long): Unit = { reserve(8); le.putLong(pos, v); pos += 8 }
    override def writeDouble(v: Double): Unit = writeLong(java.lang.Double.doubleToLongBits(v))

    def writeLongs(a: Array[Long], n: Int): Unit = {
      reserve(8L * n)
      var p = pos
      var i = 0
      while (i < n) { le.putLong(p, a(i)); p += 8; i += 1 }
      pos = p
    }

    def writeDoubles(a: Array[Double], n: Int): Unit = {
      reserve(8L * n)
      var p = pos
      var i = 0
      while (i < n) { le.putLong(p, java.lang.Double.doubleToLongBits(a(i))); p += 8; i += 1 }
      pos = p
    }

    override def getBufferedSize: Long = pos
    override def getBytes: BytesInput = BytesInput.from(buf, 0, pos)
    override def getEncoding: Encoding = Encoding.PLAIN
    override def reset(): Unit = pos = 0
    override def close(): Unit = { pos = 0; buf = Array.emptyByteArray; le = ByteBuffer.wrap(buf) }
    override def getAllocatedSize: Long = buf.length
    override def memUsageString(prefix: String): String =
      s"$prefix PLAIN little-endian ${pos}/${buf.length} bytes"
  }

  /** `PlainBinaryDictionaryValuesWriter` that skips the content hash for
    * arrays it has already seen. Its callers pass `Binary`s over whole,
    * never-mutated arrays (the decoder's string-table entries); the first
    * sight of an array takes the stock path, later ones reuse its id. The
    * memo empties with the dictionary content (and, as a bound on what it
    * pins, at 64k arrays), so dictionary ids, sizes and fallback decisions
    * are the stock writer's. */
  @nowarn("cat=deprecation") // PLAIN_DICTIONARY: the V1 dictionary encoding parquet-mr writes
  private final class MemoBinaryDictionaryWriter(maxDictionaryBytes: Int, allocator: ByteBufferAllocator)
      extends PlainBinaryDictionaryValuesWriter(maxDictionaryBytes,
        Encoding.PLAIN_DICTIONARY, Encoding.PLAIN_DICTIONARY, allocator) {
    private[this] val memo = new java.util.IdentityHashMap[Array[Byte], Integer]

    override def writeBytes(v: Binary): Unit = {
      val key = v.getBytesUnsafe
      val id = memo.get(key)
      if (id ne null) encodedValues.add(id)
      else {
        super.writeBytes(v)
        if (memo.size >= (1 << 16)) memo.clear()
        memo.put(key, binaryDictionaryContent.getInt(v))
      }
    }

    override protected def clearDictionaryContent(): Unit = {
      super.clearDictionaryContent()
      memo.clear()
    }
  }

  /** Repetition or definition levels of a leaf whose max level is > 0:
    * the bytes, sizes and encoding of parquet-mr's
    * `RunLengthBitPackingHybridValuesWriter` (the RLE/bit-packing hybrid
    * with a 4-byte length prefix, as V1 data pages store levels), with the
    * encoder's state machine replayed value for value. [[writeRun]] takes
    * a run of one level and, once the encoder is inside an RLE run, adds
    * the rest of the run in one step, where the stock encoder takes one
    * call per value. */
  private final class LevelWriter(maxLevel: Int) extends ValuesWriter {
    private[this] val bitWidth = BytesUtils.getWidthFromMaxInt(maxLevel)
    require(bitWidth <= 8, s"level width $bitWidth")
    private[this] val packer = Packer.LITTLE_ENDIAN.newBytePacker(bitWidth)
    private[this] val packBuffer = new Array[Byte](bitWidth)
    private[this] val buffered = new Array[Int](8)
    private[this] var out = new Array[Byte](256)
    private[this] var size = 0
    private[this] var previous = 0
    private[this] var numBuffered = 0
    private[this] var repeatCount = 0
    private[this] var bitPackedGroups = 0
    private[this] var bitPackedHeader = -1
    private[this] var finished = false

    private def put(b: Int): Unit = {
      if (size == out.length) out = java.util.Arrays.copyOf(out, size * 2)
      out(size) = b.toByte
      size += 1
    }

    override def writeInteger(v: Int): Unit = {
      if (v == previous) {
        repeatCount += 1
        if (repeatCount >= 8) return // inside an RLE run
      } else {
        if (repeatCount >= 8) writeRleRun()
        repeatCount = 1
        previous = v
      }
      buffered(numBuffered) = v
      numBuffered += 1
      if (numBuffered == 8) writeOrAppendBitPackedRun()
    }

    /** `count` values of `v`, exactly as `count` calls of [[writeInteger]]. */
    def writeRun(v: Int, count: Int): Unit = {
      var left = count
      while (left > 0) {
        if (v == previous && repeatCount >= 8) { repeatCount += left; left = 0 }
        else { writeInteger(v); left -= 1 }
      }
    }

    private def writeOrAppendBitPackedRun(): Unit = {
      if (bitPackedGroups >= 63) endPreviousBitPackedRun()
      if (bitPackedHeader == -1) { put(0); bitPackedHeader = size - 1 }
      packer.pack8Values(buffered, 0, packBuffer, 0)
      var i = 0
      while (i < packBuffer.length) { put(packBuffer(i)); i += 1 }
      numBuffered = 0
      repeatCount = 0
      bitPackedGroups += 1
    }

    private def endPreviousBitPackedRun(): Unit = if (bitPackedHeader != -1) {
      out(bitPackedHeader) = ((bitPackedGroups << 1) | 1).toByte
      bitPackedHeader = -1
      bitPackedGroups = 0
    }

    private def writeRleRun(): Unit = {
      endPreviousBitPackedRun()
      var h = repeatCount << 1 // unsigned varint header, then the value in one byte
      while ((h & ~0x7f) != 0) { put((h & 0x7f) | 0x80); h >>>= 7 }
      put(h)
      put(previous & 0xff)
      repeatCount = 0
      numBuffered = 0
    }

    override def getBytes: BytesInput = {
      if (finished) throw new ParquetEncodingException("level bytes taken twice without reset")
      if (repeatCount >= 8) writeRleRun()
      else if (numBuffered > 0) {
        java.util.Arrays.fill(buffered, numBuffered, 8, 0)
        writeOrAppendBitPackedRun()
        endPreviousBitPackedRun()
      } else endPreviousBitPackedRun()
      finished = true
      BytesInput.concat(BytesInput.fromInt(size), BytesInput.from(out, 0, size))
    }

    override def getBufferedSize: Long = size
    override def getEncoding: Encoding = Encoding.RLE

    override def reset(): Unit = {
      size = 0; previous = 0; numBuffered = 0; repeatCount = 0
      bitPackedGroups = 0; bitPackedHeader = -1; finished = false
    }

    override def close(): Unit = { reset(); out = Array.emptyByteArray }
    override def getAllocatedSize: Long = out.length
    override def memUsageString(prefix: String): String = s"$prefix RLE levels $size/${out.length} bytes"
  }

  /** One leaf column of the current row group: the levels and non-null
    * values buffered since the last drain, and the encoder state that
    * parquet-mr's `ColumnWriterBase` keeps (level and values writers, page
    * statistics, page value and row counts). Levels are buffered as runs
    * of one (rep, def) pair, so a leaf that is null or flat for a stretch
    * of rows costs a compare and an increment per row. */
  private abstract class Leaf(desc: ColumnDescriptor, pages: PageWriter) {
    private[this] val ptype = desc.getPrimitiveType
    private[this] val maxRep = desc.getMaxRepetitionLevel
    private[this] val maxDef = desc.getMaxDefinitionLevel
    // max level 0: parquet-mr's no-op writer, and nothing to replay
    private[this] val rle = if (maxRep > 0) new LevelWriter(maxRep) else null
    private[this] val dle = if (maxDef > 0) new LevelWriter(maxDef) else null
    private[this] val rlw = if (rle ne null) rle else WriterProps.newRepetitionLevelWriter(desc)
    private[this] val dlw = if (dle ne null) dle else WriterProps.newDefinitionLevelWriter(desc)
    protected[this] val data: ValuesWriter = WriterProps.newValuesWriter(desc)
    protected[this] var stats: Statistics[_] = Statistics.createStats(ptype)

    // level runs since the last drain: (rep << 2 | def) and length; the
    // open run is (lastCode, lastLen)
    private[this] var codes = new Array[Byte](64)
    private[this] var lens = new Array[Int](64)
    private[this] var runs = 0
    private[this] var lastCode = -1
    private[this] var lastLen = 0
    protected[this] var nv = 0 // buffered non-null values

    private[this] var valueCount = 0
    private[this] var pageRowCount = 0
    private[this] var written = 0L

    final def addNull(r: Int, d: Int): Unit = level(r, d)

    @inline protected[this] final def level(r: Int, d: Int): Unit = {
      val code = (r << 2) | d
      if (code == lastCode) lastLen += 1
      else {
        if (lastLen > 0) closeRun()
        lastCode = code
        lastLen = 1
      }
    }

    private def closeRun(): Unit = {
      if (runs == codes.length) {
        codes = java.util.Arrays.copyOf(codes, runs * 2)
        lens = java.util.Arrays.copyOf(lens, runs * 2)
      }
      codes(runs) = lastCode.toByte
      lens(runs) = lastLen
      runs += 1
      lastLen = 0
    }

    /** Encodes the first `count` buffered values and adds them to
      * `stats`, then drops them. */
    protected[this] def drainValues(count: Int): Unit

    /** Replays the buffer into the encoders, in write order. */
    final def drain(): Unit = {
      if (lastLen > 0) closeRun()
      if (runs > 0) {
        var total = 0
        var i = 0
        while (i < runs) {
          val code = codes(i); val len = lens(i)
          val r = code >> 2
          if (rle ne null) rle.writeRun(r, len)
          if (r == 0) pageRowCount += len
          if (dle ne null) dle.writeRun(code & 3, len)
          total += len
          i += 1
        }
        runs = 0
        if (total > nv) stats.incrementNumNulls((total - nv).toLong)
        if (nv > 0) drainValues(nv)
        valueCount += total
        nv = 0
      }
    }

    def rowsWrittenSoFar: Long = written
    def getValueCount: Int = valueCount
    def currentPageBufferedSize: Long = rlw.getBufferedSize + dlw.getBufferedSize + data.getBufferedSize
    def totalBufferedSize: Long = currentPageBufferedSize + pages.getMemSize

    /** `ColumnWriterBase.writePage` + `ColumnWriterV1.writePage`. Size
      * statistics are off (no adds to replay) and no leaf is GEOMETRY. */
    def writePage(): Unit = {
      if (valueCount == 0) throw new ParquetEncodingException("writing empty page")
      written += pageRowCount
      pages.writePage(BytesInput.concat(rlw.getBytes, dlw.getBytes, data.getBytes),
        valueCount, pageRowCount, stats,
        SizeStatistics.noopBuilder(ptype, maxRep, maxDef).build(),
        GeospatialStatistics.newBuilder(ptype).build(),
        rlw.getEncoding, dlw.getEncoding, data.getEncoding)
      rlw.reset(); dlw.reset(); data.reset()
      valueCount = 0
      stats = Statistics.createStats(ptype)
      pageRowCount = 0
    }

    /** `ColumnWriterBase.finalizeColumnChunk`: the dictionary page last. */
    def finalizeChunk(): Unit = {
      val dict = data.toDictPageAndClose()
      if (dict != null) { pages.writeDictionaryPage(dict); data.resetDictionary() }
    }

    def close(): Unit = { rlw.close(); dlw.close(); data.close() }
  }

  private final class LongLeaf(desc: ColumnDescriptor, pages: PageWriter) extends Leaf(desc, pages) {
    private[this] var vals = new Array[Long](256)
    private[this] val le = data match { case w: LePlainWriter => w; case _ => null }

    def add(v: Long, r: Int, d: Int): Unit = {
      level(r, d)
      if (nv == vals.length) vals = java.util.Arrays.copyOf(vals, nv * 2)
      vals(nv) = v
      nv += 1
    }

    protected[this] def drainValues(count: Int): Unit = {
      if (le ne null) le.writeLongs(vals, count)
      else { var i = 0; while (i < count) { data.writeLong(vals(i)); i += 1 } }
      // signed min/max is all LongStatistics keeps
      var min = vals(0); var max = min
      var i = 1
      while (i < count) { val v = vals(i); if (v < min) min = v; if (v > max) max = v; i += 1 }
      stats.updateStats(min); stats.updateStats(max)
    }
  }

  private final class DoubleLeaf(desc: ColumnDescriptor, pages: PageWriter) extends Leaf(desc, pages) {
    private[this] var vals = new Array[Double](256)
    private[this] val le = data match { case w: LePlainWriter => w; case _ => null }

    def add(v: Double, r: Int, d: Int): Unit = {
      level(r, d)
      if (nv == vals.length) vals = java.util.Arrays.copyOf(vals, nv * 2)
      vals(nv) = v
      nv += 1
    }

    protected[this] def drainValues(count: Int): Unit = {
      if (le ne null) le.writeDoubles(vals, count)
      else { var i = 0; while (i < count) { data.writeDouble(vals(i)); i += 1 } }
      // per value: DoubleStatistics has its own NaN and -0.0 rules
      var i = 0
      while (i < count) { stats.updateStats(vals(i)); i += 1 }
    }
  }

  private final class IntLeaf(desc: ColumnDescriptor, pages: PageWriter) extends Leaf(desc, pages) {
    private[this] var vals = new Array[Int](256)

    def add(v: Int, r: Int, d: Int): Unit = {
      level(r, d)
      if (nv == vals.length) vals = java.util.Arrays.copyOf(vals, nv * 2)
      vals(nv) = v
      nv += 1
    }

    protected[this] def drainValues(count: Int): Unit = {
      var min = vals(0); var max = min
      var i = 0
      while (i < count) {
        val v = vals(i)
        data.writeInteger(v)
        if (v < min) min = v
        if (v > max) max = v
        i += 1
      }
      stats.updateStats(min); stats.updateStats(max)
    }
  }

  private final class BooleanLeaf(desc: ColumnDescriptor, pages: PageWriter) extends Leaf(desc, pages) {
    private[this] var vals = new Array[Boolean](256)

    def add(v: Boolean, r: Int, d: Int): Unit = {
      level(r, d)
      if (nv == vals.length) vals = java.util.Arrays.copyOf(vals, nv * 2)
      vals(nv) = v
      nv += 1
    }

    protected[this] def drainValues(count: Int): Unit = {
      var i = 0
      while (i < count) { val v = vals(i); data.writeBoolean(v); stats.updateStats(v); i += 1 }
    }
  }

  /** String leaf. Values are the rows' UTF8String byte arrays, held by
    * reference until the drain: `getBytes` returns a string-table entry's
    * own array and copies any other (sliced) string. */
  private final class BinaryLeaf(desc: ColumnDescriptor, pages: PageWriter) extends Leaf(desc, pages) {
    private[this] var vals = new Array[Array[Byte]](256)

    def add(v: Array[Byte], r: Int, d: Int): Unit = {
      level(r, d)
      if (nv == vals.length) vals = java.util.Arrays.copyOf(vals, nv * 2)
      vals(nv) = v
      nv += 1
    }

    protected[this] def drainValues(count: Int): Unit = {
      var i = 0
      while (i < count) {
        val b = Binary.fromConstantByteArray(vals(i))
        data.writeBytes(b)
        stats.updateStats(b)
        vals(i) = null
        i += 1
      }
    }
  }

  /** One parquet file. `write(row)` shreds the decoder's 13-field
    * `InternalRow` (field 12 `type` is skipped — the caller routes on it)
    * into the 15 leaf columns of [[MessageSchema]] and appends to their
    * buffers; the buffers drain into parquet-mr's encoders at every size
    * check (see the object header). Strings are held by reference until
    * the next drain and, in the dictionary memo, until the row group
    * ends, so their byte arrays must not be mutated after `write`.
    *
    * Repetition/definition levels, hand-derived once from the fixed
    * schema (parquet's standard Dremel shredding):
    *   - `id` required: (0, 0)
    *   - `tags` optional map: null → def 0; empty → def 1; entry key at
    *     def 2 (required leaf under the repeated group), value def 3
    *     when present / null at def 2; repetition 1 for entries after
    *     the first
    *   - `nds` optional list of required ref: null 0 / empty 1 /
    *     element def 2, rep 1 within the list
    *   - `members` optional list of three OPTIONAL leaves: null 0 /
    *     empty 1 / present leaf def 3, absent leaf def 2
    *   - flat optional primitives: null 0 / value def 1
    * A leaf's value is present exactly when its def level is the leaf's
    * max, so only present values are buffered.
    */
  final class ColumnarWriter(path: Path, conf: Configuration,
      codec: CompressionCodecName, rowGroupBytes: Long,
      rowGroupRows: Option[Int]) {

    private val fw = new ParquetFileWriter(
      HadoopOutputFile.fromPath(path, conf), MessageSchema,
      ParquetFileWriter.Mode.OVERWRITE, rowGroupBytes,
      ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
    fw.start()
    private val codecFactory = new CodecFactory(conf, WriterProps.getPageSizeThreshold)
    private val compressor = codecFactory.getCompressor(codec)
    private val descriptors = MessageSchema.getColumns // schema order

    // ColumnWriteStoreBase's page-cut constants
    private val pageSize = WriterProps.getPageSizeThreshold.toLong
    private val pageTolerance = (WriterProps.getPageSizeThreshold * 0.1f).toLong
    private val pageRowLimit = WriterProps.getPageRowCountLimit
    private val pageValueLimit = WriterProps.getPageValueCountThreshold
    private val minPageCheck = WriterProps.getMinRowCountForPageSizeCheck
    private val maxPageCheck = WriterProps.getMaxRowCountForPageSizeCheck

    /** The 15 leaves of one row group, in schema order. */
    private final class Leaves(pages: ColumnChunkPageWriteStore) {
      private def page(i: Int) = pages.getPageWriter(descriptors.get(i))
      val id = new LongLeaf(descriptors.get(0), page(0))
      val tagKey = new BinaryLeaf(descriptors.get(1), page(1))
      val tagValue = new BinaryLeaf(descriptors.get(2), page(2))
      val lat = new DoubleLeaf(descriptors.get(3), page(3))
      val lon = new DoubleLeaf(descriptors.get(4), page(4))
      val ndRef = new LongLeaf(descriptors.get(5), page(5))
      val memberType = new BinaryLeaf(descriptors.get(6), page(6))
      val memberRef = new LongLeaf(descriptors.get(7), page(7))
      val memberRole = new BinaryLeaf(descriptors.get(8), page(8))
      val changeset = new LongLeaf(descriptors.get(9), page(9))
      val timestamp = new LongLeaf(descriptors.get(10), page(10))
      val uid = new IntLeaf(descriptors.get(11), page(11))
      val user = new BinaryLeaf(descriptors.get(12), page(12))
      val version = new IntLeaf(descriptors.get(13), page(13))
      val visible = new BooleanLeaf(descriptors.get(14), page(14))
      val all: Array[Leaf] = Array(id, tagKey, tagValue, lat, lon, ndRef, memberType,
        memberRef, memberRole, changeset, timestamp, uid, user, version, visible)
    }

    private var pageStore: ColumnChunkPageWriteStore = _
    private var leaves: Leaves = _
    private var rowsInGroup: Long = _
    private var nextPageCheck: Long = _
    private var nextSizeCheck: Long = _
    // a failed write leaves the encoders in an unknown state: close()
    // then ends the file without flushing them
    private var failed = false

    private def newRowGroup(): Unit = {
      // per-page CRCs are pure per-value overhead with no consumer here
      // (column-index truncate length = parquet default 64)
      pageStore = new ColumnChunkPageWriteStore(compressor, MessageSchema,
        HeapByteBufferAllocator.getInstance(), 64, false)
      leaves = new Leaves(pageStore)
      rowsInGroup = 0L
      nextPageCheck = math.min(minPageCheck, pageRowLimit).toLong
      // cap-aware initial cadence: a row-count cap BELOW the first check
      // point would otherwise be silently violated (the replaced
      // ParquetWriter enforced withRowGroupRowCountLimit on every record)
      nextSizeCheck = rowGroupRows.fold(100L)(c => math.min(100L, c.toLong))
    }
    newRowGroup()

    def write(row: InternalRow): Unit = try {
      val g = leaves
      g.id.add(row.getLong(0), 0, 0)

      if (row.isNullAt(1)) { g.tagKey.addNull(0, 0); g.tagValue.addNull(0, 0) }
      else {
        val m = row.getMap(1)
        val n = m.numElements()
        if (n == 0) { g.tagKey.addNull(0, 1); g.tagValue.addNull(0, 1) }
        else {
          val keys = m.keyArray(); val vals = m.valueArray()
          var i = 0
          while (i < n) {
            val r = if (i == 0) 0 else 1
            g.tagKey.add(keys.getUTF8String(i).getBytes, r, 2)
            if (vals.isNullAt(i)) g.tagValue.addNull(r, 2)
            else g.tagValue.add(vals.getUTF8String(i).getBytes, r, 3)
            i += 1
          }
        }
      }

      if (row.isNullAt(2)) g.lat.addNull(0, 0) else g.lat.add(row.getDouble(2), 0, 1)
      if (row.isNullAt(3)) g.lon.addNull(0, 0) else g.lon.add(row.getDouble(3), 0, 1)

      if (row.isNullAt(4)) g.ndRef.addNull(0, 0)
      else {
        val a = row.getArray(4)
        val n = a.numElements()
        if (n == 0) g.ndRef.addNull(0, 1)
        else {
          var i = 0
          while (i < n) {
            g.ndRef.add(a.getStruct(i, 1).getLong(0), if (i == 0) 0 else 1, 2)
            i += 1
          }
        }
      }

      if (row.isNullAt(5)) {
        g.memberType.addNull(0, 0); g.memberRef.addNull(0, 0); g.memberRole.addNull(0, 0)
      } else {
        val a = row.getArray(5)
        val n = a.numElements()
        if (n == 0) { g.memberType.addNull(0, 1); g.memberRef.addNull(0, 1); g.memberRole.addNull(0, 1) }
        else {
          var i = 0
          while (i < n) {
            val s = a.getStruct(i, 3)
            val r = if (i == 0) 0 else 1
            if (s.isNullAt(0)) g.memberType.addNull(r, 2) else g.memberType.add(s.getUTF8String(0).getBytes, r, 3)
            if (s.isNullAt(1)) g.memberRef.addNull(r, 2) else g.memberRef.add(s.getLong(1), r, 3)
            if (s.isNullAt(2)) g.memberRole.addNull(r, 2) else g.memberRole.add(s.getUTF8String(2).getBytes, r, 3)
            i += 1
          }
        }
      }

      if (row.isNullAt(6)) g.changeset.addNull(0, 0) else g.changeset.add(row.getLong(6), 0, 1)
      if (row.isNullAt(7)) g.timestamp.addNull(0, 0) else g.timestamp.add(row.getLong(7), 0, 1)
      if (row.isNullAt(8)) g.uid.addNull(0, 0) else g.uid.add(row.getInt(8), 0, 1)
      if (row.isNullAt(9)) g.user.addNull(0, 0) else g.user.add(row.getUTF8String(9).getBytes, 0, 1)
      if (row.isNullAt(10)) g.version.addNull(0, 0) else g.version.add(row.getInt(10), 0, 1)
      if (row.isNullAt(11)) g.visible.addNull(0, 0) else g.visible.add(row.getBoolean(11), 0, 1)

      // ColumnWriteStoreBase.endRecord, then the row-group check, in the
      // order the row-by-row writer ran them
      rowsInGroup += 1
      if (rowsInGroup >= nextPageCheck) { drain(); pageSizeCheck() }
      if (rowsInGroup >= nextSizeCheck) { drain(); checkRowGroupSize() }
    } catch {
      case t: Throwable => failed = true; throw t
    }

    private def drain(): Unit = {
      val all = leaves.all
      var i = 0
      while (i < all.length) { all(i).drain(); i += 1 }
    }

    private def bufferedSize: Long = {
      val all = leaves.all
      var sz = 0L
      var i = 0
      while (i < all.length) { sz += all(i).totalBufferedSize; i += 1 }
      sz
    }

    /** `ColumnWriteStoreBase.sizeCheck`: cut a leaf's page when it is
      * within 10% of the page size or holds the row/value limit, then
      * schedule the next check from the fullest leaf's fill rate. */
    private def pageSizeCheck(): Unit = {
      var minRowsToWait = Long.MaxValue
      var nextRowCountCheck = rowsInGroup + pageRowLimit
      val all = leaves.all
      var i = 0
      while (i < all.length) {
        val l = all(i)
        val used = l.currentPageBufferedSize
        val rows = rowsInGroup - l.rowsWrittenSoFar
        var remaining = pageSize - used
        if (remaining <= pageTolerance || rows >= pageRowLimit || l.getValueCount >= pageValueLimit) {
          l.writePage()
          remaining = pageSize
        } else nextRowCountCheck = math.min(nextRowCountCheck, l.rowsWrittenSoFar + pageRowLimit)
        val rowsToFill = if (used == 0) maxPageCheck.toLong else rows * remaining / used
        if (rowsToFill < minRowsToWait) minRowsToWait = rowsToFill
        i += 1
      }
      if (minRowsToWait == Long.MaxValue) minRowsToWait = minPageCheck
      nextPageCheck =
        if (WriterProps.estimateNextSizeCheck)
          rowsInGroup + math.min(math.max(minRowsToWait / 2, minPageCheck.toLong), maxPageCheck.toLong)
        else rowsInGroup + minPageCheck
      if (nextPageCheck > nextRowCountCheck) nextPageCheck = nextRowCountCheck
    }

    /** InternalParquetRecordWriter's row-group sizing, inlined: check the
      * buffered size on a cadence predicted from the measured bytes/row,
      * so the walk over column buffers amortizes. */
    private def checkRowGroupSize(): Unit = {
      val sz = bufferedSize
      if (sz >= rowGroupBytes || rowGroupRows.exists(rowsInGroup >= _)) flushRowGroup(reinit = true)
      else {
        val perRow = math.max(1L, sz / math.max(rowsInGroup, 1L))
        val half = (rowGroupBytes - sz) / perRow / 2
        nextSizeCheck = rowsInGroup + math.min(math.max(half, 100L), 10000L)
        rowGroupRows.foreach(cap => nextSizeCheck = math.min(nextSizeCheck, cap.toLong))
      }
    }

    /** `ColumnWriteStoreBase.flush` between `startBlock` and `endBlock`:
      * each leaf's last page, then its dictionary page. */
    private def flushRowGroup(reinit: Boolean): Unit = if (rowsInGroup > 0) {
      drain()
      fw.startBlock(rowsInGroup)
      leaves.all.foreach { l =>
        if (rowsInGroup - l.rowsWrittenSoFar > 0) l.writePage()
        l.finalizeChunk()
      }
      pageStore.flushToFileWriter(fw)
      fw.endBlock()
      closeLeaves()
      if (reinit) newRowGroup() else rowsInGroup = 0L
    }

    // the final flush (close()) must not build a new row group just to
    // discard it — rotation closes a writer thousands of times per
    // transcode; nulling the closed leaves keeps close() from closing them
    // a SECOND time
    private def closeLeaves(): Unit = {
      leaves.all.foreach(_.close())
      leaves = null
    }

    /** Flushed bytes + buffered estimate — the rotation feedback signal
      * (same contract as `ParquetWriter.getDataSize`). */
    def getDataSize: Long = { drain(); fw.getPos + bufferedSize }

    def close(): Unit = {
      // release the codec's pooled/direct buffers even when the final
      // flush fails (disk full mid-close) — the replaced ParquetWriter
      // did this in a finally; a long-lived executor retrying tasks
      // would otherwise accumulate leaked compressor memory. fw.end runs
      // on EVERY path too: after a failed flush the file is torn either
      // way (staging reclaims it), but a never-closed output stream is a
      // leak that outlives the task — first error wins, later ones ride
      // as suppressed.
      var primary: Throwable = null
      def attempt(body: => Unit): Unit =
        try body
        catch { case t: Throwable =>
          if (primary == null) primary = t else primary.addSuppressed(t)
        }
      attempt {
        if (!failed) flushRowGroup(reinit = false) // closes the leaves iff it flushed rows
        if (leaves != null) closeLeaves() // empty final group, or a failed write
      }
      attempt(codecFactory.release())
      attempt(fw.end(java.util.Collections.emptyMap[String, String]()))
      if (primary != null) throw primary
    }
  }

  /** Task-owned writer for one element type: writes into
    * `outputDir/type=<t>/`, rotating files when the in-progress file
    * reaches `fileTargetBytes` (measured from the writer's actual buffered
    * + flushed size — the reference's own feedback loop, sink.rs:82-105)
    * or `maxRecords`. */
  final class RotatingWriter(
      typeDir: Path,
      conf: Configuration,
      codec: CompressionCodecName,
      taskTag: String,
      fileTargetBytes: Long,
      maxRecords: Long,
      rowGroupBytes: Long,
      rowGroupRows: Option[Int]) {

    /** Int-tag convenience for single-attempt callers (tools, specs). */
    def this(typeDir: Path, conf: Configuration, codec: CompressionCodecName,
             taskId: Int, fileTargetBytes: Long, maxRecords: Long,
             rowGroupBytes: Long, rowGroupRows: Option[Int]) =
      this(typeDir, conf, codec, f"$taskId%05d", fileTargetBytes, maxRecords,
        rowGroupBytes, rowGroupRows)

    private var writer: ColumnarWriter = _
    private var fileSeq = 0
    private var recordsInFile = 0L
    private var _total = 0L
    private val names = Seq.newBuilder[String]
    private val ext = if (codec == CompressionCodecName.UNCOMPRESSED) "" else s".${codec.name.toLowerCase}"

    def total: Long = _total

    /** File names this writer produced (the task-commit manifest: the
      * transcode's job commit keeps exactly the winning attempts' files). */
    def fileNames: Seq[String] = names.result()

    /** The `type=<t>` dir name this writer targets. */
    def typeName: String = typeDir.getName

    private def openNext(): Unit = {
      val name = f"part-$taskTag-$fileSeq%04d$ext.parquet"
      names += name
      writer = new ColumnarWriter(new Path(typeDir, name), conf, codec,
        rowGroupBytes, rowGroupRows)
      fileSeq += 1
      recordsInFile = 0L
    }

    def write(row: InternalRow): Unit = {
      if (writer == null) openNext()
      writer.write(row)
      recordsInFile += 1
      _total += 1
      // getDataSize walks column buffers — sample it, don't call per row
      if (recordsInFile >= maxRecords ||
          ((recordsInFile & 0x3ff) == 0 && writer.getDataSize >= fileTargetBytes)) {
        writer.close()
        writer = null
      }
    }

    def close(): Unit = if (writer != null) { writer.close(); writer = null }
  }
}

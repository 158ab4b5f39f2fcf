package graft.sources.pbf

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.bytes.{BytesInput, BytesUtils, HeapByteBufferAllocator}
import org.apache.parquet.column.page.{DictionaryPage, PageWriter}
import org.apache.parquet.column.statistics.geospatial.GeospatialStatistics
import org.apache.parquet.column.statistics.{SizeStatistics, Statistics}
import org.apache.parquet.column.values.ValuesWriter
import org.apache.parquet.column.values.bitpacking.{BytePacker, Packer}
import org.apache.parquet.column.values.factory.{DefaultValuesWriterFactory, ValuesWriterFactory}
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
import org.apache.spark.unsafe.types.UTF8String

import scala.annotation.nowarn

/** Direct parquet-mr write path for the transcode sink.
  *
  * The reference hands decoded element batches to columnar Arrow builders
  * and encodes each column in one pass (osm-pbf-parquet/src/sink.rs:29-44,
  * 134-153). This is the Spark-side equivalent, in two steps:
  *
  *  1. Buffer. `ColumnarWriter` is a [[ColumnSink]]: the decoder appends
  *     each element's fields straight into the 15 leaf columns of the
  *     fixed OSM schema, with hand-derived repetition/definition levels,
  *     and no row object in between. Each leaf keeps its (rep, def) levels
  *     and its non-null values in primitive arrays; no encoder runs per
  *     element. Spark's DataFrame writer (UnsafeRow conversion, the round-1
  *     ~4x writer floor) and parquet-mr's `MessageColumnIO` record assembly
  *     are both bypassed. `RotatingWriter.write(row)` feeds a Catalyst row
  *     through the same appends.
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
  * as its oracle). The encoders are this file's own kernels, writing the
  * same bytes as the stock writers they replace; only BOOLEAN values and
  * the max-level-0 (no-op) level writers are parquet-mr's. Through one
  * [[ValuesWriterFactory]]: a little-endian PLAIN writer into one `byte[]`
  * for the dictionary-off INT64/DOUBLE leaves, and one dictionary → PLAIN
  * writer for the dictionary-on BINARY and INT32 leaves, in place of
  * parquet-mr's `FallbackValuesWriter`. It takes a string it has seen at
  * the same string-table index of the current block, or an int equal to
  * the last, as the last id again, with no lookup, and encodes each page's
  * ids once, run by run. In the leaves: one RLE/bit-packing kernel for the
  * levels (and the dictionary ids) that takes runs of equal values whole,
  * and binary page statistics that fold a string-table string once per
  * page.
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

  /** parquet-mr's V1 values writers, except for kernels that write the
    * same bytes faster: [[LePlainWriter]] for dictionary-off INT64/DOUBLE
    * leaves, and the owned dictionary → PLAIN writers
    * ([[BinaryDictWriter]], [[IntDictWriter]]) for every dictionary-on
    * BINARY and INT32 leaf, in place of parquet-mr's
    * `FallbackValuesWriter` over its dictionary writer. */
  private final class KernelFactory extends ValuesWriterFactory {
    private[this] val stock = new DefaultValuesWriterFactory
    private[this] var props: ParquetProperties = _

    override def initialize(p: ParquetProperties): Unit = { props = p; stock.initialize(p) }

    override def newValuesWriter(d: ColumnDescriptor): ValuesWriter =
      d.getPrimitiveType.getPrimitiveTypeName match {
        case INT64 | DOUBLE if !props.isDictionaryEnabled(d) =>
          new LePlainWriter(props.getInitialSlabSize)
        case BINARY if props.isDictionaryEnabled(d) =>
          new BinaryDictWriter(props.getDictionaryPageSizeThreshold, props.getInitialSlabSize)
        case INT32 if props.isDictionaryEnabled(d) =>
          new IntDictWriter(props.getDictionaryPageSizeThreshold, props.getInitialSlabSize)
        case _ => stock.newValuesWriter(d)
      }
  }

  /** PLAIN values, little-endian into one growable `byte[]`: the bytes
    * `PlainValuesWriter` produces through its `LittleEndianDataOutputStream`
    * (doubles via `doubleToLongBits`, a binary as its 4-byte length and
    * its bytes). The buffer is reused across pages; the page store copies
    * each page's bytes before [[reset]]. */
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

    override def writeInteger(v: Int): Unit = { reserve(4); le.putInt(pos, v); pos += 4 }
    override def writeLong(v: Long): Unit = { reserve(8); le.putLong(pos, v); pos += 8 }
    override def writeDouble(v: Double): Unit = writeLong(java.lang.Double.doubleToLongBits(v))

    def writeBinary(b: Array[Byte]): Unit = {
      reserve(4L + b.length)
      le.putInt(pos, b.length)
      System.arraycopy(b, 0, buf, pos + 4, b.length)
      pos += 4 + b.length
    }

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

  /** One dictionary-on leaf's values: dictionary-encoded until the
    * dictionary passes its byte threshold, PLAIN for the rest of the row
    * group after that. It writes the bytes of parquet-mr's
    * `FallbackValuesWriter` over a `DictionaryValuesWriter` (with a
    * `PlainValuesWriter` to fall back to), and keeps its contract:
    *   - [[getBufferedSize]] is the raw PLAIN size of the page's values
    *     (4 bytes per INT32, length + 4 per binary), dictionary-encoded or
    *     not, since page cuts are made from it;
    *   - the first page falls back when its encoded ids plus the
    *     dictionary are not smaller than its raw size;
    *   - a new dictionary entry that takes the dictionary past its byte
    *     threshold (or past `Int.MaxValue - 1` entries) falls back, and
    *     the page's ids so far are rewritten as PLAIN values;
    *   - the dictionary page holds the entries the last dictionary page
    *     used, and is written only if some page was dictionary-encoded;
    *   - [[resetDictionary]] restores a fresh writer's state.
    * Its own parts: the page's ids are one `int[]`, encoded at the page
    * cut, once, by the run-aware [[HybridWriter]]; the dictionary is an
    * open-addressing table of ids over the entries in id order. The fall-
    * back check runs only when an entry is added, the one event that can
    * change its answer. Subclasses own the entries and the typed write,
    * with a memo in front of the table. */
  @nowarn("cat=deprecation") // PLAIN_DICTIONARY: the V1 dictionary encoding parquet-mr writes
  private abstract class DictWriter(maxDictionaryBytes: Int, initialSlabBytes: Int) extends ValuesWriter {
    protected[this] final val plain = new LePlainWriter(initialSlabBytes)
    private[this] var ids = new Array[Int](256) // the page's dictionary ids
    private[this] var nIds = 0
    private[this] val idCodes = new HybridWriter(0, lengthPrefix = false)
    protected[this] final var raw = 0L // the page's values as PLAIN bytes
    protected[this] final var fellBack = false
    private[this] var firstPage = true
    private[this] var dictUsed = false // some page was dictionary-encoded
    protected[this] final var dictBytes = 0L // the entries as PLAIN bytes
    protected[this] final var dictSize = 0
    private[this] var lastUsedSize = 0 // the dictionary at the last encoded page
    private[this] var lastUsedBytes = 0

    // the table: dictionary id + 1 per slot, 0 = empty; Fibonacci
    // hashing picks the first slot, linear probing the rest
    protected[this] final var table = new Array[Int](512)
    protected[this] final var mask = 511
    private[this] var shift = 32 - 9

    @inline protected[this] final def slot(h: Int): Int = (h * 0x9e3779b9) >>> shift

    /** Stores id `dictSize` in the empty slot `s`: the entry is in place
      * and takes `entryBytes` as a PLAIN value. Grows the table at half
      * load. */
    protected[this] final def insert(s: Int, entryBytes: Long): Unit = {
      table(s) = dictSize + 1
      dictSize += 1
      dictBytes += entryBytes
      if (dictSize * 2 > mask) {
        table = new Array[Int](table.length * 2)
        mask = table.length - 1
        shift -= 1
        var id = 0
        while (id < dictSize) {
          var i = slot(hashOf(id))
          while (table(i) != 0) i = (i + 1) & mask
          table(i) = id + 1
          id += 1
        }
      }
    }

    protected[this] def hashOf(id: Int): Int
    /** Writes entry `id` as a PLAIN value to `w`. */
    protected[this] def writeEntry(w: LePlainWriter, id: Int): Unit
    /** Drops the entries and every memo of an id. */
    protected[this] def clearEntries(): Unit

    /** Appends one dictionary id to the page. */
    @inline protected[this] final def appendId(id: Int): Unit = {
      if (nIds == ids.length) ids = java.util.Arrays.copyOf(ids, nIds * 2)
      ids(nIds) = id
      nIds += 1
    }

    /** An entry was just added (its id already appended): fall back if
      * the dictionary is now too big. */
    protected[this] final def added(): Unit =
      if (dictBytes > maxDictionaryBytes || dictSize > Int.MaxValue - 1) fallBack()

    private def fallBack(): Unit = {
      fellBack = true
      var i = 0
      while (i < nIds) { writeEntry(plain, ids(i)); i += 1 }
      nIds = 0
      // no page used the dictionary: it is dropped, as parquet-mr drops it
      if (lastUsedSize == 0) clearDictionary()
    }

    private def clearDictionary(): Unit = {
      clearEntries()
      java.util.Arrays.fill(table, 0)
      dictSize = 0
      dictBytes = 0
    }

    /** The page's ids: the id width in one byte, then the RLE/bit-packed
      * ids. Records the dictionary this page used. */
    private def encodeIds(): BytesInput = {
      val width = BytesUtils.getWidthFromMaxInt(dictSize - 1)
      idCodes.reset(width)
      var i = 0
      while (i < nIds) {
        val v = ids(i)
        var j = i + 1
        while (j < nIds && ids(j) == v) j += 1
        idCodes.writeRun(v, j - i)
        i = j
      }
      lastUsedSize = dictSize
      lastUsedBytes = Math.toIntExact(dictBytes)
      BytesInput.concat(BytesInput.from(Array(width.toByte)), idCodes.getBytes)
    }

    override def getBufferedSize: Long = raw

    override def getBytes: BytesInput = {
      if (!fellBack) {
        val bytes = encodeIds()
        if (!firstPage || bytes.size + dictBytes < raw) return bytes
        fallBack()
      }
      plain.getBytes
    }

    override def getEncoding: Encoding =
      if (fellBack) Encoding.PLAIN else { dictUsed = true; Encoding.PLAIN_DICTIONARY }

    override def reset(): Unit = {
      raw = 0
      firstPage = false
      nIds = 0
      plain.reset()
    }

    override def toDictPageAndClose: DictionaryPage =
      if (!dictUsed || lastUsedSize == 0) null
      else {
        val w = new LePlainWriter(lastUsedBytes)
        var id = 0
        while (id < lastUsedSize) { writeEntry(w, id); id += 1 }
        new DictionaryPage(w.getBytes, lastUsedSize, Encoding.PLAIN_DICTIONARY)
      }

    override def resetDictionary(): Unit = {
      reset()
      clearDictionary()
      fellBack = false; firstPage = true; dictUsed = false
      lastUsedSize = 0; lastUsedBytes = 0
    }

    override def close(): Unit = { plain.close(); ids = Array.emptyIntArray; nIds = 0 }
    override def getAllocatedSize: Long = plain.getAllocatedSize + 4L * ids.length + dictBytes
    override def memUsageString(prefix: String): String =
      s"$prefix dictionary → PLAIN: $dictSize entries, $dictBytes bytes, fell back $fellBack"
  }

  /** The owned dictionary → PLAIN writer of a BINARY leaf. Entries are
    * the appended byte arrays themselves (the leaf's strings are not
    * mutated after they are appended). A memo of dictionary ids keyed on
    * the string-table index of the current block sits in front of the
    * table: the leaf passes each value's index (-1: not a table string),
    * and a later sight of an index in the same block appends its id with
    * no hash, no lookup and no fallback check, since it adds no entry. */
  private final class BinaryDictWriter(maxDictionaryBytes: Int, initialSlabBytes: Int)
      extends DictWriter(maxDictionaryBytes, initialSlabBytes) {
    private[this] var entries = new Array[Array[Byte]](256)
    private[this] var hashes = new Array[Int](256)
    private[this] var memo = new Array[Int](256) // dictionary id + 1 per index; 0 = unseen
    private[this] var memoUsed = 0 // indices below this may be set

    def write(b: Array[Byte], sid: Int): Unit = {
      raw += b.length + 4
      if (fellBack) plain.writeBinary(b)
      else if (sid >= 0 && sid < memoUsed && memo(sid) != 0) appendId(memo(sid) - 1)
      else {
        val h = java.util.Arrays.hashCode(b)
        var s = slot(h)
        var e = table(s)
        while (e != 0 && !(hashes(e - 1) == h && java.util.Arrays.equals(entries(e - 1), b))) {
          s = (s + 1) & mask; e = table(s)
        }
        val known = e - 1
        val id = if (known >= 0) known else dictSize
        appendId(id)
        if (sid >= 0) {
          if (sid >= memo.length) memo = java.util.Arrays.copyOf(memo, math.max(sid + 1, memo.length * 2))
          memo(sid) = id + 1
          if (sid >= memoUsed) memoUsed = sid + 1
        }
        if (known < 0) {
          if (id == entries.length) {
            entries = java.util.Arrays.copyOf(entries, id * 2); hashes = java.util.Arrays.copyOf(hashes, id * 2)
          }
          entries(id) = b
          hashes(id) = h
          insert(s, 4L + b.length)
          added()
        }
      }
    }

    /** A new block begins: its string-table indices name other strings. */
    def forget(): Unit = { java.util.Arrays.fill(memo, 0, memoUsed, 0); memoUsed = 0 }

    protected[this] def hashOf(id: Int): Int = hashes(id)
    protected[this] def writeEntry(w: LePlainWriter, id: Int): Unit = w.writeBinary(entries(id))
    protected[this] def clearEntries(): Unit = {
      entries = new Array[Array[Byte]](256); hashes = new Array[Int](256); forget()
    }
  }

  /** The owned dictionary → PLAIN writer of an INT32 leaf (uid, version).
    * Those values come in runs (an editor's elements, one version), so a
    * repeat of the last value appends the last id without a lookup. */
  private final class IntDictWriter(maxDictionaryBytes: Int, initialSlabBytes: Int)
      extends DictWriter(maxDictionaryBytes, initialSlabBytes) {
    private[this] var entries = new Array[Int](256)
    private[this] var lastValue = 0
    private[this] var lastId = -1 // -1: no last value

    override def writeInteger(v: Int): Unit = {
      raw += 4
      if (fellBack) plain.writeInteger(v)
      else if (v == lastValue && lastId >= 0) appendId(lastId)
      else {
        var s = slot(v)
        var e = table(s)
        while (e != 0 && entries(e - 1) != v) { s = (s + 1) & mask; e = table(s) }
        val known = e - 1
        val id = if (known >= 0) known else dictSize
        appendId(id)
        lastValue = v
        lastId = id
        if (known < 0) {
          if (id == entries.length) entries = java.util.Arrays.copyOf(entries, id * 2)
          entries(id) = v
          insert(s, 4L)
          added()
        }
      }
    }

    protected[this] def hashOf(id: Int): Int = entries(id)
    protected[this] def writeEntry(w: LePlainWriter, id: Int): Unit = w.writeInteger(entries(id))
    protected[this] def clearEntries(): Unit = lastId = -1
  }

  /** parquet-mr's RLE/bit-packing hybrid (`RunLengthBitPackingHybridEncoder`)
    * for widths 0 to 32, with the encoder's state machine replayed value
    * for value. Levels use it with the 4-byte length prefix of V1 data
    * pages, as `RunLengthBitPackingHybridValuesWriter` writes them;
    * dictionary ids without, at the width their page sets. [[writeRun]]
    * takes a run of one value and, once the encoder is inside an RLE run,
    * adds the rest of the run in one step, where the stock encoder takes
    * one call per value. */
  private final class HybridWriter(initialWidth: Int, lengthPrefix: Boolean) extends ValuesWriter {
    private[this] var bitWidth = 0
    private[this] var valueBytes = 0 // bytes of an RLE run's value
    private[this] var packer: BytePacker = _
    private[this] val buffered = new Array[Int](8)
    private[this] var out = new Array[Byte](256)
    private[this] var size = 0
    private[this] var previous = 0
    private[this] var numBuffered = 0
    private[this] var repeatCount = 0
    private[this] var bitPackedGroups = 0
    private[this] var bitPackedHeader = -1
    private[this] var finished = false
    reset(initialWidth)

    /** Empties the encoder and sets the width of the next values. */
    def reset(width: Int): Unit = {
      require(width >= 0 && width <= 32, s"bit width $width")
      bitWidth = width
      valueBytes = (width + 7) / 8
      packer = Packer.LITTLE_ENDIAN.newBytePacker(width)
      reset()
    }

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
      if (size + bitWidth > out.length) out = java.util.Arrays.copyOf(out, math.max(out.length * 2, size + bitWidth))
      packer.pack8Values(buffered, 0, out, size) // 8 values of bitWidth bits: bitWidth bytes
      size += bitWidth
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
      var h = repeatCount << 1 // unsigned varint header, then the value, little-endian
      while ((h & ~0x7f) != 0) { put((h & 0x7f) | 0x80); h >>>= 7 }
      put(h)
      var i = 0
      while (i < valueBytes) { put(previous >>> (8 * i)); i += 1 }
      repeatCount = 0
      numBuffered = 0
    }

    override def getBytes: BytesInput = {
      if (finished) throw new ParquetEncodingException("RLE bytes taken twice without reset")
      if (repeatCount >= 8) writeRleRun()
      else if (numBuffered > 0) {
        java.util.Arrays.fill(buffered, numBuffered, 8, 0)
        writeOrAppendBitPackedRun()
        endPreviousBitPackedRun()
      } else endPreviousBitPackedRun()
      finished = true
      if (lengthPrefix) BytesInput.concat(BytesInput.fromInt(size), BytesInput.from(out, 0, size))
      else BytesInput.from(out, 0, size)
    }

    override def getBufferedSize: Long = size
    override def getEncoding: Encoding = Encoding.RLE

    override def reset(): Unit = {
      size = 0; previous = 0; numBuffered = 0; repeatCount = 0
      bitPackedGroups = 0; bitPackedHeader = -1; finished = false
    }

    override def close(): Unit = { reset(); out = Array.emptyByteArray }
    override def getAllocatedSize: Long = out.length
    override def memUsageString(prefix: String): String = s"$prefix RLE $size/${out.length} bytes"
  }

  /** A repetition or definition level writer: RLE/bit-packed levels
    * with the 4-byte length prefix of V1 data pages. */
  private def levelWriter(maxLevel: Int): HybridWriter =
    new HybridWriter(BytesUtils.getWidthFromMaxInt(maxLevel), lengthPrefix = true)

  /** One leaf column of the current row group: the levels and non-null
    * values buffered since the last drain, and the encoder state that
    * parquet-mr's `ColumnWriterBase` keeps (level and values writers, page
    * statistics, page value and row counts). Levels are buffered as runs
    * of one (rep, def) pair, so a leaf that is null or flat for a stretch
    * of rows costs a compare and an increment per row. */
  private abstract class Leaf(desc: ColumnDescriptor, pages: PageWriter, emptyDef: Int = 0) {
    private[this] val ptype = desc.getPrimitiveType
    private[this] val maxRep = desc.getMaxRepetitionLevel
    private[this] val maxDef = desc.getMaxDefinitionLevel
    // max level 0: parquet-mr's no-op writer, and nothing to replay
    private[this] val rle = if (maxRep > 0) levelWriter(maxRep) else null
    private[this] val dle = if (maxDef > 0) levelWriter(maxDef) else null
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

    /** Whether the open element has appended to this leaf, and the def
      * level it gets if it ends without: 0 (null), or 1 for a map or list
      * that is present but empty (see [[ColumnarWriter]]). */
    var touched = false
    var absentDef = emptyDef

    final def addNull(r: Int, d: Int): Unit = level(r, d)

    @inline protected[this] final def level(r: Int, d: Int): Unit = {
      touched = true
      val code = (r << 2) | d
      if (code == lastCode) lastLen += 1
      else {
        if (lastLen > 0) closeRun()
        lastCode = code
        lastLen = 1
      }
    }

    final def endElement(): Unit = {
      if (!touched) level(0, absentDef)
      touched = false
      absentDef = emptyDef
    }

    /** A new block begins: string-table indices change meaning. */
    def newBlock(): Unit = ()

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

  /** String leaf. Values are UTF8String byte arrays, held by reference
    * until the drain (`getBytes` returns a string-table entry's own array
    * and copies any other, sliced, string), each with its string-table
    * index for the dictionary memo. A string-table string is folded into
    * the page statistics once per page: `folded` holds, per index, the
    * epoch of its last fold, and the epoch moves on at every page cut and
    * every block, when the page's statistics start over or the indices
    * name other strings. */
  private final class BinaryLeaf(desc: ColumnDescriptor, pages: PageWriter, emptyDef: Int = 0)
      extends Leaf(desc, pages, emptyDef) {
    private[this] var vals = new Array[Array[Byte]](256)
    private[this] var sids = new Array[Int](256)
    private[this] val dict = data match { case w: BinaryDictWriter => w; case _ => null }
    private[this] var folded = new Array[Int](256)
    private[this] var epoch = 1

    def add(v: UTF8String, sid: Int, r: Int, d: Int): Unit = {
      level(r, d)
      if (nv == vals.length) {
        vals = java.util.Arrays.copyOf(vals, nv * 2); sids = java.util.Arrays.copyOf(sids, nv * 2)
      }
      vals(nv) = v.getBytes
      sids(nv) = sid
      nv += 1
    }

    override def newBlock(): Unit = { if (dict ne null) dict.forget(); epoch += 1 }

    override def writePage(): Unit = { super.writePage(); epoch += 1 }

    protected[this] def drainValues(count: Int): Unit = {
      var i = 0
      while (i < count) {
        val b = vals(i)
        val s = sids(i)
        if (dict ne null) dict.write(b, s) else data.writeBytes(Binary.fromConstantByteArray(b))
        if (s < 0) stats.updateStats(Binary.fromConstantByteArray(b))
        else {
          if (s >= folded.length) folded = java.util.Arrays.copyOf(folded, math.max(s + 1, folded.length * 2))
          if (folded(s) != epoch) { stats.updateStats(Binary.fromConstantByteArray(b)); folded(s) = epoch }
        }
        vals(i) = null
        i += 1
      }
    }
  }

  /** One parquet file, written through its [[ColumnSink]] appends: each
    * append goes to its leaf columns of [[MessageSchema]], and `end` adds
    * the levels of every field the element left null. The buffers drain
    * into the encoders at every size check (see the object
    * header). Strings are held by reference until the next drain, so
    * their byte arrays must not be mutated after they are appended.
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
      rowGroupRows: Option[Int]) extends ColumnSink {

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
      val tagKey = new BinaryLeaf(descriptors.get(1), page(1), emptyDef = 1)
      val tagValue = new BinaryLeaf(descriptors.get(2), page(2), emptyDef = 1)
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

    /** A new block begins: drain, then forget the string-index memo. */
    def block(): Unit = { failed = true; drain(); leaves.all.foreach(_.newBlock()); failed = false }

    // an element begun and not ended marks the writer failed: its
    // encoders are then in an unknown state, and close() ends the file
    // without flushing them
    override def id(v: Long): Unit = { failed = true; leaves.id.add(v, 0, 0) }
    override def tag(keySid: Int, key: UTF8String, valueSid: Int, value: UTF8String): Unit = {
      val g = leaves
      val r = if (g.tagKey.touched) 1 else 0
      g.tagKey.add(key, keySid, r, 2)
      if (value == null) g.tagValue.addNull(r, 2) else g.tagValue.add(value, valueSid, r, 3)
    }
    override def noTags(): Unit = { leaves.tagKey.absentDef = 0; leaves.tagValue.absentDef = 0 }
    override def lat(v: Double): Unit = leaves.lat.add(v, 0, 1)
    override def lon(v: Double): Unit = leaves.lon.add(v, 0, 1)
    override def refs(refs: Array[Long], n: Int): Unit = {
      if (n == 0) leaves.ndRef.addNull(0, 1)
      var i = 0
      while (i < n) { leaves.ndRef.add(refs(i), if (i == 0) 0 else 1, 2); i += 1 }
    }
    override def members(): Unit = {
      val g = leaves
      g.memberType.absentDef = 1; g.memberRef.absentDef = 1; g.memberRole.absentDef = 1
    }
    override def member(tpe: UTF8String, ref: Long, hasRef: Boolean, roleSid: Int, role: UTF8String): Unit = {
      val g = leaves
      val r = if (g.memberType.touched) 1 else 0
      if (tpe == null) g.memberType.addNull(r, 2) else g.memberType.add(tpe, -1, r, 3)
      if (hasRef) g.memberRef.add(ref, r, 3) else g.memberRef.addNull(r, 2)
      if (role == null) g.memberRole.addNull(r, 2) else g.memberRole.add(role, roleSid, r, 3)
    }
    override def changeset(v: Long): Unit = leaves.changeset.add(v, 0, 1)
    override def timestamp(micros: Long): Unit = leaves.timestamp.add(micros, 0, 1)
    override def uid(v: Int): Unit = leaves.uid.add(v, 0, 1)
    override def user(sid: Int, v: UTF8String): Unit = leaves.user.add(v, sid, 0, 1)
    override def version(v: Int): Unit = leaves.version.add(v, 0, 1)
    override def visible(v: Boolean): Unit = leaves.visible.add(v, 0, 1)

    /** Levels for the fields the element left out, then
      * `ColumnWriteStoreBase.endRecord` and the row-group check, in the
      * order the row-by-row writer ran them. */
    override def end(): Unit = {
      val all = leaves.all
      var i = 0
      while (i < all.length) { all(i).endElement(); i += 1 }
      rowsInGroup += 1
      if (rowsInGroup >= nextPageCheck) { drain(); pageSizeCheck() }
      if (rowsInGroup >= nextSizeCheck) { drain(); checkRowGroupSize() }
      failed = false
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
    * or `maxRecords`. A [[ColumnSink]]: appends go to the open file, and
    * `id` opens the next one after a rotation. */
  final class RotatingWriter(
      typeDir: Path,
      conf: Configuration,
      codec: CompressionCodecName,
      taskTag: String,
      fileTargetBytes: Long,
      maxRecords: Long,
      rowGroupBytes: Long,
      rowGroupRows: Option[Int]) extends ColumnSink {

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

    def write(row: InternalRow): Unit = ColumnSink.appendRow(row, this)

    /** A new block begins (see [[ColumnarWriter.block]]). */
    def block(): Unit = if (writer != null) writer.block()

    override def id(v: Long): Unit = { if (writer == null) openNext(); writer.id(v) }
    override def tag(keySid: Int, key: UTF8String, valueSid: Int, value: UTF8String): Unit =
      writer.tag(keySid, key, valueSid, value)
    override def noTags(): Unit = writer.noTags()
    override def lat(v: Double): Unit = writer.lat(v)
    override def lon(v: Double): Unit = writer.lon(v)
    override def refs(refs: Array[Long], n: Int): Unit = writer.refs(refs, n)
    override def members(): Unit = writer.members()
    override def member(tpe: UTF8String, ref: Long, hasRef: Boolean, roleSid: Int, role: UTF8String): Unit =
      writer.member(tpe, ref, hasRef, roleSid, role)
    override def changeset(v: Long): Unit = writer.changeset(v)
    override def timestamp(micros: Long): Unit = writer.timestamp(micros)
    override def uid(v: Int): Unit = writer.uid(v)
    override def user(sid: Int, v: UTF8String): Unit = writer.user(sid, v)
    override def version(v: Int): Unit = writer.version(v)
    override def visible(v: Boolean): Unit = writer.visible(v)

    override def end(): Unit = {
      writer.end()
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

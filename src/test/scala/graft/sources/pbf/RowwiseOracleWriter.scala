package graft.sources.pbf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.bytes.HeapByteBufferAllocator
import org.apache.parquet.column.impl.ColumnWriteStoreV1
import org.apache.parquet.column.values.factory.DefaultValuesWriterFactory
import org.apache.parquet.column.{ColumnWriter, ParquetProperties}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.hadoop.{CodecFactory, ColumnChunkPageWriteStore, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.catalyst.InternalRow

/** Reference oracle for [[DirectParquet.ColumnarWriter]]: the row-by-row
  * writer the transcode used before its column-batched rewrite. Every
  * value goes straight into parquet-mr's own `ColumnWriteStoreV1`
  * (`ColumnWriterV1` per leaf, stock values writers, stock page cuts),
  * with the same schema, settings, levels and row-group cadence. The
  * production writer must produce the same file bytes for the same rows.
  */
final class RowwiseOracleWriter(path: Path, conf: Configuration,
    codec: CompressionCodecName, rowGroupBytes: Long,
    rowGroupRows: Option[Int]) {

  // its own factory instance: ParquetProperties' default factory is one
  // shared object that every build() re-initializes with its own settings
  private val props: ParquetProperties = DirectParquet.writerPropsBuilder
    .withValuesWriterFactory(new DefaultValuesWriterFactory).build()
  private val schema = DirectParquet.MessageSchema

  private val fw = new ParquetFileWriter(
    HadoopOutputFile.fromPath(path, conf), schema,
    ParquetFileWriter.Mode.OVERWRITE, rowGroupBytes,
    ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
  fw.start()
  private val codecFactory = new CodecFactory(conf, props.getPageSizeThreshold)
  private val compressor = codecFactory.getCompressor(codec)
  private val descriptors = schema.getColumns

  private var pageStore: ColumnChunkPageWriteStore = _
  private var store: ColumnWriteStoreV1 = _
  private var cw: Array[ColumnWriter] = _
  private var rowsInGroup: Long = _
  private var nextSizeCheck: Long = _

  private def newRowGroup(): Unit = {
    pageStore = new ColumnChunkPageWriteStore(compressor, schema,
      HeapByteBufferAllocator.getInstance(), 64, false)
    store = new ColumnWriteStoreV1(schema, pageStore, props)
    cw = new Array[ColumnWriter](descriptors.size())
    var i = 0
    while (i < cw.length) { cw(i) = store.getColumnWriter(descriptors.get(i)); i += 1 }
    rowsInGroup = 0L
    nextSizeCheck = rowGroupRows.fold(100L)(c => math.min(100L, c.toLong))
  }
  newRowGroup()

  @inline private def bin(s: org.apache.spark.unsafe.types.UTF8String): Binary =
    Binary.fromReusedByteArray(s.getBytes)

  def write(row: InternalRow): Unit = {
    cw(0).write(row.getLong(0), 0, 0) // id

    if (row.isNullAt(1)) { cw(1).writeNull(0, 0); cw(2).writeNull(0, 0) }
    else {
      val m = row.getMap(1)
      val n = m.numElements()
      if (n == 0) { cw(1).writeNull(0, 1); cw(2).writeNull(0, 1) }
      else {
        val keys = m.keyArray(); val vals = m.valueArray()
        var i = 0
        while (i < n) {
          val r = if (i == 0) 0 else 1
          cw(1).write(bin(keys.getUTF8String(i)), r, 2)
          if (vals.isNullAt(i)) cw(2).writeNull(r, 2)
          else cw(2).write(bin(vals.getUTF8String(i)), r, 3)
          i += 1
        }
      }
    }

    if (row.isNullAt(2)) cw(3).writeNull(0, 0) else cw(3).write(row.getDouble(2), 0, 1) // lat
    if (row.isNullAt(3)) cw(4).writeNull(0, 0) else cw(4).write(row.getDouble(3), 0, 1) // lon

    if (row.isNullAt(4)) cw(5).writeNull(0, 0) // nds
    else {
      val a = row.getArray(4)
      val n = a.numElements()
      if (n == 0) cw(5).writeNull(0, 1)
      else {
        var i = 0
        while (i < n) {
          cw(5).write(a.getStruct(i, 1).getLong(0), if (i == 0) 0 else 1, 2)
          i += 1
        }
      }
    }

    if (row.isNullAt(5)) { // members
      cw(6).writeNull(0, 0); cw(7).writeNull(0, 0); cw(8).writeNull(0, 0)
    } else {
      val a = row.getArray(5)
      val n = a.numElements()
      if (n == 0) { cw(6).writeNull(0, 1); cw(7).writeNull(0, 1); cw(8).writeNull(0, 1) }
      else {
        var i = 0
        while (i < n) {
          val s = a.getStruct(i, 3)
          val r = if (i == 0) 0 else 1
          if (s.isNullAt(0)) cw(6).writeNull(r, 2) else cw(6).write(bin(s.getUTF8String(0)), r, 3)
          if (s.isNullAt(1)) cw(7).writeNull(r, 2) else cw(7).write(s.getLong(1), r, 3)
          if (s.isNullAt(2)) cw(8).writeNull(r, 2) else cw(8).write(bin(s.getUTF8String(2)), r, 3)
          i += 1
        }
      }
    }

    if (row.isNullAt(6)) cw(9).writeNull(0, 0) else cw(9).write(row.getLong(6), 0, 1)   // changeset
    if (row.isNullAt(7)) cw(10).writeNull(0, 0) else cw(10).write(row.getLong(7), 0, 1) // timestamp
    if (row.isNullAt(8)) cw(11).writeNull(0, 0) else cw(11).write(row.getInt(8), 0, 1)  // uid
    if (row.isNullAt(9)) cw(12).writeNull(0, 0) else cw(12).write(bin(row.getUTF8String(9)), 0, 1) // user
    if (row.isNullAt(10)) cw(13).writeNull(0, 0) else cw(13).write(row.getInt(10), 0, 1) // version
    if (row.isNullAt(11)) cw(14).writeNull(0, 0) else cw(14).write(row.getBoolean(11), 0, 1) // visible

    store.endRecord()
    rowsInGroup += 1
    if (rowsInGroup >= nextSizeCheck) checkRowGroupSize()
  }

  private def checkRowGroupSize(): Unit = {
    val sz = store.getBufferedSize
    if (sz >= rowGroupBytes || rowGroupRows.exists(rowsInGroup >= _)) flushRowGroup(reinit = true)
    else {
      val perRow = math.max(1L, sz / math.max(rowsInGroup, 1L))
      val half = (rowGroupBytes - sz) / perRow / 2
      nextSizeCheck = rowsInGroup + math.min(math.max(half, 100L), 10000L)
      rowGroupRows.foreach(cap => nextSizeCheck = math.min(nextSizeCheck, cap.toLong))
    }
  }

  private def flushRowGroup(reinit: Boolean): Unit = if (rowsInGroup > 0) {
    fw.startBlock(rowsInGroup)
    store.flush()
    pageStore.flushToFileWriter(fw)
    fw.endBlock()
    store.close()
    if (reinit) newRowGroup() else { rowsInGroup = 0L; store = null }
  }

  /** Flushed bytes + buffered estimate, as the production writer reports. */
  def getDataSize: Long = fw.getPos + store.getBufferedSize

  def close(): Unit = {
    try {
      flushRowGroup(reinit = false)
      if (store != null) store.close()
    } finally {
      codecFactory.release()
      fw.end(java.util.Collections.emptyMap[String, String]())
    }
  }
}

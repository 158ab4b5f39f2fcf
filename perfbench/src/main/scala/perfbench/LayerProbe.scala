package perfbench

import java.io.{File, RandomAccessFile}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import graft.sources.pbf.{Blobs, BlockDecoder, DirectParquet, IndexedPbf, OsmPbf, PbfConfig}

/** Single-thread layer probe over a PBF corpus: read -> `Blobs.decode` ->
  * `BlockDecoder.decodeBlockInternal` -> `DirectParquet.RotatingWriter`,
  * with the transcode's default writer settings. The calls never overlap,
  * so each timer is that layer's self time. Then a cold `IndexedPbf.index`
  * build and one `readWaysAndDeps`, whose scan bytes over the file bytes
  * give the share of the file the indexed path reads.
  */
object LayerProbe {
  def run(spark: SparkSession, corpus: String, seed: Long, elements: Long,
          outDir: String): Map[String, Double] = {
    val t0 = System.nanoTime()
    val spans = OsmPbf.blobSpans(spark, corpus).filter(_.blobType == Blobs.TypeOsmData)
    val enumerateS = Main.secs(t0)

    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.setInt("parquet.compression.codec.zstd.level", PbfConfig(corpus).compression)
    val writers = Seq("node", "way", "relation").map { t =>
      t -> new DirectParquet.RotatingWriter(new Path(s"$outDir/type=$t"), conf,
        CompressionCodecName.ZSTD, 0, 500L << 20, PbfConfig(corpus).maxRecordsPerFile,
        PbfConfig(corpus).rowGroupTargetMb.toLong << 20, None)
    }.toMap
    var inflateNs, decodeNs, writeNs, compressed, inflated, elems = 0L
    val raf = new RandomAccessFile(corpus, "r")
    try spans.foreach { s =>
      val buf = new Array[Byte](s.length)
      raf.seek(s.offset); raf.readFully(buf)
      compressed += s.length
      val a = System.nanoTime()
      val payload = Blobs.decode(buf)
      val b = System.nanoTime()
      val rows = BlockDecoder.decodeBlockInternal(payload, BlockDecoder.FullProjection).toArray
      val c = System.nanoTime()
      rows.foreach(r => writers(r.getUTF8String(12).toString).write(r))
      writeNs += System.nanoTime() - c
      inflateNs += b - a; decodeNs += c - b
      inflated += payload.length; elems += rows.length
    } finally raf.close()
    val c = System.nanoTime()
    writers.values.foreach(_.close())
    writeNs += System.nanoTime() - c
    val files = new File(outDir).listFiles().flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(f => f.getName.endsWith(".parquet"))

    // cold index: a fresh path is never in the index cache
    val copy = s"$outDir/indexed-${System.nanoTime()}.osm.pbf"
    java.nio.file.Files.copy(new File(corpus).toPath, new File(copy).toPath)
    val i0 = System.nanoTime()
    IndexedPbf.index(spark, copy)
    val indexS = Main.secs(i0)
    var readBytes = 0L
    val counter = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        Option(e.taskMetrics).foreach(m => readBytes += m.inputMetrics.bytesRead)
      }
    }
    spark.sparkContext.addSparkListener(counter)
    Main.noop(IndexedPbf.readWaysAndDeps(spark, copy, Workloads.depsPredicateFor(seed, elements)))
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counter)

    Map(
      "blobs.count" -> spans.size.toDouble,
      "blobs.compressed_bytes" -> compressed.toDouble,
      "blobs.inflated_bytes" -> inflated.toDouble,
      "blobs.enumerate_s" -> enumerateS,
      "blobs.inflate_s" -> inflateNs / 1e9,
      "decode.elems" -> elems.toDouble,
      "decode.s" -> decodeNs / 1e9,
      "decode.elems_per_s_1core" -> elems / (decodeNs / 1e9),
      "parquet.write_s" -> writeNs / 1e9,
      "parquet.files" -> files.length.toDouble,
      "parquet.bytes" -> files.map(_.length).sum.toDouble,
      "parquet.bytes_per_elem" -> files.map(_.length).sum.toDouble / elems,
      "indexed.index_s" -> indexS,
      "indexed.read_ratio" -> readBytes.toDouble / new File(copy).length)
  }
}

package graft.sources.pbf

import java.io.FileInputStream
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The column-batched [[DirectParquet.ColumnarWriter]] must write the same
  * file bytes as [[RowwiseOracleWriter]], parquet-mr's row-by-row
  * `ColumnWriteStoreV1` path, for the same rows: same page and row-group
  * cuts, encodings, dictionaries, statistics and indexes. Fixture-free:
  * rows come from [[PbfWriter.synthesize]] corpora decoded the way the
  * transcode decodes them, from the writer fuzz spec's adversarial rows,
  * and from a user column whose dictionary overflows mid-chunk.
  */
class ColumnarWriterIdentitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("columnar-writer-identity-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = dir = Files.createTempDirectory("graft-wident")

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private val conf = new Configuration()

  /** A production and an oracle writer fed the same rows. The production
    * writer is also asked for its size every 1024 rows, as
    * `RotatingWriter` asks, which drains it between size checks. */
  private final class Pair(name: String, codec: CompressionCodecName,
      rowGroupBytes: Long, rowGroupRows: Option[Int]) {
    val newPath = new Path(dir.resolve(s"$name.new.parquet").toString)
    val oraclePath = new Path(dir.resolve(s"$name.oracle.parquet").toString)
    private val w = new DirectParquet.ColumnarWriter(newPath, conf, codec, rowGroupBytes, rowGroupRows)
    private val o = new RowwiseOracleWriter(oraclePath, conf, codec, rowGroupBytes, rowGroupRows)
    private var rows = 0L
    def write(row: InternalRow): Unit = {
      w.write(row)
      o.write(row)
      rows += 1
      if ((rows & 0x3ff) == 0) w.getDataSize
    }
    def close(): Unit = { w.close(); o.close() }
    def assertIdentical(): Unit = {
      val a = Files.readAllBytes(Paths.get(newPath.toString))
      val b = Files.readAllBytes(Paths.get(oraclePath.toString))
      assert(a.length === b.length, s"$name: file sizes differ")
      assert(java.util.Arrays.equals(a, b), s"$name: file bytes differ")
    }
  }

  private def footer(p: Path) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try (r.getFooter, r.getRowGroups.asScala.map(b => b.getColumns.asScala.map(r.readOffsetIndex(_).getPageCount).max).max)
    finally r.close()
  }

  /** Decodes a synthesized corpus exactly as the transcode does (dense
    * rows through one reused row) and routes each type to its own pair. */
  private def transcodeBoth(tag: String, blocks: Int, nodesPerBlock: Int, waysPerBlock: Int,
      relationsPerBlock: Int, codec: CompressionCodecName, rowGroupBytes: Long,
      rowGroupRows: Option[Int]): Map[String, Pair] = {
    val pbf = dir.resolve(s"$tag.osm.pbf").toString
    PbfWriter.synthesize(pbf, blocks, nodesPerBlock, waysPerBlock, relationsPerBlock)
    val in = new FileInputStream(pbf)
    val spans = try Blobs.enumerate(in) finally in.close()
    val bytes = Files.readAllBytes(Paths.get(pbf))
    val pairs = Seq(OsmSchema.TypeNode, OsmSchema.TypeWay, OsmSchema.TypeRelation)
      .map(t => t -> new Pair(s"$tag-$t", codec, rowGroupBytes, rowGroupRows)).toMap
    try spans.filter(_.blobType == Blobs.TypeOsmData).foreach { s =>
      val body = java.util.Arrays.copyOfRange(bytes, s.offset.toInt, s.offset.toInt + s.length)
      BlockDecoder.decodeBlockInternal(Blobs.decode(body), BlockDecoder.FullProjection,
        reuseDense = true).foreach(row => pairs(row.getUTF8String(12).toString).write(row))
    } finally pairs.values.foreach(_.close())
    pairs
  }

  test("synthesized nodes, ways and relations: identical bytes over many pages and row groups") {
    val pairs = transcodeBoth("synth", blocks = 24, nodesPerBlock = 8000, waysPerBlock = 2500,
      relationsPerBlock = 40, CompressionCodecName.ZSTD, rowGroupBytes = 3L << 20,
      rowGroupRows = Some(50000))
    pairs.values.foreach(_.assertIdentical())
    val (nodeFooter, nodePages) = footer(pairs(OsmSchema.TypeNode).newPath)
    assert(nodeFooter.getBlocks.size > 1, "node file should span several row groups")
    assert(nodePages > 1, "node row groups should hold several pages")
    val (wayFooter, wayPages) = footer(pairs(OsmSchema.TypeWay).newPath)
    assert(wayFooter.getBlocks.size > 1 && wayPages > 1)
  }

  test("row-count-capped tiny row groups, uncompressed: identical bytes") {
    val pairs = transcodeBoth("tiny", blocks = 3, nodesPerBlock = 3000, waysPerBlock = 200,
      relationsPerBlock = 30, CompressionCodecName.UNCOMPRESSED, rowGroupBytes = 64L << 20,
      rowGroupRows = Some(7))
    pairs.values.foreach(_.assertIdentical())
    assert(footer(pairs(OsmSchema.TypeRelation).newPath)._1.getBlocks.size === 90 / 7 + 1)
  }

  private def nd(ref: Long): Row = Row(ref)
  private def member(t: String, ref: java.lang.Long, role: String): Row = Row(t, ref, role)
  private def ldt(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)

  private def internal(rows: Seq[Row]): Array[InternalRow] =
    spark.createDataFrame(rows.asJava, OsmSchema.schema).queryExecution.toRdd.collect()

  test("the writer fuzz spec's adversarial rows: identical bytes") {
    val big = "x" * (10 << 20)
    val manyTags = (1 to 5000).map(i => s"k$i" -> s"v$i").toMap
    val hostile = Seq(
      Row(Long.MinValue, null, null, null, null, null,
        null, null, null, null, null, null, "node"),
      Row(Long.MaxValue, Map.empty[String, String], -90.0, -180.0,
        Seq.empty[Row], Seq.empty[Row],
        Long.MinValue, ldt(-62135596800000000L), Int.MinValue, "", Int.MinValue,
        false, "node"),
      Row(1L, Map("" -> "", "nan" -> null), Double.NaN, Double.NegativeInfinity,
        null, null, Long.MaxValue, ldt(253402300799999999L), Int.MaxValue,
        big, Int.MaxValue, true, "node"),
      Row(2L, manyTags, -0.0, java.lang.Double.MIN_VALUE, null, null,
        null, ldt(0L), null, "\u0000\ufffd mixed\n\tctrl", null, true, "node"),
      Row(3L, null, null, null, (1 to 100000).map(i => nd(i.toLong * -7)), null,
        null, null, null, null, null, null, "way"),
      Row(4L, Map("big" -> big), null, null, null,
        Seq(member(null, null, null), member("node", 7L, null),
          member(null, -1L, big), member("way", null, "r")),
        5L, null, 0, null, 0, false, "relation"))
    val rotation = (1 to 997).map { i =>
      Row(i.toLong,
        if (i % 97 == 0) Map("big" -> ("y" * (1 << 20))) else Map("k" -> s"v$i"),
        i * 0.5, -i * 0.25, null, null, i.toLong, null, i, s"user$i", 1, true, "node")
    }
    for ((name, rows, rgRows) <- Seq(("hostile", hostile, Some(1000)), ("rotation", rotation, Some(50)))) {
      val p = new Pair(s"fuzz-$name", CompressionCodecName.ZSTD, 16L << 10, rgRows)
      try internal(rows).foreach(p.write) finally p.close()
      p.assertIdentical()
    }
  }

  test("a user dictionary past 1 MB: one chunk holds dictionary and PLAIN pages, identical bytes") {
    // 5000 recurring 100-byte users fill the first pages dictionary-encoded
    // (~0.5 MB of dictionary); 15000 fresh ones then push the dictionary
    // over the 1 MB threshold, so the rest of the chunk falls back to PLAIN
    def user(i: Int): String = f"u$i%09d" + ("." * 90)
    val rows = (0 until 35000).map { i =>
      Row(i.toLong, null, 1.0, 2.0, null, null, 1L, null, 17,
        if (i < 20000) user(i % 5000) else user(5000 + i), 1, true, "node")
    }
    val p = new Pair("dict-overflow", CompressionCodecName.ZSTD, 256L << 20, None)
    try internal(rows).foreach(p.write) finally p.close()
    p.assertIdentical()
    val (f, _) = footer(p.newPath)
    assert(f.getBlocks.size === 1)
    val userChunk = f.getBlocks.get(0).getColumns.asScala.find(_.getPath.toDotString == "user").get
    val encodings = userChunk.getEncodings.asScala
    assert(encodings.contains(Encoding.PLAIN_DICTIONARY), encodings)
    assert(encodings.contains(Encoding.PLAIN), encodings)
    assert(userChunk.hasDictionaryPage)
    assert(spark.read.parquet(p.newPath.toString).select("user").distinct().count() === 20000L)
  }

  test("the writer's column settings hold whatever else builds ParquetProperties in the JVM") {
    // ParquetProperties' default values-writer factory is one shared
    // object, re-initialized by every build() with that build's settings
    // (here: dictionaries on for every column). A writer that relied on it
    // would dictionary-encode changeset, which the transcode turns off.
    assert(DirectParquet.MessageSchema.getColumns.size === 15) // writer settings built first
    org.apache.parquet.column.ParquetProperties.builder().build()
    val rows = (0 until 5000).map { i =>
      Row(i.toLong, null, 1.0, 2.0, null, null, (i % 7).toLong, null, 17, "u", 1, true, "node")
    }
    val p = new Pair("shared-factory", CompressionCodecName.ZSTD, 64L << 20, None)
    try internal(rows).foreach(p.write) finally p.close()
    p.assertIdentical()
    val (f, _) = footer(p.newPath)
    val encodings = f.getBlocks.get(0).getColumns.asScala
      .find(_.getPath.toDotString == "changeset").get.getEncodings.asScala
    assert(!encodings.contains(Encoding.PLAIN_DICTIONARY), encodings)
  }

  test("an id-range read with parquet filter pushdown equals the read without it") {
    val pairs = transcodeBoth("pushdown", blocks = 12, nodesPerBlock = 8000, waysPerBlock = 100,
      relationsPerBlock = 0, CompressionCodecName.ZSTD, rowGroupBytes = 2L << 20,
      rowGroupRows = Some(40000))
    val nodes = pairs(OsmSchema.TypeNode)
    nodes.assertIdentical()
    val (f, pages) = footer(nodes.newPath)
    assert(f.getBlocks.size > 1 && pages > 1)
    def read(pushdown: Boolean): Seq[Row] = {
      spark.conf.set("spark.sql.parquet.filterPushdown", pushdown.toString)
      try spark.read.parquet(nodes.newPath.toString)
        .filter(col("id").between(31234L, 52345L))
        .orderBy("id").collect().toSeq
      finally spark.conf.unset("spark.sql.parquet.filterPushdown")
    }
    val pushed = read(pushdown = true)
    assert(pushed.size === 52345 - 31234 + 1)
    assert(pushed === read(pushdown = false))
  }
}

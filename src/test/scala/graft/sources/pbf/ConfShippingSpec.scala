package graft.sources.pbf

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The local file system under its own scheme, `pbftest:`. Registered on a
  * running session's Hadoop conf, it exists only for tasks that read that
  * conf as it is now. */
class PbfTestFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("pbftest:///")
  override def getScheme: String = "pbftest"
}

/** How the PBF read and write paths ship the Hadoop conf to their tasks
  * ([[OsmPbf.broadcastConf]]): as a broadcast, so a task closure stays
  * small, and as a snapshot of the session's conf when the read or write
  * starts, so a file system registered after the session started is seen
  * by every task. */
class ConfShippingSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _
  private var path: String = _

  private val Blocks = 24
  private val NodesPerBlock = 4000
  private val WaysPerBlock = 20
  private val RelsPerBlock = 2

  // synthesize's id scheme: nodes 1..N in block order; ways 1e9 + b*W + w;
  // relations 2e9 + b*R + r
  private def idSum(base: Long, n: Long): Long = base * n + n * (n - 1) / 2
  private val counts = Map("node" -> Blocks.toLong * NodesPerBlock,
    "way" -> Blocks.toLong * WaysPerBlock, "relation" -> Blocks.toLong * RelsPerBlock)
  private val expected = Map(
    "node" -> (counts("node"), idSum(1L, counts("node"))),
    "way" -> (counts("way"), idSum(1000000000L, counts("way"))),
    "relation" -> (counts("relation"), idSum(2000000000L, counts("relation"))))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("conf-shipping-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dir = java.nio.file.Files.createTempDirectory("confshipping")
    path = dir.resolve("synth.osm.pbf").toString
    PbfWriter.synthesize(path, Blocks, NodesPerBlock, WaysPerBlock, RelsPerBlock)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (dir != null) org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def countsAndSums(df: DataFrame): Map[String, (Long, Long)] =
    df.groupBy("type").agg(count(lit(1)), sum("id")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("the osmpbf reader factory ships the conf as a broadcast, not inline") {
    val df = spark.read.format("osmpbf").load(path)
    val scans = collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s }
    assert(scans.size === 1)
    // an inline SerializableConfiguration of the session conf is ~110 KB
    val bytes = SparkEnv.get.closureSerializer.newInstance()
      .serialize(scans.head.readerFactory).limit()
    assert(bytes < (16 << 10), s"reader factory serializes to $bytes bytes")
    assert(countsAndSums(df) === expected)
  }

  test("a file system registered after the session started reaches every PBF task") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.pbftest.impl", classOf[PbfTestFs].getName)
    // uncached, so every task resolves the scheme through the conf it was given
    hc.setBoolean("fs.pbftest.impl.disable.cache", true)
    val remote = s"pbftest://$path"

    assert(countsAndSums(spark.read.format("osmpbf").load(remote)) === expected)

    val idx = IndexedPbf.index(spark, remote)
    assert(idx.size === Blocks)
    assert(idx.count(_.ids.hasWays) === Blocks)

    val out = dir.resolve("out").toString
    val written = OsmPbf.transcode(spark, PbfConfig(input = remote, output = out),
      onProgress = _ => ())
    assert(written === counts)
    val read = spark.read.parquet(out).groupBy("type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(read === counts)
  }
}

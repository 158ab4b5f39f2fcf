package graft.sources.pbf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** The scan paths that [[OsmPbf.planSplits]] sizes, end to end over a
  * corpus written by [[PbfWriter.synthesize]]: a file far below the 64MB
  * `splitMb` cap must still fan out to several tasks on `local[4]` and
  * return exactly what the generator's id scheme implies.
  */
class SplitScanSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _
  private var path: String = _

  private val Blocks = 40
  private val NodesPerBlock = 8000
  private val WaysPerBlock = 50
  private val RelsPerBlock = 5

  // synthesize's id scheme: nodes 1..N in block order; ways 1e9 + b*W + w;
  // relations 2e9 + b*R + r
  private def idSum(base: Long, n: Long): Long = base * n + n * (n - 1) / 2
  private val nodeCount = Blocks.toLong * NodesPerBlock
  private val expected = Map(
    "node" -> (nodeCount, idSum(1L, nodeCount)),
    "way" -> (Blocks.toLong * WaysPerBlock, idSum(1000000000L, Blocks.toLong * WaysPerBlock)),
    "relation" -> (Blocks.toLong * RelsPerBlock, idSum(2000000000L, Blocks.toLong * RelsPerBlock)))

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("split-scan-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dir = java.nio.file.Files.createTempDirectory("splitscan")
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

  /** Input partitions of every PBF scan in the plan: DSv2 scans, and the
    * locally checkpointed pass-1 scan of `readWaysAndDeps`. */
  private def scanPartitions(df: DataFrame): Seq[Int] =
    collect(df.queryExecution.executedPlan) {
      case s: BatchScanExec => s.inputPartitions.size
      case r: RDDScanExec => r.rdd.getNumPartitions
    }

  test("the corpus is far below the 64MB cap") {
    val spans = OsmPbf.blobSpans(spark, path).filter(_.blobType == Blobs.TypeOsmData)
    assert(spans.size === Blocks)
    assert(spans.map(OsmPbf.spanWeight).sum < (64L << 20))
  }

  test("full scan fans out and returns every element") {
    val df = spark.read.format("osmpbf").load(path)
    assert(countsAndSums(df) === expected)
    val parts = scanPartitions(df)
    assert(parts.size === 1 && parts.head > 1, parts)
  }

  test("type pushdown scan fans out and returns exactly the ways") {
    val df = spark.read.format("osmpbf").load(path).filter(col("type") === "way")
    assert(countsAndSums(df) === Map("way" -> expected("way")))
    assert(df.queryExecution.executedPlan.toString.contains("types=way"))
    val parts = scanPartitions(df)
    assert(parts.size === 1 && parts.head > 1, parts)
  }

  test("readWaysAndDeps fans out both passes; pruning counts are per blob") {
    // the ways of the first half of the blocks; each block's 50 ways
    // reference its nodes 1..800
    val half = Blocks / 2
    val df = IndexedPbf.readWaysAndDeps(spark, path,
      col("id") < 1000000000L + half.toLong * WaysPerBlock)
    val nodeSum = (0 until half).map(b => idSum(b.toLong * NodesPerBlock + 1, 800)).sum
    assert(countsAndSums(df) === Map(
      "way" -> (half.toLong * WaysPerBlock, idSum(1000000000L, half.toLong * WaysPerBlock)),
      "node" -> (half * 800L, nodeSum)))
    val parts = scanPartitions(df)
    assert(parts.nonEmpty && parts.forall(_ > 1), parts)
    assert(collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s }.nonEmpty)
    // zone-map pruning counts blobs, so how the scans are split cannot move them
    assert(IndexedPbf.lastPrune.get() === Map(
      "way_blobs_scanned" -> Blocks.toLong, "data_blobs_total" -> Blocks.toLong,
      "node_blobs_scanned" -> half.toLong, "node_blobs_total" -> Blocks.toLong))
  }

  test("the zone-map index build fans out") {
    // a fresh copy: the index of `path` is cached by the earlier test
    val copy = dir.resolve("copy.osm.pbf")
    java.nio.file.Files.copy(java.nio.file.Paths.get(path), copy)
    val sc = spark.sparkContext
    sc.setJobGroup("split-scan-index", "index build")
    try assert(IndexedPbf.index(spark, copy.toString).size === Blocks)
    finally sc.clearJobGroup()
    eventually(timeout(Span(10, Seconds))) {
      val stages = sc.statusTracker.getJobIdsForGroup("split-scan-index").toSeq
        .flatMap(sc.statusTracker.getJobInfo(_)).flatMap(_.stageIds)
        .flatMap(sc.statusTracker.getStageInfo(_))
      assert(stages.size === 1 && stages.head.numTasks > 1)
    }
  }

  test("splitMb must be an integer >= 1") {
    Seq("abc", "0", "-1").foreach { v =>
      val e = intercept[IllegalArgumentException](
        spark.read.format("osmpbf").option("splitMb", v).load(path).count())
      assert(e.getMessage.contains("splitMb"), e.getMessage)
    }
    assert(spark.read.format("osmpbf").option("splitMb", "1").load(path)
      .filter(col("type") === "relation").count() === Blocks.toLong * RelsPerBlock)
  }
}

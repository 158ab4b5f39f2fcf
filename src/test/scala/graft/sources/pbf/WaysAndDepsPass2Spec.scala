package graft.sources.pbf

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Pass 2 of [[IndexedPbf.readWaysAndDeps]]: the node blobs to scan are
  * found in one job over the pass-1 ways, each task returning a bitset of
  * node-blob ordinals. Checked against brute force on the driver, over a
  * corpus written by [[PbfWriter.synthesize]]. */
class WaysAndDepsPass2Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _
  private var path: String = _

  private val Blocks = 24
  private val NodesPerBlock = 4000
  private val WaysPerBlock = 20

  // ways 1e9 + b*W + w of blocks 2, 11 and 19; each references 16 nodes
  // of its own block
  private val wayIds = Seq(2, 11, 19).flatMap(b =>
    (0 until WaysPerBlock by 3).map(w => 1000000000L + b * WaysPerBlock + w))
  private val somePredicate = col("id").isin(wayIds: _*)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("ways-and-deps-pass2-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dir = java.nio.file.Files.createTempDirectory("waysanddeps")
    path = dir.resolve("synth.osm.pbf").toString
    PbfWriter.synthesize(path, Blocks, NodesPerBlock, WaysPerBlock, 2)
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (dir != null) org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def countsAndSums(df: DataFrame): Map[String, (Long, Long)] =
    df.groupBy("type").agg(count(lit(1)), sum("id")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** The ways matching `pred` plus the nodes they reference, by a full scan. */
  private def bruteForce(pred: Column): (DataFrame, Seq[Long]) = {
    val all = spark.read.format("osmpbf").load(path)
    val ways = all.filter(col("type") === "way").filter(pred)
    val refs = ways.select(explode(col("nds.ref"))).distinct().collect().map(_.getLong(0)).toSeq
    val nodes = all.filter(col("type") === "node").filter(col("id").isin(refs: _*))
    (ways.unionByName(nodes), refs)
  }

  test("node blobs scanned and the result equal brute force") {
    val df = IndexedPbf.readWaysAndDeps(spark, path, somePredicate)
    val (expected, refs) = bruteForce(somePredicate)
    val blobsHoldingRefs = IndexedPbf.index(spark, path).count { z =>
      z.ids.hasNodes && refs.exists(r => z.ids.nodeMin <= r && r <= z.ids.nodeMax)
    }
    assert(blobsHoldingRefs === 3)
    assert(IndexedPbf.lastPrune.get()("node_blobs_scanned") === blobsHoldingRefs.toLong)
    val got = countsAndSums(df)
    assert(got === countsAndSums(expected))
    assert(got("way")._1 === wayIds.size.toLong && got("node")._1 === refs.size.toLong)
  }

  test("a predicate matching no way returns an empty frame of the 13 columns") {
    val df = IndexedPbf.readWaysAndDeps(spark, path, col("id") === -1L)
    assert(df.schema.fieldNames.toSeq === OsmSchema.schema.fieldNames.toSeq)
    assert(df.count() === 0)
    assert(IndexedPbf.lastPrune.get()("node_blobs_scanned") === 0L)
  }

  test("ways without refs add no node blob") {
    val node = (id: Long) => PbfWriter.DenseNode(id, 52000000000L + id, 11000000000L + id,
      Nil, version = 1, timestampMs = 1049522828000L, changeset = 1L, uid = 1, user = "u")
    val noRefs = dir.resolve("norefs.osm.pbf").toString
    PbfWriter.writeFile(noRefs, Seq(
      PbfWriter.primitiveBlock((1L to 100L).map(node), Seq(
        PbfWriter.WayData(500L, Nil, Seq("highway" -> "path")),
        PbfWriter.WayData(501L, Seq(1L, 2L, 3L), Seq("highway" -> "path")))),
      PbfWriter.primitiveBlock((101L to 200L).map(node))))
    val df = IndexedPbf.readWaysAndDeps(spark, noRefs, col("id") === 500L)
    assert(df.collect().map(r => (r.getAs[String]("type"), r.getAs[Long]("id"))).toSeq ===
      Seq(("way", 500L)))
    assert(IndexedPbf.lastPrune.get()("node_blobs_scanned") === 0L)
    assert(countsAndSums(IndexedPbf.readWaysAndDeps(spark, noRefs, col("id") === 501L)) ===
      Map("way" -> (1L, 501L), "node" -> (3L, 6L)))
    assert(IndexedPbf.lastPrune.get()("node_blobs_scanned") === 1L)
  }

  test("refs map onto every blob range that holds them; null and empty refs onto none") {
    // the second range nests inside the first
    val ranges = IndexedPbf.NodeBlobRanges(Array(0L, 100L, 2000L), Array(1000L, 150L, 3000L))
    def hits(refs: ArrayData): Seq[Int] = {
      val bits = new java.util.BitSet()
      ranges.addHits(refs, bits)
      bits.stream().toArray.toSeq
    }
    assert(hits(null) === Nil)
    assert(hits(ArrayData.toArrayData(Array.empty[Long])) === Nil)
    assert(hits(ArrayData.toArrayData(Array(500L))) === Seq(0))
    assert(hits(ArrayData.toArrayData(Array(120L))) === Seq(0, 1))
    assert(hits(ArrayData.toArrayData(Array(-5L, 1500L, 3001L))) === Nil)
    assert(hits(ArrayData.toArrayData(Array(2500L, 140L))) === Seq(0, 1, 2))
  }

  test("readWaysAndDeps runs two jobs and no shuffle: the pass-1 checkpoint and the ordinal collect") {
    val sc = spark.sparkContext
    IndexedPbf.index(spark, path) // cached, so the call below builds no index
    val stagesPerJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("pass2-jobs") => stagesPerJob.put(e.jobId, e.stageInfos.size)
          case Some("pass2-marker") => markerSeen = true
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pass2-jobs", "readWaysAndDeps")
      try IndexedPbf.readWaysAndDeps(spark, path, somePredicate)
      finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen, every
      // job of the call has been
      sc.setJobGroup("pass2-marker", "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      eventually(timeout(Span(10, Seconds)))(assert(markerSeen))
      import scala.jdk.CollectionConverters._
      // a shuffle adds a map stage to its job
      assert(stagesPerJob.asScala.values.toSeq === Seq(1, 1), stagesPerJob)
    } finally sc.removeSparkListener(listener)
  }
}

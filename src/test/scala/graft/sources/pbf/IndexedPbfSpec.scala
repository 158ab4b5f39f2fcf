package graft.sources.pbf

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** PBF-native indexed two-pass semi-join (indexed.rs:145-222, 264-330):
  * zone maps, blob pruning, and the read_ways_and_deps doc-test
  * expectations on the golden fixture — plus an oracle check against the
  * same query run over transcoded parquet.
  */
class IndexedPbfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val fixture = PbfFixtures.path("test.osm.pbf")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("indexedpbf-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  private val tmp = new TempDirs

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    tmp.deleteAll()
  }

  test("zone maps record per-type min/max ids (indexed.rs:174-225)") {
    val idx = IndexedPbf.index(spark, fixture)
    assert(idx.size === 1)
    val ids = idx.head.ids
    assert(ids.hasNodes && ids.hasWays && ids.hasRelations)
    assert((ids.nodeMin, ids.nodeMax) === (105L, 108L))
    assert((ids.wayMin, ids.wayMax) === (107L, 107L))
    assert((ids.relMin, ids.relMax) === (120L, 120L))
  }

  test("read_ways_and_deps doc-test: 1 building way + its 3 nodes (indexed.rs:232-258)") {
    val df = IndexedPbf.readWaysAndDeps(spark, fixture,
      col("tags").getItem("building") === "yes")
    val byType = df.groupBy("type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("way" -> 1L, "node" -> 3L))
    val nodeIds = df.filter(col("type") === "node")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(nodeIds === Seq(105L, 106L, 108L))
    assert(df.filter(col("type") === "way").select("id").head().getLong(0) === 107L)
  }

  test("oracle over transcoded output: PBF-native result == post-transcode join") {
    val out = tmp("idxoracle")
    OsmPbf.transcode(spark, PbfConfig(input = fixture, output = out))
    val t = spark.read.parquet(out)
    val ways = t.filter(col("type") === "way" && col("tags").getItem("building") === "yes")
    val refs = ways.select(explode(col("nds.ref")).as("ref")).distinct()
    val nodes = t.filter(col("type") === "node")
      .join(broadcast(refs), col("id") === col("ref"), "left_semi")
    val expected = ways.unionByName(nodes)
      .select("id", "type").collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

    val got = IndexedPbf.readWaysAndDeps(spark, fixture,
        col("tags").getItem("building") === "yes")
      .select("id", "type").collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === expected)
  }

  test("pass-2 blob pruning: only node blobs whose id range is hit are scanned") {
    import PbfWriter._
    val dir = tmp("idxprune")
    val pbf = s"$dir/pruned.osm.pbf"
    // 4 node blocks with disjoint id ranges + 1 way block; the way only
    // references ids in the FIRST block.
    def nodeBlock(base: Long): Array[Byte] = primitiveBlock(
      (0 until 100).map(i => DenseNode(base + i, 52000000000L + i * 1000,
        11000000000L + i * 700, Nil, 1, 0L, 1L, 1, "u")))
    val wayBlock = primitiveBlock(Nil,
      Seq(WayData(900001L, Seq(1005L, 1006L), Seq("highway" -> "primary")),
          WayData(900002L, Seq(7007L), Seq("note" -> "unmatched"))))
    writeFile(pbf, Seq(nodeBlock(1000), nodeBlock(2000), nodeBlock(3000), nodeBlock(4000), wayBlock))

    val idx = IndexedPbf.index(spark, pbf)
    assert(idx.count(_.ids.hasNodes) === 4)
    assert(idx.count(_.ids.hasWays) === 1)

    val df = IndexedPbf.readWaysAndDeps(spark, pbf, col("tags").getItem("highway") === "primary")
    // pass 2 must touch only 1 of the 4 node blobs: its tasks are the ones
    // that read the refs shuffle, and they read exactly that blob's bytes
    val sc = spark.sparkContext
    val pass2Reads = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.shuffleReadMetrics.recordsRead > 0)
          pass2Reads.add(e.taskMetrics.inputMetrics.bytesRead)
    }
    sc.addSparkListener(listener)
    val rows =
      try df.select("id", "type").collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      finally {
        org.apache.spark.GraftListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(rows === Seq((900001L, "way"), (1005L, "node"), (1006L, "node")).sorted)
    assert(IndexedPbf.lastPrune.get()("node_blobs_scanned") === 1L)
    val hit = idx.filter(z => z.ids.hasNodes && z.ids.nodeMin <= 1005L && 1005L <= z.ids.nodeMax)
    assert(hit.size === 1)
    import scala.jdk.CollectionConverters._
    assert(pass2Reads.asScala.toSeq === Seq(hit.head.length.toLong))
  }

  test("nested/overlapping node-id ranges: the wide earlier blob is still found") {
    import PbfWriter._
    val dir = tmp("idxnested")
    val pbf = s"$dir/nested.osm.pbf"
    // blob A spans [1..4000] (wide), blob B [1100..1149], blob C [2000..2049]:
    // sorted by nodeMin the ranges NEST — a left-walk that stops at the
    // first non-overlapping neighbor (B for ref 4000) would never check A
    // and silently drop the node
    def block(ids: Seq[Long]): Array[Byte] = primitiveBlock(
      ids.map(id => DenseNode(id, 52000000000L + id, 11000000000L + id,
        Nil, 1, 0L, 1L, 1, "u")))
    val wide = block((1L to 500L) :+ 4000L)
    val wayBlock = primitiveBlock(Nil,
      Seq(WayData(900001L, Seq(4000L, 1100L, 2000L), Seq("highway" -> "primary"))))
    writeFile(pbf, Seq(wide, block(1100L to 1149L), block(2000L to 2049L), wayBlock))

    val df = IndexedPbf.readWaysAndDeps(spark, pbf,
      col("tags").getItem("highway") === "primary")
    val nodeIds = df.filter(col("type") === "node")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(nodeIds === Seq(1100L, 2000L, 4000L)) // 4000 lives only in blob A
  }
}

package graft.sources.pbf

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pass 2 of [[IndexedPbf.readWaysAndDeps]]: the pass-1 tasks return a
  * bitset of the node-blob ordinals their ways' refs hit; the first
  * action shuffles each ref to the groups of needed blobs that can hold
  * it, and each group keeps only the referenced nodes of its blobs.
  * Checked against brute force on the driver, over corpora written by
  * [[PbfWriter]]. */
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

  /** Dense nodes at 100-nanodegree steps, so every coordinate decodes exactly. */
  private def nodeBlock(ids: Seq[Long]): Array[Byte] = PbfWriter.primitiveBlock(ids.map(id =>
    PbfWriter.DenseNode(id, 52000000000L + id * 100, 11000000000L + id * 100, Nil,
      version = 1, timestampMs = 1049522828000L, changeset = 1L, uid = 1, user = "u")))

  /** Five node blobs of 80,000 nodes (large enough that each needed blob
    * is a pass-2 group of its own, as the exactness case asserts) and one
    * way blob, whose
    * ways matching [[exactPredicate]] reference: a node held only by b
    * but inside a's and c's ranges too (twice); a node in both a and c;
    * an id absent from e, whose group has no other ref; an id no blob's
    * range holds; and nothing (empty `nds`). Blob d is referenced only by
    * an unmatched way. */
  private lazy val exact: String = {
    import PbfWriter._
    val n = 80000L
    val a = (1L to n) :+ 300000L                 // range [1, 300000]
    val b = 100001L to 100000L + n               // nested in a's and c's ranges
    val c = 100L +: (200001L to 200000L + n)     // [100, 280000]; node 100 is in a too
    val d = 400001L to 400000L + n
    val e = 500001L to 500000L + 2 * n by 2      // odd ids only
    val ways = primitiveBlock(Nil, Seq(
      WayData(900001L, Seq(120000L), Seq("highway" -> "yes")),
      WayData(900002L, Seq(100L, 5L, 120000L), Seq("highway" -> "yes")),
      WayData(900003L, Seq(500002L, 999999999L), Seq("highway" -> "yes")),
      WayData(900004L, Nil, Seq("highway" -> "yes")),
      WayData(900005L, Seq(400001L), Seq("highway" -> "no"))))
    val corpus = dir.resolve("exact.osm.pbf").toString
    writeFile(corpus, Seq(nodeBlock(a), nodeBlock(b), nodeBlock(c), nodeBlock(d), nodeBlock(e), ways))
    corpus
  }
  private val exactPredicate = col("tags").getItem("highway") === "yes"

  test("readWaysAndDeps: the call runs one job of one stage; the first action one job of two stages that shuffles only the deduped (group, ref) keys") {
    val sc = spark.sparkContext
    IndexedPbf.index(spark, exact) // cached, so the call below builds no index
    val stagesPerJob = new java.util.concurrent.ConcurrentHashMap[String, Seq[Int]]()
    val actionStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          stagesPerJob.merge(g, Seq(e.stageInfos.size), _ ++ _)
          if (g == "pass2-action") e.stageIds.foreach(actionStages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (actionStages.contains(e.stageId) && e.taskMetrics != null)
          shuffleRecords.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pass2-call", "readWaysAndDeps")
      val df = try IndexedPbf.readWaysAndDeps(spark, exact, exactPredicate)
      finally sc.clearJobGroup()
      sc.setJobGroup("pass2-action", "first action")
      try df.collect()
      finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBus.drain(sc)
      import scala.jdk.CollectionConverters._
      assert(stagesPerJob.asScala.toMap === Map("pass2-call" -> Seq(1), "pass2-action" -> Seq(2)))
    } finally sc.removeSparkListener(listener)

    // brute force: the needed blobs by a linear scan of every catalog
    // entry, grouped as a scan of them is split. The one way blob is one
    // pass-1 task, so its per-task dedup is global.
    val refs = spark.read.format("osmpbf").load(exact).filter(col("type") === "way").filter(exactPredicate)
      .select(explode(col("nds.ref"))).collect().map(_.getLong(0)).distinct.toSeq
    def holds(z: IndexedPbf.ZoneMap, r: Long) = z.ids.hasNodes && z.ids.nodeMin <= r && r <= z.ids.nodeMax
    val needed = IndexedPbf.index(spark, exact).filter(z => refs.exists(holds(z, _))).sortBy(_.ids.nodeMin)
    val groupAt = OsmPbf.planSplits(needed.map(_.span), OsmPbf.DefaultSplitMb.toLong << 20,
      sc.defaultParallelism).zipWithIndex.flatMap { case (g, i) => g.map(_.offset -> i) }.toMap
    val pairs = refs.flatMap(r => needed.filter(holds(_, r)).map(z => groupAt(z.offset) -> r)).distinct
    // 120000: three groups; 100: two; 5 and 500002: one; 999999999: none
    assert(pairs.size === 7 && shuffleRecords.get === 7L)
  }

  test("pass-2 keys: each ref once per group reading a blob that holds it; null and empty nds key nothing") {
    // the second range nests inside the first; group 1 reads blobs 1 and 2
    val groups = IndexedPbf.NodeGroups(
      IndexedPbf.NodeBlobRanges(Array(0L, 100L, 2000L), Array(1000L, 150L, 3000L)),
      Array(0, 1, 1), Array.fill(2)(Array.empty[Blobs.BlobSpan]))
    def way(nds: Seq[Long]): InternalRow = new GenericInternalRow(Array.tabulate[Any](OsmSchema.schema.length) { i =>
      if (i == OsmSchema.schema.fieldIndex("nds") && nds != null)
        new GenericArrayData(nds.map(r => new GenericInternalRow(Array[Any](r))).toArray[Any])
      else null
    })
    assert(groups.keys(Iterator(way(null), way(Nil))).toSeq === Nil)
    assert(groups.keys(Iterator(way(Seq(120L, 500L, 120L)), way(null), way(Seq(2500L, 140L, 5000L)))).toSeq ===
      Seq(0 -> 120L, 0 -> 140L, 0 -> 500L, 1 -> 120L, 1 -> 140L, 1 -> 2500L))
  }

  test("pass 2 equals brute force: refs held by blobs of two groups, a node in two blobs, absent refs, empty nds, a group whose refs all miss") {
    val got = IndexedPbf.readWaysAndDeps(spark, exact, exactPredicate)
    assert(IndexedPbf.lastPrune.get()("node_blobs_scanned") === 4L)
    val needed = IndexedPbf.index(spark, exact).filter(_.ids.hasNodes).filterNot(_.ids.nodeMin == 400001L)
      .sortBy(_.ids.nodeMin)
    assert(OsmPbf.planSplits(needed.map(_.span), OsmPbf.DefaultSplitMb.toLong << 20,
      spark.sparkContext.defaultParallelism).size === 4)

    val all = spark.read.format("osmpbf").load(exact)
    val ways = all.filter(col("type") === "way").filter(exactPredicate)
    val refs = ways.select(explode(col("nds.ref"))).collect().map(_.getLong(0)).distinct.toSeq
    val expected = ways.unionByName(all.filter(col("type") === "node").filter(col("id").isin(refs: _*)))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) === rows(expected))
    assert(got.filter(col("type") === "node").select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(5L, 100L, 100L, 120000L))
  }

  test("a corrupt needed node blob fails the first action typed") {
    val corpus = dir.resolve("corrupt.osm.pbf")
    PbfWriter.writeFile(corpus.toString, Seq(nodeBlock(1L to 1000L),
      PbfWriter.primitiveBlock(Nil, Seq(PbfWriter.WayData(900001L, Seq(5L), Seq("highway" -> "yes"))))))
    val nodeBlob = IndexedPbf.index(spark, corpus.toString).find(_.ids.hasNodes).get
    // corrupt the node blob's deflate stream in place, keeping the length
    // and mtime the catalog is cached by
    val mtime = java.nio.file.Files.getLastModifiedTime(corpus)
    val raf = new java.io.RandomAccessFile(corpus.toFile, "rw")
    try { raf.seek(nodeBlob.offset + nodeBlob.length / 2); raf.write(Array.fill[Byte](16)(-1)) }
    finally raf.close()
    java.nio.file.Files.setLastModifiedTime(corpus, mtime)

    val df = IndexedPbf.readWaysAndDeps(spark, corpus.toString, col("id") === 900001L)
    assert(IndexedPbf.lastPrune.get()("node_blobs_scanned") === 1L)
    def hasPbfCause(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[PbfFormatException] || hasPbfCause(t.getCause))
    val e = intercept[Exception](df.count())
    assert(hasPbfCause(e), e)
  }
}

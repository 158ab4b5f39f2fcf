package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import EventStreams.{Bucketed, Plain}

/** The CDC snapshot store's commit protocol (`EventStreams.applyVersion`
  * behind `applyChangeset` / `applyDeletes`): commit-marker idempotence
  * keyed on batchId alone, torn-write recovery from the prior version,
  * strictly-below version derivation — each over all four (layout,
  * change) pairs against a reference model — and maintain ≡ recompute
  * over an applied sequence. The gate pins the streamed loop end-to-end
  * (including a hostile-payload retry); this pins the protocol arms a
  * green gate can't distinguish.
  */
class CdcApplySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("cdc-apply-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    dirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A temp dir deleted in afterAll. */
  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs += d
    d.toString
  }

  private def batchDf(rows: Seq[(Long, Double)]) = {
    val sp = spark; import sp.implicits._
    rows.toDF("user_id", "value")
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Long)] =
    df.orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def readLatest(target: String) =
    rowsOf(EventStreams.snapshotAt(spark, target))

  /** The reference model of an upsert: per user, +1 event and the value's
    * integer cents. */
  private def upserted(state: Map[Long, (Long, Long)],
      rows: Seq[(Long, Double)]): Map[Long, (Long, Long)] =
    rows.foldLeft(state) { case (m, (u, v)) =>
      val (n, c) = m.getOrElse(u, (0L, 0L))
      m.updated(u, (n + 1, c + math.floor(v * 100 + 0.5).toLong))
    }

  private def sorted(state: Map[Long, (Long, Long)]): Seq[(Long, Long, Long)] =
    state.toSeq.sortBy(_._1).map { case (u, (n, c)) => (u, n, c) }

  /** One (layout, change) pair of the store's commit path. */
  private case class Mode(name: String, layout: EventStreams.Layout,
      delete: Boolean) {
    /** Apply `rows` as version `id`: upserted, or their users deleted. */
    def apply(rows: Seq[(Long, Double)], id: Long, target: String): Unit =
      if (delete)
        EventStreams.applyDeletes(batchDf(rows).select("user_id"), id, target, layout)
      else EventStreams.applyChangeset(batchDf(rows), id, target, layout)
    /** Seed `rows` as version `id` with an upsert in this layout. */
    def seed(rows: Seq[(Long, Double)], id: Long, target: String): Unit =
      EventStreams.applyChangeset(batchDf(rows), id, target, layout)
    def model(state: Map[Long, (Long, Long)],
        rows: Seq[(Long, Double)]): Map[Long, (Long, Long)] =
      if (delete) state -- rows.map(_._1) else upserted(state, rows)
  }

  private def modes(tag: String) = Seq(
    Mode("plain upsert", Plain, delete = false),
    Mode("plain delete", Plain, delete = true),
    Mode("bucketed upsert", Bucketed(s"graft_cdcspec_${tag}_bu", 4), delete = false),
    Mode("bucketed delete", Bucketed(s"graft_cdcspec_${tag}_bd", 4), delete = true))

  test("applied sequence equals recompute; committed batch skips on batchId alone") {
    val seed = Seq((1L, 1.00), (2L, 2.50))
    // user 1: 2 events, 100+49 cents; user 2: 1, 250; user 3: 1, 1000
    assert(sorted(upserted(upserted(Map.empty, seed), Seq((1L, 0.49), (3L, 10.0)))) ===
      Seq((1L, 2L, 149L), (2L, 1L, 250L), (3L, 1L, 1000L)))
    modes("skip").foreach { m =>
      val target = tempDir("cdc")
      val change = if (m.delete) Seq((2L, 0.0)) else Seq((1L, 0.49), (3L, 10.0))
      m.seed(seed, 0L, target)
      m(change, 1L, target)
      val settled = readLatest(target)
      assert(settled === sorted(m.model(upserted(Map.empty, seed), change)), m.name)
      // hostile replay of a committed batch: must be a no-op whatever the
      // payload (it would upsert or delete user 1 and add or drop user 9)
      m(Seq((1L, 999.0), (9L, 999.0)), 1L, target)
      assert(readLatest(target) === settled, m.name)
    }
  }

  test("torn write (no _SUCCESS) is rewritten from the prior version") {
    modes("torn").foreach { m =>
      val target = tempDir("cdc")
      m.seed(Seq((1L, 1.00), (2L, 0.50)), 0L, target)
      m(Seq((1L, 2.00)), 1L, target)
      val settled = readLatest(target)
      // simulate a crash after data files landed but before the commit marker
      assert(new java.io.File(s"$target/v1", "_SUCCESS").delete(), m.name)
      assert(EventStreams.latestVersion(target).get.endsWith("v0"),
        s"${m.name}: an uncommitted version must be invisible")
      m(Seq((1L, 2.00)), 1L, target)
      assert(readLatest(target) === settled, m.name)
    }
  }

  test("version derivation is strictly-below: a later id never reads itself") {
    val seed = Seq((1L, 1.00), (2L, 2.00))
    modes("below").foreach { m =>
      val target = tempDir("cdc")
      m.seed(seed, 3L, target) // sparse id
      assert(EventStreams.latestVersion(target, below = 3L).isEmpty, m.name)
      assert(EventStreams.latestVersion(target, below = 4L).get.endsWith("v3"), m.name)
      assert(readLatest(target) === Seq((1L, 1L, 100L), (2L, 1L, 200L)), m.name)
      // a committed version ABOVE the next id must not become its prior:
      // v5 derives from v3, not from v7
      m.seed(Seq((9L, 999.0)), 7L, target)
      m(Seq((2L, 0.50)), 5L, target)
      assert(rowsOf(EventStreams.snapshotAt(spark, target, 5L)) ===
        sorted(m.model(upserted(Map.empty, seed), Seq((2L, 0.50)))), m.name)
    }
  }

  // --- q38b-composed apply: the O(target)-regime layout ---

  private def planChildren(n: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = n match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      Seq(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }

  private def collectNodes(n: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] =
    n +: planChildren(n).flatMap(collectNodes)

  test("bucketed apply: maintain equals plain apply; only the changeset side shuffles") {
    val plainT = tempDir("cdcplain")
    val bktT = tempDir("cdcbkt")
    val prefix = "graft_cdcspec_bkt"
    val b0 = batchDf((1L to 300L).map(i => (i, (i % 17) / 4.0)))
    val b1 = batchDf(Seq((5L, 1.25), (301L, 2.0), (7L, 0.75)))
    EventStreams.applyChangeset(b0, 0L, plainT)
    EventStreams.applyChangeset(b1, 1L, plainT)
    EventStreams.applyChangeset(b0, 0L, bktT, Bucketed(prefix))
    EventStreams.applyChangeset(b1, 1L, bktT, Bucketed(prefix))
    assert(readLatest(bktT) === readLatest(plainT),
      "the layout must never change the answer")
    // the _SUCCESS protocol carries over: hostile replay is a no-op
    EventStreams.applyChangeset(batchDf(Seq((1L, 999.0))), 1L, bktT, Bucketed(prefix))
    assert(readLatest(bktT) === readLatest(plainT))
    // the NEXT apply's merge reads the prior version as a bucketed scan:
    // zero Exchange above the target side, the delta side shuffles to it
    val chg = batchDf(Seq((9L, 1.0))).groupBy(col("user_id"))
      .agg(count(lit(1)).as("dn"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("dc"))
    val merged = EventStreams.mergedSnapshot(
      spark.table(s"${prefix}_v1").hint("merge"), chg)
    merged.collect() // finalize AQE
    val plan = merged.queryExecution.executedPlan
    val planStr = plan.toString.split("== Initial Plan ==").head
    def isTargetScan(n: org.apache.spark.sql.execution.SparkPlan): Boolean = n match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.bucketedScan && f.tableIdentifier.exists(_.table.startsWith(prefix))
      case _ => false
    }
    val smj = collectNodes(plan).collectFirst {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.joinType.toString == "FullOuter" => j
    }.getOrElse(fail(s"expected full-outer SMJ:\n$planStr"))
    val (targetSide, chgSide) =
      Seq(smj.left, smj.right).map(collectNodes).partition(_.exists(isTargetScan)) match {
        case (Seq(t), Seq(c)) => (t, c)
        case other => fail(s"expected the bucketed scan on exactly one side: $other")
      }
    def shuffles(ns: Seq[org.apache.spark.sql.execution.SparkPlan]) =
      ns.count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(shuffles(targetSide) === 0,
      s"no Exchange may sit between the merge join and the bucketed snapshot scan:\n$planStr")
    assert(shuffles(chgSide) >= 1,
      s"the changeset side is the one that shuffles to the bucket layout:\n$planStr")
  }

  test("bucketed apply recovers after catalog loss: re-registers from the committed dir") {
    val target = tempDir("cdcrec")
    val prefix = "graft_cdcspec_rec"
    EventStreams.applyChangeset(
      batchDf(Seq((1L, 1.00), (2L, 2.50))), 0L, target, Bucketed(prefix))
    EventStreams.applyChangeset(
      batchDf(Seq((1L, 0.49))), 1L, target, Bucketed(prefix))
    // simulate a fresh JVM: the session-scoped catalog entries are gone,
    // only the committed dirs + markers remain
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v0")
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v1")
    EventStreams.applyChangeset(
      batchDf(Seq((3L, 10.0))), 2L, target, Bucketed(prefix))
    assert(readLatest(target) ===
      Seq((1L, 2L, 149L), (2L, 1L, 250L), (3L, 1L, 1000L)))
    // and the recovered prior really was read as a BUCKETED scan: the
    // re-registered v1 feeds a merge with zero target-side Exchange
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v1")
    spark.sql(s"""CREATE TABLE ${prefix}_v1 (user_id BIGINT, n_events BIGINT,
      cents BIGINT) USING PARQUET CLUSTERED BY (user_id)
      SORTED BY (user_id) INTO 8 BUCKETS LOCATION '$target/v1'""")
    val chg = batchDf(Seq((9L, 1.0))).groupBy(col("user_id"))
      .agg(count(lit(1)).as("dn"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("dc"))
    val merged = EventStreams.mergedSnapshot(
      spark.table(s"${prefix}_v1").hint("merge"), chg)
    merged.collect()
    val nodes = collectNodes(merged.queryExecution.executedPlan)
    val bucketedScan = nodes.exists {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.bucketedScan
      case _ => false
    }
    assert(bucketedScan, "the re-registered external table must scan bucketed")
  }

  test("bucketed recovery validates the on-disk layout instead of trusting the call") {
    val b0 = batchDf(Seq((1L, 1.00), (2L, 2.50)))
    val b1 = batchDf(Seq((1L, 0.49)))
    val settled = Seq((1L, 2L, 149L), (2L, 1L, 250L))

    // (a) recovery with a DIFFERENT bucket count than the files carry
    // must fail loudly — a smaller on-disk count would keep every file's
    // bucket id valid and silently merge misaligned buckets
    val tA = tempDir("cdclayoutA")
    EventStreams.applyChangeset(b0, 0L, tA, Bucketed("graft_cdcspec_layA", 4))
    spark.sql("DROP TABLE IF EXISTS graft_cdcspec_layA_v0")
    val exA = intercept[IllegalStateException] {
      EventStreams.applyChangeset(b1, 1L, tA, Bucketed("graft_cdcspec_layA", 8))
    }
    assert(exA.getMessage.contains("4 buckets") && exA.getMessage.contains("8"))

    // (b) a stale same-named catalog entry pointing at ANOTHER dir must
    // fail loudly, not feed the merge someone else's data
    val other = tempDir("cdclayoutB-other")
    spark.sql(s"""CREATE TABLE graft_cdcspec_layA_v0 (user_id BIGINT,
      n_events BIGINT, cents BIGINT) USING PARQUET CLUSTERED BY (user_id)
      SORTED BY (user_id) INTO 4 BUCKETS LOCATION '$other'""")
    val exB = intercept[IllegalStateException] {
      EventStreams.applyChangeset(b1, 1L, tA, Bucketed("graft_cdcspec_layA", 4))
    }
    assert(exB.getMessage.contains("stale catalog entry"))
    spark.sql("DROP TABLE IF EXISTS graft_cdcspec_layA_v0")

    // (c) a forged marker over PLAIN (un-bucketed) files must fail
    // loudly: the files carry no bucket-id suffix to align to
    val tC = tempDir("cdclayoutC")
    EventStreams.applyChangeset(b0, 0L, tC)
    val fsC = new org.apache.hadoop.fs.Path(tC)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val outC = fsC.create(new org.apache.hadoop.fs.Path(s"$tC/v0/_BUCKETS"), true)
    outC.write("4".getBytes(java.nio.charset.StandardCharsets.UTF_8)); outC.close()
    val exC = intercept[IllegalStateException] {
      EventStreams.applyChangeset(b1, 1L, tC, Bucketed("graft_cdcspec_layC", 4))
    }
    assert(exC.getMessage.contains("no bucket-id"))

    // (d) a committed dir MISSING the marker (torn metadata / legacy)
    // degrades to a plain scan — correct answer, never a misalignment
    val tD = tempDir("cdclayoutD")
    EventStreams.applyChangeset(b0, 0L, tD, Bucketed("graft_cdcspec_layD", 4))
    spark.sql("DROP TABLE IF EXISTS graft_cdcspec_layD_v0")
    assert(new java.io.File(s"$tD/v0", "_BUCKETS").delete())
    EventStreams.applyChangeset(b1, 1L, tD, Bucketed("graft_cdcspec_layD", 4))
    assert(readLatest(tD) === settled)

    // and the happy recovery still registers from the persisted marker,
    // regardless of what earlier sessions used
    val tE = tempDir("cdclayoutE")
    EventStreams.applyChangeset(b0, 0L, tE, Bucketed("graft_cdcspec_layE", 4))
    spark.sql("DROP TABLE IF EXISTS graft_cdcspec_layE_v0")
    EventStreams.applyChangeset(b1, 1L, tE, Bucketed("graft_cdcspec_layE", 4))
    assert(readLatest(tE) === settled)
  }

  test("pruned apply: equals the full apply, rewrites only touched buckets") {
    val b0 = batchDf((1L to 200L).map(i => (i, (i % 13) / 4.0)))
    // a deliberately CLUSTERED changeset: three users — at most three
    // touched buckets of the 8
    val b1 = batchDf(Seq((5L, 1.25), (5L, 0.50), (7L, 0.75)))
    val b2 = batchDf(Seq((201L, 2.00))) // a NEW user (insert path)

    val fullT = tempDir("cdcpfull")
    val prunedT = tempDir("cdcppruned")
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      EventStreams.applyChangeset(b, i.toLong, fullT, Bucketed("graft_cdcspec_pf"))
      EventStreams.applyChangesetPruned(b, i.toLong, prunedT, Bucketed("graft_cdcspec_pp"))
    }
    assert(readLatest(prunedT) === readLatest(fullT),
      "pruning must never change the answer")

    // the pruned version really did copy-forward: untouched bucket files
    // in v1 are byte-identical (same name, same length) to v0's
    val fs = new org.apache.hadoop.fs.Path(prunedT)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(v: String) = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$prunedT/$v")).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => st.getPath.getName -> st.getLen).toMap
    val v0f = files("v0"); val v1f = files("v1")
    assert(v0f.size <= 8 && v1f.size <= 8,
      "alignment: at most one file per bucket per version (r13 fix — " +
        "an unaligned write emits tasks × buckets files)")
    val carried = v0f.keySet.intersect(v1f.keySet)
    assert(carried.nonEmpty, "a 3-user changeset must leave buckets untouched")
    assert(carried.forall(n => v0f(n) == v1f(n)),
      "carried-forward files must be the prior's bytes, not a rewrite")
    assert(v1f.size >= v0f.size - 3 && (v1f.keySet -- v0f.keySet).nonEmpty,
      "touched buckets get NEW files; the rest are the carried names")

    // recovery + retention still hold on the hand-assembled dirs:
    // marker present, hostile replay skips, prune reaps
    assert(EventStreams.readBucketCount(fs,
      new org.apache.hadoop.fs.Path(s"$prunedT/v2")) === Some(8))
    val settled = readLatest(prunedT)
    EventStreams.applyChangesetPruned(
      batchDf(Seq((1L, 999.0))), 2L, prunedT, Bucketed("graft_cdcspec_pp"))
    assert(readLatest(prunedT) === settled)
    assert(EventStreams.pruneVersions(spark, prunedT, keepLast = 2,
      layout = Bucketed("graft_cdcspec_pp")) === Seq("v0"))
    assert(readLatest(prunedT) === settled)

    // fallback legs: no prior (first batch) and an UNMARKED prior both
    // route through the full apply — correct answer, no pruning
    val tF = tempDir("cdcpfall")
    EventStreams.applyChangesetPruned(b0, 0L, tF, Bucketed("graft_cdcspec_pfb"))
    assert(new java.io.File(s"$tF/v0", "_BUCKETS").delete())
    spark.sql("DROP TABLE IF EXISTS graft_cdcspec_pfb_v0")
    EventStreams.applyChangesetPruned(b1, 1L, tF, Bucketed("graft_cdcspec_pfb"))
    assert(readLatest(tF) === readLatest(fullT).filterNot(_._1 == 201L))
  }

  test("stale pruned-apply staging is reaped: fallback branch and pruneVersions") {
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mkStage(target: String, id: Long, prefix: String): Unit = {
      // simulate a crash between the stage saveAsTable and its cleanup:
      // the dir and the catalog entry both survive the dead JVM
      val d = new org.apache.hadoop.fs.Path(s"$target/.stage_v$id")
      fs.mkdirs(d)
      spark.sql(s"""CREATE TABLE ${prefix}_stage_v$id (user_id BIGINT)
        USING PARQUET LOCATION '$d'""")
    }

    // (a) the retry lands on the FALLBACK branch (prior unmarked): the
    // full apply knows nothing about staging, so the pruned entry point
    // reaps its own batch's leftovers before delegating
    val tA = tempDir("cdcreapA")
    EventStreams.applyChangesetPruned(
      batchDf(Seq((1L, 1.00))), 0L, tA, Bucketed("graft_cdcspec_reapA"))
    assert(new java.io.File(s"$tA/v0", "_BUCKETS").delete())
    spark.sql("DROP TABLE IF EXISTS graft_cdcspec_reapA_v0")
    mkStage(tA, 1L, "graft_cdcspec_reapA")
    EventStreams.applyChangesetPruned(
      batchDf(Seq((1L, 0.50))), 1L, tA, Bucketed("graft_cdcspec_reapA"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tA/.stage_v1")),
      "fallback must reap its own stale stage dir")
    assert(!spark.catalog.tableExists("graft_cdcspec_reapA_stage_v1"),
      "fallback must drop its own stale stage catalog entry")
    assert(readLatest(tA) === Seq((1L, 2L, 150L)))

    // (b) an ABANDONED stage (batch never retried down the pruned path):
    // pruneVersions reaps stage ids <= latest committed, keeps in-flight
    // ids above it
    val tB = tempDir("cdcreapB")
    EventStreams.applyChangesetPruned(
      batchDf(Seq((1L, 1.00))), 0L, tB, Bucketed("graft_cdcspec_reapB"))
    EventStreams.applyChangesetPruned(
      batchDf(Seq((2L, 2.00))), 1L, tB, Bucketed("graft_cdcspec_reapB"))
    mkStage(tB, 1L, "graft_cdcspec_reapB") // stale: v1 is committed
    mkStage(tB, 2L, "graft_cdcspec_reapB") // in-flight: above latest
    EventStreams.pruneVersions(spark, tB, keepLast = 2,
      layout = Bucketed("graft_cdcspec_reapB"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tB/.stage_v1")) &&
      !spark.catalog.tableExists("graft_cdcspec_reapB_stage_v1"),
      "stage at or below latest committed is stale and must be reaped")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tB/.stage_v2")) &&
      spark.catalog.tableExists("graft_cdcspec_reapB_stage_v2"),
      "stage above latest committed is in-flight and must be kept")
    spark.sql("DROP TABLE IF EXISTS graft_cdcspec_reapB_stage_v2")
  }

  test("committed-skip heals a missing _BUCKETS marker from the data, exactly") {
    val b0 = batchDf(Seq((1L, 1.00), (2L, 2.50)))
    val b1 = batchDf(Seq((1L, 0.49)))
    def markerOf(target: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$target/v0")
      EventStreams.readBucketCount(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }

    // (a) crash window between the parquet commit and writeBucketCount:
    // the replayed batch's committed-skip path heals the marker (payload
    // irrelevant — it must not re-apply), restoring the Exchange-free
    // scan for every later apply instead of degrading permanently
    val tA = tempDir("cdchealA")
    EventStreams.applyChangeset(b0, 0L, tA, Bucketed("graft_cdcspec_healA", 4))
    assert(new java.io.File(s"$tA/v0", "_BUCKETS").delete())
    EventStreams.applyChangeset(
      batchDf(Seq((9L, 999.0))), 0L, tA, Bucketed("graft_cdcspec_healA", 4))
    assert(markerOf(tA) === Some(4), "the replayed batch must heal the marker")
    // and the healed version recovers as a real bucketed prior
    spark.sql("DROP TABLE IF EXISTS graft_cdcspec_healA_v0")
    EventStreams.applyChangeset(b1, 1L, tA, Bucketed("graft_cdcspec_healA", 4))
    assert(readLatest(tA) === Seq((1L, 2L, 149L), (2L, 1L, 250L)))

    // (b) heal must refuse a count the DATA disproves: files written
    // 4-way, replay declares 8 — pmod(hash, 8) disagrees with some
    // file's suffix (20 users make a coincidental full match impossible
    // in practice), so the dir stays unmarked and keeps the safe
    // plain-scan degrade rather than a misaligned registration
    val wide = batchDf((1L to 20L).map(i => (i, 1.00)))
    val tB = tempDir("cdchealB")
    EventStreams.applyChangeset(wide, 0L, tB, Bucketed("graft_cdcspec_healB", 4))
    assert(new java.io.File(s"$tB/v0", "_BUCKETS").delete())
    EventStreams.applyChangeset(wide, 0L, tB, Bucketed("graft_cdcspec_healB", 8))
    assert(markerOf(tB).isEmpty, "a count the data disproves must not be healed")

    // (c) heal must refuse plain (un-suffixed) files outright — a plain
    // apply's committed dir replayed through the bucketed entry point
    val tC = tempDir("cdchealC")
    EventStreams.applyChangeset(b0, 0L, tC)
    EventStreams.applyChangeset(b0, 0L, tC, Bucketed("graft_cdcspec_healC", 4))
    assert(markerOf(tC).isEmpty, "plain files must never gain a bucket marker")
  }

  test("pruneVersions: retention keeps the read path, reaps torn dirs below latest") {
    val target = tempDir("cdcprune")
    (0 to 3).foreach(i =>
      EventStreams.applyChangeset(batchDf(Seq((1L, 1.00), (i.toLong + 10, 2.0))),
        i.toLong, target))
    val settled = readLatest(target)
    // torn v1 (crash artifact superseded by committed v2/v3)
    assert(new java.io.File(s"$target/v1", "_SUCCESS").delete())
    val pruned = EventStreams.pruneVersions(spark, target, keepLast = 2)
    assert(pruned.sorted === Seq("v0", "v1"),
      "old committed + torn-below-latest go; the keepLast window stays")
    assert(EventStreams.latestVersion(target).get.endsWith("v3"))
    assert(readLatest(target) === settled, "the prune never changes the read path")
    // an in-flight (torn ABOVE latest committed) dir is never touched
    val inflight = new java.io.File(s"$target/v9"); inflight.mkdirs()
    assert(EventStreams.pruneVersions(spark, target, keepLast = 1) === Seq("v2"))
    assert(inflight.exists(), "a torn dir above the latest committed version is in-flight")
    // and the next apply still derives from the surviving latest
    EventStreams.applyChangeset(batchDf(Seq((1L, 1.00))), 4L, target)
    assert(readLatest(target).find(_._1 == 1L).get._2 === 5L)
  }
}

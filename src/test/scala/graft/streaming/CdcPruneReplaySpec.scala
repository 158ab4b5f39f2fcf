package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Retention running INSIDE the live CDC apply loop — st17's protocol
  * with `pruneVersions` interleaved into the same foreachBatch that
  * applies changesets (prune after every 2nd batch, keepLast = 2), the
  * way a deployment actually runs it. `CdcApplySpec` pins prune
  * semantics at rest; this pins them under live traffic:
  *
  *  1. the settled profile still equals the batch recompute — pruning
  *     never changes the read path while applies race it;
  *  2. the streaming contract's re-delivery (the LAST batch, hostile
  *     payload) still skips on batchId alone after older versions are
  *     gone — the `_SUCCESS` guard does not depend on pruned history;
  *  3. a crash mid-prune (some prunable dirs deleted, some torn, some
  *     intact) leaves the store fully recoverable: latestVersion is
  *     unaffected, a re-run prune finishes the job, and the next apply
  *     derives from the right prior.
  *
  * Out of scope by contract: re-delivery of a batch OLDER than the
  * retention window. Structured Streaming's checkpoint replays at most
  * the last uncommitted batch — batch ids are monotone per checkpoint —
  * so a pruned version can never be legitimately re-requested; test 2
  * pins that even a hostile out-of-contract old-id write cannot move
  * the read path (latestVersion ignores ids below the latest commit).
  */
class CdcPruneReplaySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("cdc-prune-replay-spec")
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

  private def readLatest(target: String) =
    EventStreams.snapshotAt(spark, target)
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def versionDirs(target: String): Seq[String] =
    new java.io.File(target).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName).sorted

  // six batches of (user_id, value); users overlap across batches so the
  // merge genuinely folds priors the prune has since deleted the
  // ancestors of
  private val batches: Seq[Seq[(Long, Double)]] = Seq(
    Seq(1L -> 1.00, 2L -> 2.50),
    Seq(1L -> 0.49, 3L -> 10.0),
    Seq(2L -> 0.01, 4L -> 4.00),
    Seq(1L -> 5.00),
    Seq(5L -> 0.25, 2L -> 1.00),
    Seq(3L -> 3.00, 1L -> 0.02))

  private def expected: Seq[(Long, Long, Long)] = {
    val all = batches.flatten
    all.groupBy(_._1).map { case (u, rows) =>
      (u, rows.size.toLong,
        rows.map(r => math.floor(r._2 * 100 + 0.5).toLong).sum)
    }.toSeq.sortBy(_._1)
  }

  test("prune interleaved with live applies: read path exact, retry skip survives") {
    val sp = spark
    import sp.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = sp.sqlContext
    val target = tempDir("cdcprunelive")
    val pruneLog = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("user_id", "value")
      .writeStream
      .option("checkpointLocation",
        tempDir("cdcprunelive-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        EventStreams.applyChangeset(b, id, target)
        if (id % 2 == 1) // retention in the SAME loop, every 2nd batch
          pruneLog += id -> EventStreams.pruneVersions(sp, target, keepLast = 2)
        () // pin the Unit overload: the log append returns the buffer
      }
      .start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()

    // 1. the read path is exact despite three in-flight prunes
    assert(readLatest(target) === expected)
    assert(pruneLog.nonEmpty && pruneLog.flatMap(_._2).nonEmpty,
      "the interleaved prunes must actually have deleted versions")
    // retention bound: keepLast=2 after the final prune (batch 5), so at
    // most v4/v5 survive it — nothing below the window lingers
    assert(versionDirs(target) === Seq("v4", "v5"))

    // 2. the streaming contract's retry — LAST batch, hostile payload —
    // still skips on batchId alone with the pruned history gone
    val settled = readLatest(target)
    EventStreams.applyChangeset(
      Seq(99L -> 999.0).toDF("user_id", "value"), 5L, target)
    assert(readLatest(target) === settled,
      "the _SUCCESS skip must not depend on pruned ancestors")

    // out-of-contract probe: a hostile write at a PRUNED id re-creates a
    // stale low version (streaming can never re-deliver it — monotone
    // batch ids — so this is vandalism, not replay), but the read path
    // derives from the LATEST commit and must not move; the next prune
    // reaps the debris
    EventStreams.applyChangeset(
      Seq(99L -> 999.0).toDF("user_id", "value"), 0L, target)
    assert(EventStreams.latestVersion(target).get.endsWith("v5"))
    assert(readLatest(target) === settled)
    assert(EventStreams.pruneVersions(sp, target, keepLast = 2) === Seq("v0"))
  }

  test("crash mid-prune leaves a recoverable store; a re-run finishes the job") {
    val sp = spark
    import sp.implicits._
    val target = tempDir("cdcprunecrash")
    batches.take(4).zipWithIndex.foreach { case (b, i) =>
      EventStreams.applyChangeset(b.toDF("user_id", "value"), i.toLong, target)
    }
    val settled = readLatest(target)
    // simulate pruneVersions(keepLast = 2) dying mid-flight: v0 fully
    // deleted (crash after its delete returned), v1 torn mid-delete
    // (its _SUCCESS gone, data files still there)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$target/v0"))
    assert(new java.io.File(s"$target/v1", "_SUCCESS").delete())
    // the store is still fully readable at the latest commit
    assert(EventStreams.latestVersion(target).get.endsWith("v3"))
    assert(readLatest(target) === settled)
    // the re-run prune reaps the torn remnant (torn below latest ⇒
    // superseded crash artifact, CdcApplySpec's rule) and nothing else
    assert(EventStreams.pruneVersions(sp, target, keepLast = 2) === Seq("v1"))
    assert(versionDirs(target) === Seq("v2", "v3"))
    // and the loop continues: the next apply derives from the kept prior
    EventStreams.applyChangeset(
      Seq(1L -> 1.00).toDF("user_id", "value"), 4L, target)
    val after = readLatest(target)
    val u1 = after.find(_._1 == 1L).get
    val before1 = settled.find(_._1 == 1L).get
    assert(u1 === ((1L, before1._2 + 1, before1._3 + 100)))
  }
}

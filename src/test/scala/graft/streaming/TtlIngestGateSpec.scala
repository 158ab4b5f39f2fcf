package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** State-TTL recall semantics of the streaming near-dup ingest gate
  * (`DocStreams.nearDupFlagsTtl`, the st18 entry's function):
  *
  *  1. with the TTL far above the batch cadence, the TTL'd gate's flags
  *     EQUAL the unbounded gate's on the same delivery — st18's claim,
  *     here at hand-reasoning scale;
  *  2. with an arrival gap LONGER than the TTL, the late duplicate is
  *     ADMITTED (owner expired — the recall loss the knob trades for
  *     bounded state), and the delta vs the unbounded gate is EXACTLY
  *     that late duplicate — nothing else changes;
  *  3. a write refreshes the owner's TTL: the re-admitted duplicate
  *     re-establishes ownership, so a further copy arriving within the
  *     TTL is flagged again (cold buckets forget; live buckets don't).
  *
  * Determinism note: TTL expiry is processing-time wall-clock, which is
  * why the loss is pinned HERE (controlled gaps: sleep ≫ TTL on the
  * expiring leg, TTL = 1 h ≫ any test wall on the non-expiring leg) and
  * not in the DuckDB gate — st18 runs there with the 1-hour TTL, where
  * expiry is impossible and the oracle is st16's.
  */
class TtlIngestGateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val ids = new AtomicInteger(0)

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("ttl-ingest-gate-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // transformWithState is RocksDB-only in Spark 4 (the st13 note)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
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

  /** ProcessingTime-mode TWS never quiesces (`shouldRunAnotherBatch` is
    * unconditionally true so TTL/timers can fire on empty batches), so
    * `processAllAvailable` would hang on the TTL'd gate — batch
    * settlement is instead detected by the sink reaching the cumulative
    * expected row count (4 band rows per doc with >= 3 tokens). */
  private def awaitSinkRows(q: org.apache.spark.sql.streaming.StreamingQuery,
      name: String, n: Long): Unit = {
    val deadline = System.currentTimeMillis() + 120000L
    while (spark.table(name).count() < n) {
      // a failed query must surface its real exception immediately, not
      // a generic stuck-below-n timeout two minutes later
      q.exception.foreach(throw _)
      if (!q.isActive)
        fail(s"query for $name terminated below $n rows with no exception")
      if (System.currentTimeMillis() > deadline)
        fail(s"sink $name stuck below $n rows")
      Thread.sleep(50)
    }
  }

  /** Drives `batches` through the gate one micro-batch each, sleeping
    * `gapMillis` before every batch after the first; returns the settled
    * per-doc flag (max over the doc's band rows, the st16 fold). */
  private def runGate(ttlMillis: Option[Long],
      batches: Seq[Seq[(Long, String)]], gapMillis: Long): Map[Long, Long] = {
    val sp = spark
    import sp.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = sp.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val flags = ttlMillis match {
      case Some(t) => DocStreams.nearDupFlagsTtl(docs, t)
      case None => DocStreams.nearDupFlags(docs)
    }
    val name = s"ttlgate_${ids.incrementAndGet()}"
    val ckpt = tempDir("ttlgate-ckpt")
    val q = flags.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      var cum = 0L
      batches.zipWithIndex.foreach { case (b, i) =>
        if (i > 0 && gapMillis > 0) Thread.sleep(gapMillis)
        in.addData(b)
        cum += 4L * b.count(_._2.split(" ").length >= 3)
        awaitSinkRows(q, name, cum)
      }
    } finally q.stop()
    sp.table(name).groupBy(col("doc_id")).agg(max(col("dup")).as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private val dupText = "exact duplicate text that returns after a quiet spell"
  // three batches: the owner, then (after the gap) a late copy plus an
  // unrelated doc, then (immediately) a further copy
  private val batches = Seq(
    Seq(1L -> dupText,
      2L -> "some entirely unrelated filler prose with its own words"),
    Seq(10L -> dupText,
      11L -> "another distinct document that matches nothing at all"),
    Seq(20L -> dupText))

  test("TTL far above cadence: TTL'd gate equals the unbounded gate") {
    val unbounded = runGate(None, batches, gapMillis = 0)
    val ttlLong = runGate(Some(3600L * 1000), batches, gapMillis = 0)
    assert(ttlLong === unbounded)
    assert(unbounded === Map(1L -> 0L, 2L -> 0L, 10L -> 1L, 11L -> 0L, 20L -> 1L))
  }

  test("gap beyond TTL admits the late duplicate; the delta is exactly that doc") {
    // 8 s TTL, 20 s gaps: batch-1's owner has expired by batch 2. Batch 3
    // also sleeps 20 s, so doc 10's refreshed ownership must survive ITS
    // own gap — no: 20 s > 8 s, so doc 20 is ALSO admitted here; the
    // refresh property gets its own test below with no gap before batch 3.
    // The margins are wide on BOTH sides (12 s of expiry slack on the
    // gap leg; the no-gap leg below has the full 8 s TTL of slack for
    // micro-batch latency) so a loaded CI machine cannot flake either
    // direction — the original 2 s TTL left only ~2 s for batch
    // processing, and the r12 fix's 15 s / 45 s bought the same margins
    // with ~75 s more pure sleep per suite run than this ratio.
    val ttld = runGate(Some(8000L), batches, gapMillis = 20000)
    val unbounded = Map(1L -> 0L, 2L -> 0L, 10L -> 1L, 11L -> 0L, 20L -> 1L)
    assert(ttld === unbounded ++ Map(10L -> 0L, 20L -> 0L),
      "every copy arriving after the owner aged out is admitted; nothing else moves")
  }

  test("a write refreshes the TTL: a copy within the horizon is still flagged") {
    // gap only before batch 2 (20 s > TTL): doc 10 admitted, but its own
    // write re-establishes ownership; batch 3 follows immediately, so
    // doc 20 is flagged by the REFRESHED owner — and the 8 s TTL gives
    // batch 3 seconds of processing slack rather than ~2 s
    val sp = spark
    import sp.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = sp.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val name = s"ttlgate_${ids.incrementAndGet()}"
    val ckpt = tempDir("ttlgate-ckpt")
    val q = DocStreams.nearDupFlagsTtl(docs, 8000L)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      in.addData(batches(0)); awaitSinkRows(q, name, 8)
      Thread.sleep(20000)
      in.addData(batches(1)); awaitSinkRows(q, name, 16)
      in.addData(batches(2)); awaitSinkRows(q, name, 20) // no gap
    } finally q.stop()
    val out = sp.table(name).groupBy(col("doc_id")).agg(max(col("dup")).as("nd"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 2L -> 0L, 10L -> 0L, 11L -> 0L, 20L -> 1L))
  }
}

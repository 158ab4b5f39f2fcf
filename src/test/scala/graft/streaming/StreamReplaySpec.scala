package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Regression specs for the MemoryStream replay harness behind the st01/
  * st02 correctness-gate entries — chiefly the watermark-tick protocol:
  * ticks must use an event type the operators' own filters KEEP, because
  * the optimizer pushes those filters below the EventTimeWatermark node
  * and a filtered-out tick would never advance event time (leaving any
  * window ending inside the final watermark-delay of real event time
  * permanently open).
  */
class StreamReplaySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("stream-replay-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    dirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A temp dir deleted in afterAll. */
  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs += d
    d.toString
  }

  private def writeEvents(rows: Seq[(Long, Timestamp, Long, String, Double)]): String = {
    val sp = spark; import sp.implicits._
    val dir = tempDir("replayspec")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("st01 emits a funnel row for a signup that is the LAST event in the stream") {
    // user 10: full conversion well inside the corpus; user 20: signs up
    // at the very last real timestamp — its 24h window end is far beyond
    // max(ts) - watermark delay, so only the far-future ticks can close
    // it. Before the tick-type fix this user's row was silently never
    // emitted (n_signup read 1).
    val dir = writeEvents(Seq(
      (1L, ts("2026-01-01 08:00:00"), 10L, "signup", 0.0),
      (2L, ts("2026-01-01 09:00:00"), 10L, "view", 1.0),
      (3L, ts("2026-01-01 09:30:00"), 10L, "purchase", 5.0),
      (4L, ts("2026-01-02 00:00:00"), 20L, "signup", 0.0)))
    val row = StreamReplay.st01_funnel_stream(spark, dir).collect().head
    assert(row.getLong(row.fieldIndex("n_signup")) === 2L)
    assert(row.getLong(row.fieldIndex("n_view_24h")) === 1L)
    assert(row.getLong(row.fieldIndex("n_purchase_24h")) === 1L)
  }

  test("st02 cohort counts match the batch formulation on a replay") {
    // two users in week w, one returning the following week; tick events
    // (negative user ids) must not register as a far-future cohort
    val w0 = ts("2026-01-05 10:00:00") // some week
    val w1 = ts("2026-01-12 10:00:00") // +7 days
    val dir = writeEvents(Seq(
      (1L, w0, 10L, "view", 1.0),
      (2L, w0, 20L, "view", 1.0),
      (3L, w1, 10L, "click", 1.0)))
    val out = StreamReplay.st02_cohort_stream(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cohort = w0.getTime / 604800000L
    assert(out.toSeq === Seq((cohort, 0L, 2L), (cohort, 1L, 1L)))
  }

  test("st03 closes every real window and strips the tick buckets") {
    // two hour-buckets of real data; the last real window ends almost an
    // hour after the last event — only the far-future ticks can close
    // it, and the ticks' own "view" rows must NOT appear in the output.
    // Expected buckets derive from EPOCH hour floors (Spark's window()
    // is epoch-aligned), not from local wall-clock hours, so the test
    // holds under any JVM default timezone; minutes :01-:05 keep the
    // events inside one epoch hour for every real-world UTC offset
    // (offsets are multiples of 15 min)
    val e1 = ts("2026-01-01 08:01:00")
    val e2 = ts("2026-01-01 08:05:00")
    val e3 = ts("2026-01-01 09:01:00")
    val dir = writeEvents(Seq(
      (1L, e1, 10L, "view", 1.0),
      (2L, e2, 20L, "click", 2.0),
      (3L, e3, 10L, "view", 4.0)))
    val out = StreamReplay.st03_windowed_stream(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val b1 = e1.getTime / 3600000 * 3600
    val b2 = e3.getTime / 3600000 * 3600
    assert(out.toSeq === Seq(
      (b1, "click", 1L, 2.0), (b1, "view", 1L, 1.0),
      (b2, "view", 1L, 4.0)))
  }

  test("st04 ranks event types per closed window, ticks stripped") {
    // one hour-bucket with 4 types (top-3 cut drops the rarest), ties
    // broken by type name; the tick windows must not surface
    val dir = writeEvents(Seq(
      (1L, ts("2026-01-01 08:01:00"), 10L, "view", 1.0),
      (2L, ts("2026-01-01 08:02:00"), 11L, "view", 1.0),
      (3L, ts("2026-01-01 08:03:00"), 12L, "click", 1.0),
      (4L, ts("2026-01-01 08:04:00"), 13L, "click", 1.0),
      (5L, ts("2026-01-01 08:05:00"), 14L, "signup", 1.0),
      (6L, ts("2026-01-01 08:06:00"), 15L, "purchase", 1.0)))
    val out = StreamReplay.st04_topk_stream(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // epoch hour floor (minutes :01-:06 stay inside one epoch hour under
    // any real UTC offset), not the local wall-clock hour
    val h8 = ts("2026-01-01 08:01:00").getTime / 3600000 * 3600000
    assert(out.toSeq === Seq(
      (h8, 1, "click", 2L), (h8, 2, "view", 2L), (h8, 3, "purchase", 1L)))
  }

  test("st05 joins clicks to preceding-hour views; ticks never join") {
    // click at 09:00 sees the 08:30 view (30 min back) but not the
    // 07:30 view (90 min back) nor the 09:30 view (after the click)
    val dir = writeEvents(Seq(
      (1L, ts("2026-01-01 07:30:00"), 10L, "view", 1.0),
      (2L, ts("2026-01-01 08:30:00"), 10L, "view", 1.0),
      (3L, ts("2026-01-01 09:00:00"), 10L, "click", 1.0),
      (4L, ts("2026-01-01 09:30:00"), 10L, "view", 1.0)))
    val out = StreamReplay.st05_interval_join_stream(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((10L, 3L, 2L)))
  }

  test("st06 dedup: doubled replay collapses to the distinct table via state hits") {
    // the harness stages the table twice into batch 1 (6 physical rows
    // here), so every id probes dedup state once — the output must be
    // exactly the 3 distinct events
    val dir = writeEvents(Seq(
      (1L, ts("2026-01-01 08:00:00"), 10L, "view", 1.0),
      (2L, ts("2026-01-01 08:05:00"), 11L, "click", 2.0),
      (3L, ts("2026-01-01 09:00:00"), 10L, "purchase", 3.0)))
    val out = StreamReplay.st06_dedup_stream(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3), r.getDouble(4)))
    assert(out.toSeq === Seq(
      (1L, 10L, "view", 1.0), (2L, 11L, "click", 2.0), (3L, 10L, "purchase", 3.0)))
  }

  test("RocksDB state store provider: same results as the default provider") {
    // stateStore=Some("rocksdb") swaps the HDFS-backed in-memory provider
    // for RocksDB (the 100×-state deployment shape: state off-heap on
    // executor-local disk). Semantics must be identical — run the two
    // heaviest state paths (flatMapGroupsWithState via st02's operator,
    // windowed aggregation via st03's) under both providers and compare
    // exactly. The override is threaded as a parameter (not the global
    // graft.stateStore system property, which a parallel suite run would
    // race on); the sys-prop path stays the production default and is
    // resolved through the same resolveStateStore.
    import org.apache.spark.sql.functions.{col, round, timestamp_millis, lit, unix_timestamp}
    import org.apache.spark.sql.streaming.OutputMode
    val w0 = ts("2026-01-05 10:00:00")
    val w1 = ts("2026-01-12 10:00:00")
    val dir = writeEvents(Seq(
      (1L, w0, 10L, "view", 1.0),
      (2L, w0, 20L, "view", 1.0),
      (3L, w1, 10L, "click", 1.0)))
    def run(store: Option[String]) = (
      StreamReplay.replayFiles(spark, dir, OutputMode.Complete(),
          StreamReplay.Events(ds => EventStreams.cohortCounts(ds.filter(_.user_id >= 0L))),
          stateStore = store)
        .df.orderBy(col("cohort_week"), col("k")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
      {
        val r = StreamReplay.replayFiles(spark, dir, OutputMode.Append(),
          StreamReplay.Events(ds => EventStreams.windowedCounts(ds.toDF())),
          stateStore = store)
        r.df.filter(col("bucket_start") <= timestamp_millis(lit(r.maxTs)))
          .select(unix_timestamp(col("bucket_start")), col("event_type"),
            col("n"), col("total_value"))
          .orderBy(col("bucket_start"), col("event_type")).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
      })
    val default = run(None)
    val rocks = run(Some("rocksdb"))
    assert(rocks === default)
    val cohort = w0.getTime / 604800000L
    assert(default._1 === Seq((cohort, 0L, 2L), (cohort, 1L, 1L)))
  }

  test("unknown state store value is rejected, not silently ignored") {
    val e = intercept[IllegalArgumentException](
      StreamReplay.resolveStateStore(Some("cassandra")))
    assert(e.getMessage.contains("cassandra"))
  }

  test("multi-batch replay: chunked staging runs >1 micro-batches, identical results") {
    // Sessions crossing chunk boundaries are the point: user 10's first
    // session spans 08:00-08:40 (three chunk files apart), so its state
    // must carry and EXTEND across micro-batches, and the 10:00 event
    // must split a new session after the watermark advanced between
    // batches; user 20's 85-minute gap splits two singleton sessions.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.OutputMode
    val dir = writeEvents(Seq(
      (1L, ts("2026-01-01 08:00:00"), 10L, "view", 1.0),
      (2L, ts("2026-01-01 08:10:00"), 10L, "view", 2.0),
      (3L, ts("2026-01-01 08:20:00"), 10L, "click", 3.0),
      (4L, ts("2026-01-01 08:40:00"), 10L, "view", 4.0),
      (5L, ts("2026-01-01 10:00:00"), 10L, "purchase", 5.0),
      (6L, ts("2026-01-01 08:05:00"), 20L, "view", 1.0),
      (7L, ts("2026-01-01 09:30:00"), 20L, "view", 1.0)))
    def sessions(staging: StreamReplay.Staging): (Seq[(Long, Long, Double, Long)], Long) = {
      val r = StreamReplay.replayFiles(spark, dir, OutputMode.Append(),
        StreamReplay.Events(ds => EventStreams.sessionize(ds).toDF()), staging)
      // time-ranged chunking must NEVER make a row watermark-late — the
      // invariant the multi-batch staging's hash-parity claim rests on
      assert(r.lateDropped === 0L,
        s"chunked staging late-dropped ${r.lateDropped} rows")
      (r.df.filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("n_events"), col("duration_ms")).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3))).toSeq,
        r.batches)
    }
    val (single, _) = sessions(StreamReplay.Whole)
    val (multi, batches) = sessions(StreamReplay.Chunks(4))
    // at least one micro-batch per chunk file plus the two tick batches
    assert(batches >= 6, s"expected a genuinely multi-batch run, got $batches")
    assert(multi === single)
    assert(single === Seq(
      (10L, 1L, 5.0, 0L), (10L, 4L, 10.0, 2400000L),
      (20L, 1L, 1.0, 0L), (20L, 1L, 1.0, 0L)))
    // the windowed-aggregation path: gate entry vs its multi-batch twin
    val st03 = StreamReplay.st03_windowed_stream(spark, dir).collect().toSeq
    val st03b = StreamReplay.st03b_windowed_multibatch(spark, dir).collect().toSeq
    assert(st03b === st03)
    assert(st03.nonEmpty)
    // cohort tracking: event-time-ordered chunks mean the first batch
    // containing a user holds their minimum week, so the cohort
    // assignment is batch-count-invariant
    val st02 = StreamReplay.st02_cohort_stream(spark, dir).collect().toSeq
    val st02b = StreamReplay.st02b_cohort_multibatch(spark, dir).collect().toSeq
    assert(st02b === st02)
    assert(st02.nonEmpty)
    // windowed top-k: per-window count maps accumulate across batches and
    // each ranking emits when a LATER batch's watermark closes its window
    val st04 = StreamReplay.st04_topk_stream(spark, dir).collect().toSeq
    val st04b = StreamReplay.st04b_topk_multibatch(spark, dir).collect().toSeq
    assert(st04b === st04)
    assert(st04.nonEmpty)
    // stream-stream interval join: view state buffered in an earlier
    // batch must still match clicks that arrive batches later (user 10's
    // 08:00-08:20 views precede the click by up to 20 min, within 1h)
    val st05 = StreamReplay.st05_interval_join_stream(spark, dir).collect().toSeq
    val st05b = StreamReplay.st05b_interval_join_multibatch(spark, dir).collect().toSeq
    assert(st05b === st05)
    assert(st05.nonEmpty)
  }

  test("cross-batch dedup: every re-sent id is dropped by a state hit a batch later") {
    // events span 50 minutes — far beyond dedupeStream's default
    // 10-minute delay, so the widened st06c delay is load-bearing: it
    // keeps every batch-2 row inside dropDuplicatesWithinWatermark's
    // dedup guarantee. numDroppedDuplicateRows == 3 proves each id's
    // duplicate was eliminated by probing state committed in batch 1;
    // lateDropped stays 0 (this operator never drops late input).
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.streaming.OutputMode
    val dir = writeEvents(Seq(
      (1L, ts("2026-01-01 08:00:00"), 10L, "view", 1.0),
      (2L, ts("2026-01-01 08:20:00"), 10L, "click", 2.0),
      (3L, ts("2026-01-01 08:50:00"), 20L, "view", 3.0)))
    val mm = graft.Tables.events(spark, dir)
      .agg(org.apache.spark.sql.functions.min(col("ts")),
        org.apache.spark.sql.functions.max(col("ts"))).head()
    val spanMin = (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 60000L + 11L
    val r = StreamReplay.replayFiles(spark, dir, OutputMode.Append(),
      StreamReplay.Events(
        ds => EventStreams.dedupeStream(ds.toDF(), watermark = s"$spanMin minutes"),
        ticks = false),
      StreamReplay.Copies(2, batchPerCopy = true))
    assert(r.batches >= 2, s"expected the copies in separate batches, got ${r.batches}")
    assert(r.dupDropped === 3L,
      "each of the 3 re-sent ids must be dropped by a cross-batch state hit")
    assert(r.lateDropped === 0L)
    val out = r.df.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .orderBy(col("event_id")).collect().map(_.getLong(0)).toSeq
    assert(out === Seq(1L, 2L, 3L))
  }

  test("empty events table yields the zero-count row, not a crash") {
    val sp = spark; import sp.implicits._
    val dir = tempDir("replayspec")
    Seq.empty[(Long, Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val funnel = StreamReplay.st01_funnel_stream(spark, dir).collect()
    assert(funnel.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((0L, 0L, 0L)))
    assert(StreamReplay.st02_cohort_stream(spark, dir).collect().isEmpty)
  }

  test("st08 stream-static enrichment: multi-batch replay equals the batch join") {
    import org.apache.spark.sql.functions.{broadcast, col}
    import org.apache.spark.sql.streaming.OutputMode
    val sp = spark; import sp.implicits._
    val dir = tempDir("replayspec")
    // 40 events across 4 users / a wide time range (so the 4 ranged
    // chunks are non-degenerate); user 99 has no dimension row → inner
    // join drops it, the stream-static semantics under test
    val rows = (0 until 40).map { i =>
      val uid = if (i % 10 == 9) 99L else (i % 3).toLong
      (i.toLong, ts(f"2024-01-${i % 27 + 1}%02d 0${i % 9 + 1}:00:00"),
        uid, "view", i * 1.5)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Seq((0L, "AUTOMOBILE"), (1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val cust = graft.Tables.customer(spark, dir)
    val r = StreamReplay.replayFiles(spark, dir, OutputMode.Append(),
      StreamReplay.Events(
        ds => ds.toDF().join(broadcast(cust), col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("c_mktsegment")),
        ticks = false),
      StreamReplay.Chunks(4))
    assert(r.batches >= 4, s"expected one micro-batch per chunk, got ${r.batches}")
    assert(r.lateDropped === 0) // stateless join: nothing is ever late
    val got = r.df.orderBy(col("event_id")).collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq
    val want = graft.Tables.events(spark, dir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("c_mktsegment")).orderBy(col("event_id"))
      .collect().map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(got === want)
    assert(got.size === 36) // the 4 user-99 events dropped by the join
  }

  test("st09 sink path: windows commit across batches; a retry STORM is idempotent") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    import org.apache.spark.sql.streaming.OutputMode
    val dir = writeEvents((0 until 60).map { i =>
      (i.toLong, ts(f"2024-01-${i % 20 + 1}%02d 0${i % 9 + 1}:30:00"),
        (i % 5).toLong, "view", 1.0 * i)
    })
    val out = tempDir("st09spec")
    val r = StreamReplay.replayFiles(spark, dir, OutputMode.Append(),
      StreamReplay.Events(ds => EventStreams.windowedCounts(ds.toDF())),
      StreamReplay.Chunks(4),
      foreachBatch = Some((b: org.apache.spark.sql.DataFrame, id: Long) =>
        EventStreams.writeBatchIdempotent(b, id, out)))
    assert(r.batches >= 4)
    val once = spark.read.parquet(out)
    // watermark advances BETWEEN batches, so windows must have closed in
    // at least two different batches (not all at the final ticks)
    val nBatches = once.agg(countDistinct(col("batch_id"))).head().getLong(0)
    assert(nBatches >= 2, s"windows closed in only $nBatches batch(es)")
    val before = once.drop("batch_id").orderBy("bucket_start", "event_type")
      .collect().toSeq
    // re-deliver EVERY committed batch (worst-case at-least-once retry
    // storm): dynamic idempotent overwrite must leave the sink unchanged
    once.select(col("batch_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).foreach { id =>
        val rows = spark.read.parquet(out)
          .filter(col("batch_id").cast("long") === id)
          .drop("batch_id").localCheckpoint()
        EventStreams.writeBatchIdempotent(rows, id, out)
      }
    val after = spark.read.parquet(out).drop("batch_id")
      .orderBy("bucket_start", "event_type").collect().toSeq
    assert(after === before)
  }

  test("st20-st23 leave no scratch store dir when the events table cannot be staged") {
    // staging runs inside each entry's try: a missing events table must
    // still delete the entry's snapshot-store dir (Scratch.tempDir puts
    // it under /dev/shm when writable, else java.io.tmpdir)
    val roots = Seq(new java.io.File("/dev/shm"), new java.io.File(System.getProperty("java.io.tmpdir")))
    def scratch(prefix: String): Set[String] =
      roots.flatMap(r => Option(r.listFiles()).toSeq.flatten)
        .filter(_.getName.startsWith(prefix)).map(_.getPath).toSet
    val dir = tempDir("replayspec-noevents")
    Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "graft-st20-target" -> StreamReplay.st20_time_travel_read,
      "graft-st21-target" -> StreamReplay.st21_cdc_apply_pruned,
      "graft-st22-target" -> StreamReplay.st22_version_diff,
      "graft-st23-target" -> StreamReplay.st23_cdc_delete).foreach { case (prefix, entry) =>
      val before = scratch(prefix)
      intercept[Exception](entry(spark, dir))
      assert(scratch(prefix) -- before === Set.empty[String], s"$prefix dir leaked")
    }
  }
}

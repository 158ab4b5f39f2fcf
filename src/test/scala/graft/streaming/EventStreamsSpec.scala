package graft.streaming

import graft.TempDirs
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class EventStreamsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = new TempDirs

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("event-streams-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    tmp.deleteAll()
  }

  private def ts(hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 $hour%02d:$minute%02d:00")

  test("windowed counts over a memory stream with watermark") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.windowedCounts(input.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Append()).start()

    input.addData(
      EventStreams.Event(1, ts(1, 5), 10, "click", 1.0),
      EventStreams.Event(2, ts(1, 15), 11, "click", 2.0),
      EventStreams.Event(3, ts(1, 30), 10, "view", 5.0))
    query.processAllAvailable()
    // advance the watermark far enough to close hour-1 windows
    input.addData(EventStreams.Event(4, ts(3, 0), 12, "click", 1.0))
    query.processAllAvailable()

    val rows = spark.table("wc")
      .select(col("bucket_start"), col("event_type"), col("n"), col("total_value"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1.getTime, r._2))
    assert(rows.toSeq === Seq(
      (ts(1, 0), "click", 2L, 3.0),
      (ts(1, 0), "view", 1L, 5.0)))
    query.stop()
  }

  test("streaming transform equals its batch twin (backfill parity)") {
    val sp = spark; import sp.implicits._
    val batch = Seq(
      EventStreams.Event(1, ts(1, 5), 10, "click", 1.0),
      EventStreams.Event(2, ts(1, 15), 11, "click", 2.0),
      EventStreams.Event(3, ts(2, 30), 10, "view", 5.0)).toDF()
    val out = EventStreams.windowedCounts(batch).orderBy("bucket_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      (ts(1, 0), "click", 2L, 3.0),
      (ts(2, 0), "view", 1L, 5.0)))
  }

  test("sessionize splits sessions WITHIN one micro-batch (backfill = live)") {
    // a backfill can deliver a user's whole history in batch 1: two
    // bursts 2h apart must come out as two sessions, not one lump — the
    // first emitted at the intra-batch gap walk, the second at timeout
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess_split").outputMode(OutputMode.Append()).start()
    input.addData(
      EventStreams.Event(1, ts(1, 0), 10, "click", 1.0),
      EventStreams.Event(2, ts(1, 10), 10, "click", 2.0),
      EventStreams.Event(3, ts(3, 0), 10, "view", 4.0),
      EventStreams.Event(4, ts(3, 5), 10, "view", 8.0))
    query.processAllAvailable()
    // advance the watermark past 3:05+30min so the open session times out
    input.addData(EventStreams.Event(5, ts(6, 0), 99, "view", 1.0))
    query.processAllAvailable()
    input.addData(EventStreams.Event(6, ts(8, 0), 98, "view", 1.0))
    query.processAllAvailable()
    val u10 = spark.table("sess_split").as[EventStreams.SessionOut].collect()
      .filter(_.user_id == 10L).sortBy(_.total_value)
    assert(u10.map(s => (s.n_events, s.total_value, s.duration_ms)).toSeq === Seq(
      (2L, 3.0, 10 * 60 * 1000L), (2L, 12.0, 5 * 60 * 1000L)))
    query.stop()
  }

  test("sessionize with flatMapGroupsWithState closes sessions as the watermark passes") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    // 30-minute event-time gap, 10-minute watermark delay
    val query = EventStreams.sessionize(input.toDS(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append()).start()

    input.addData(
      EventStreams.Event(1, ts(1, 0), 10, "click", 1.0),
      EventStreams.Event(2, ts(1, 5), 10, "click", 2.0))
    query.processAllAvailable()
    // watermark jumps to 3:50 — past 1:05+30min, so user 10's session closes
    input.addData(EventStreams.Event(3, ts(4, 0), 99, "view", 1.0))
    query.processAllAvailable()
    input.addData(EventStreams.Event(4, ts(6, 0), 98, "view", 1.0))
    query.processAllAvailable()

    val sessions = spark.table("sess").as[EventStreams.SessionOut].collect()
    val u10 = sessions.find(_.user_id == 10L)
    assert(u10.isDefined)
    assert(u10.get.n_events === 2L)
    assert(u10.get.total_value === 3.0)
    assert(u10.get.duration_ms === 5 * 60 * 1000L)
    query.stop()
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.dedupeStream(input.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()

    input.addData(
      EventStreams.Event(1, ts(1, 0), 10, "click", 1.0),
      EventStreams.Event(1, ts(1, 0), 10, "click", 1.0), // exact dup
      EventStreams.Event(2, ts(1, 5), 11, "view", 2.0))
    query.processAllAvailable()
    input.addData(EventStreams.Event(1, ts(1, 6), 10, "click", 1.0)) // late dup, still in state
    query.processAllAvailable()

    val ids = spark.table("dedup").collect().map(_.getAs[Long]("event_id")).sorted
    assert(ids.toSeq === Seq(1L, 2L))
    query.stop()
  }

  test("stream-stream interval join matches clicks to preceding views") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.clickViewJoin(input.toDF())
      .writeStream.format("memory").queryName("cvj").outputMode(OutputMode.Append()).start()

    input.addData(
      EventStreams.Event(1, ts(1, 0), 10, "view", 1.0),
      EventStreams.Event(2, ts(1, 30), 10, "click", 1.0), // joins view 1 (30min gap)
      EventStreams.Event(3, ts(1, 0), 11, "view", 1.0),
      EventStreams.Event(4, ts(3, 0), 11, "click", 1.0))  // 2h gap: outside window
    query.processAllAvailable()
    input.addData(EventStreams.Event(5, ts(6, 0), 99, "view", 1.0)) // advance watermark
    query.processAllAvailable()

    val rows = spark.table("cvj").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"), r.getAs[Long]("view_id")))
    assert(rows.toSeq === Seq((10L, 2L, 1L)))
    query.stop()
  }

  test("file-stream wiring over parquet events") {
    val sp = spark; import sp.implicits._
    val dir = tmp("events-stream")
    Seq(
      EventStreams.Event(1, ts(1, 5), 10, "click", 1.0),
      EventStreams.Event(2, ts(1, 10), 11, "click", 3.0),
      EventStreams.Event(3, ts(4, 0), 12, "view", 2.0))
      .toDF().write.mode("overwrite").parquet(dir)
    val q = EventStreams.streamEventsToMemory(spark, dir, "filewc")
    q.processAllAvailable()
    // append mode: only windows closed by the watermark (hour 1 < 4:00-10m)
    val rows = spark.table("filewc").collect()
    assert(rows.map(_.getLong(2)).sum === 2L)
    q.stop()
  }

  test("sliding windows: each event lands in length/slide overlapping windows") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.slidingCounts(input.toDF(),
        watermark = "10 minutes", windowLen = "1 hour", slide = "15 minutes")
      .writeStream.format("memory").queryName("slide")
      .outputMode(OutputMode.Append()).start()
    input.addData(EventStreams.Event(1, ts(1, 20), 10, "click", 2.0))
    input.addData(EventStreams.Event(99, ts(5, 0), 11, "view", 1.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("slide")
      .filter(col("event_type") === "click").collect()
    // 1:20 event → windows starting 0:30, 0:45, 1:00, 1:15 (4 = 60/15)
    assert(rows.length === 4)
    assert(rows.map(_.getAs[java.sql.Timestamp]("bucket_start").toString).sorted.toSeq ===
      Seq("2026-01-01 00:30:00.0", "2026-01-01 00:45:00.0",
        "2026-01-01 01:00:00.0", "2026-01-01 01:15:00.0"))
    assert(rows.forall(_.getAs[Long]("n") === 1L))
  }

  test("streaming windowed funnel: conversion, window cutoff, out-of-order signup claim") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.funnelWindow(input.toDS(),
        windowMs = 3600 * 1000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("funnel").outputMode(OutputMode.Append()).start()

    // batch 1 — keep max ts at 1:10 so the watermark (1:00) still admits
    // user 13's LATER-ARRIVING signup with EARLIER event time
    input.addData(
      EventStreams.Event(1, ts(1, 0), 10, "signup", 0.0),
      EventStreams.Event(2, ts(1, 10), 12, "view", 0.0), // user 12: never signs up
      EventStreams.Event(3, ts(1, 10), 13, "view", 0.0)) // arrives BEFORE its signup
    query.processAllAvailable()
    // batch 2 — the out-of-order signup (1:05 ≥ watermark 1:00) plus the rest
    input.addData(
      EventStreams.Event(4, ts(1, 5), 13, "signup", 0.0),
      EventStreams.Event(5, ts(1, 20), 10, "view", 0.0),
      EventStreams.Event(6, ts(1, 40), 10, "purchase", 0.0),
      EventStreams.Event(7, ts(1, 10), 11, "signup", 0.0),
      EventStreams.Event(8, ts(1, 30), 11, "view", 0.0),
      EventStreams.Event(9, ts(2, 35), 11, "purchase", 0.0)) // 2:35 > 1:10+1h — outside
    query.processAllAvailable()
    // advance the watermark past every signup+window so windows close
    input.addData(EventStreams.Event(90, ts(5, 0), 99, "view", 0.0))
    query.processAllAvailable()
    input.addData(EventStreams.Event(91, ts(6, 0), 99, "view", 0.0))
    query.processAllAvailable()

    val out = spark.table("funnel").as[EventStreams.FunnelResult].collect()
      .sortBy(_.user_id)
    assert(out.map(_.user_id).toSeq === Seq(10L, 11L, 13L)) // 12 never signed up
    val u10 = out(0)
    assert(u10.signup_ms === ts(1, 0).getTime)
    assert(u10.view_ms === Some(ts(1, 20).getTime))
    assert(u10.purchase_ms === Some(ts(1, 40).getTime))
    val u11 = out(1)
    assert(u11.view_ms === Some(ts(1, 30).getTime))
    assert(u11.purchase_ms === None) // purchase fell outside the window
    val u13 = out(2)
    assert(u13.signup_ms === ts(1, 5).getTime)
    assert(u13.view_ms === Some(ts(1, 10).getTime)) // claimed by the late signup
    query.stop()
  }

  test("windowed funnel closes inline for a never-silent user (no timeout starvation)") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.funnelWindow(input.toDS(),
        windowMs = 3600 * 1000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("funnel2").outputMode(OutputMode.Append()).start()
    input.addData(
      EventStreams.Event(1, ts(1, 0), 10, "signup", 0.0),
      EventStreams.Event(2, ts(1, 30), 10, "view", 0.0))
    query.processAllAvailable()
    // user 10 NEVER goes silent: every subsequent batch contains their
    // events, so Spark never fires the group's timeout — the close must
    // happen inline once the watermark passes 2:00
    for (h <- 3 to 5) {
      input.addData(EventStreams.Event(10L + h, ts(h, 0), 10, "view", 0.0))
      query.processAllAvailable()
    }
    val out = spark.table("funnel2").as[EventStreams.FunnelResult].collect()
    assert(out.length === 1)
    assert(out.head.user_id === 10L)
    assert(out.head.signup_ms === ts(1, 0).getTime)
    assert(out.head.view_ms === Some(ts(1, 30).getTime))
    query.stop()
  }

  test("windowed funnel: a re-signup in the closing batch starts a fresh episode") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.funnelWindow(input.toDS(),
        windowMs = 3600 * 1000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("funnel3").outputMode(OutputMode.Append()).start()
    // episode 1: signup 1:00, view 1:20
    input.addData(
      EventStreams.Event(1, ts(1, 0), 10, "signup", 0.0),
      EventStreams.Event(2, ts(1, 20), 10, "view", 0.0))
    query.processAllAvailable()
    // push the watermark past episode 1's window end (2:00)
    input.addData(EventStreams.Event(3, ts(4, 0), 99, "view", 0.0))
    query.processAllAvailable()
    // the CLOSING batch itself carries the user's fresh signup + view:
    // the inline close emits episode 1 and must SEED episode 2 from this
    // batch's events, not drop them with the old state
    input.addData(
      EventStreams.Event(4, ts(4, 0), 10, "signup", 0.0),
      EventStreams.Event(5, ts(4, 20), 10, "view", 0.0))
    query.processAllAvailable()
    // close episode 2 via timeout
    input.addData(EventStreams.Event(6, ts(6, 0), 99, "view", 0.0))
    query.processAllAvailable()
    input.addData(EventStreams.Event(7, ts(7, 0), 99, "view", 0.0))
    query.processAllAvailable()
    val rows = spark.table("funnel3").as[EventStreams.FunnelResult].collect()
      .filter(_.user_id == 10L).sortBy(_.signup_ms)
    assert(rows.length === 2, s"expected two episodes, got ${rows.toSeq}")
    assert(rows(0).signup_ms === ts(1, 0).getTime)
    assert(rows(0).view_ms === Some(ts(1, 20).getTime))
    assert(rows(1).signup_ms === ts(4, 0).getTime)
    assert(rows(1).view_ms === Some(ts(4, 20).getTime))
    query.stop()
  }

  test("streaming windowed top-k emits complete-window rankings at watermark close") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    val query = EventStreams.topKPerWindow(input.toDS(), k = 2,
        windowMs = 3600 * 1000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("wtopk").outputMode(OutputMode.Append()).start()

    // hour-1 window: click×3, view×2, error×1 → top2 = click, view
    input.addData(
      EventStreams.Event(1, ts(1, 0), 10, "click", 0.0),
      EventStreams.Event(2, ts(1, 5), 11, "click", 0.0),
      EventStreams.Event(3, ts(1, 10), 12, "view", 0.0),
      EventStreams.Event(4, ts(1, 20), 13, "error", 0.0))
    query.processAllAvailable()
    // counts accumulate ACROSS batches within the window
    input.addData(
      EventStreams.Event(5, ts(1, 40), 14, "click", 0.0),
      EventStreams.Event(6, ts(1, 50), 15, "view", 0.0))
    query.processAllAvailable()
    assert(spark.table("wtopk").isEmpty) // window still open: nothing emitted
    // advance watermark past 2:00 + 10min → hour-1 window closes
    input.addData(EventStreams.Event(7, ts(3, 0), 99, "purchase", 0.0))
    query.processAllAvailable()
    input.addData(EventStreams.Event(8, ts(4, 0), 99, "purchase", 0.0))
    query.processAllAvailable()

    val out = spark.table("wtopk").as[EventStreams.WindowTopK].collect()
      .filter(_.window_start_ms == ts(1, 0).getTime).sortBy(_.rank)
    assert(out.map(r => (r.rank, r.event_type, r.n)).toSeq ===
      Seq((1, "click", 3L), (2, "view", 2L)))
    query.stop()
  }

  test("streaming cohort tracker: first-week cohorts, honest negative-k corrections") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    def dts(day: Int): Timestamp = Timestamp.valueOf(f"2026-01-$day%02d 12:00:00")
    def wk(t: Timestamp): Long = t.getTime / 604800000L
    val input = MemoryStream[EventStreams.Event]
    // 30-day watermark so cross-week out-of-order arrivals are admitted
    val query = EventStreams.cohortUpdates(input.toDS(), watermark = "30 days")
      .writeStream.format("memory").queryName("cohort").outputMode(OutputMode.Append()).start()

    input.addData(
      EventStreams.Event(1, dts(1), 1, "view", 0.0),
      EventStreams.Event(2, dts(15), 2, "view", 0.0)) // user 2 first seen LATE week
    query.processAllAvailable()
    input.addData(
      EventStreams.Event(3, dts(8), 1, "view", 0.0),   // next week → k=+1
      EventStreams.Event(4, dts(1), 1, "click", 0.0),  // same week dup → no new row
      EventStreams.Event(5, dts(1), 2, "view", 0.0))   // EARLIER week → negative k
    query.processAllAvailable()

    val hits = spark.table("cohort").as[EventStreams.CohortHit].collect()
      .map(h => (h.user_id, h.cohort_week, h.k)).sortBy(h => (h._1, h._3))
    assert(hits.filter(_._1 == 1L).toSeq ===
      Seq((1L, wk(dts(1)), 0L), (1L, wk(dts(1)), wk(dts(8)) - wk(dts(1)))))
    // user 2's cohort stays fixed at first observation; the earlier week
    // surfaces as a negative-k correction row
    assert(hits.filter(_._1 == 2L).toSeq ===
      Seq((2L, wk(dts(15)), wk(dts(1)) - wk(dts(15))), (2L, wk(dts(15)), 0L)))
    query.stop()
  }

  test("cohortCounts backfill (batch mode) equals the a05 retention triangle") {
    val sp = spark; import sp.implicits._
    val dir = "/root/testdata/sf0.001"
    val events = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Event]
    val streamTwin = EventStreams.cohortCounts(events)
      .collect().map(r => (r.getAs[Long]("cohort_week"), r.getAs[Long]("k"), r.getAs[Long]("n_users")))
      .sortBy(t => (t._1, t._2))
    val batch = graft.operators.EventJoins.a05_cohort_retention(spark, dir)
      .collect().map(r => (r.getAs[Long]("cohort_week"), r.getAs[Long]("k"), r.getAs[Long]("n_users")))
      .sortBy(t => (t._1, t._2))
    assert(streamTwin.toSeq === batch.toSeq)
  }

  test("a06 windowed funnel: monotone stages, signup count matches a04") {
    val dir = "/root/testdata/sf0.001"
    val a06 = graft.operators.EventJoins.a06_funnel_windowed(spark, dir).head()
    val a04 = graft.operators.EventJoins.a04_funnel(spark, dir).head()
    assert(a06.getAs[Long]("n_signup") === a04.getAs[Long]("n_signup"))
    assert(a06.getAs[Long]("n_signup") >= a06.getAs[Long]("n_view_24h"))
    assert(a06.getAs[Long]("n_view_24h") >= a06.getAs[Long]("n_purchase_24h"))
    // windowing can only shrink the unwindowed funnel stages
    assert(a04.getAs[Long]("n_view_after_signup") >= a06.getAs[Long]("n_view_24h"))
  }

  test("exactly-once parquet sink: batch replay is idempotent") {
    val sp = spark; import sp.implicits._
    val out = tmp("eo-sink") + "/out"
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")
    EventStreams.writeBatchIdempotent(b0, 0L, out)
    EventStreams.writeBatchIdempotent(b1, 1L, out)
    // at-least-once delivery: batch 0 replays after a simulated failure —
    // the partition overwrite must leave exactly one copy
    EventStreams.writeBatchIdempotent(b0, 0L, out)
    val rows = spark.read.parquet(out).collect()
    assert(rows.length === 3)
    assert(rows.map(_.getAs[Long]("id")).sorted.toSeq === Seq(1L, 2L, 3L))
    // committed batch 1 untouched by the replay of batch 0
    // partition discovery infers batch_id as int
    assert(rows.filter(_.getAs[Int]("batch_id") == 1).map(_.getString(1)).toSeq === Seq("c"))
  }

  test("exactly-once sink end-to-end over a memory stream") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmp("eo-stream")
    val input = MemoryStream[EventStreams.Event]
    val q = EventStreams.exactlyOnceParquetSink(
      EventStreams.dedupeStream(input.toDF()), s"$base/out", s"$base/ckpt")
    input.addData(
      EventStreams.Event(1, ts(1, 0), 10, "click", 1.0),
      EventStreams.Event(1, ts(1, 1), 10, "click", 1.0), // in-batch duplicate
      EventStreams.Event(2, ts(1, 2), 11, "view", 2.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(s"$base/out").collect()
    assert(rows.map(_.getAs[Long]("event_id")).sorted.toSeq === Seq(1L, 2L))
    assert(rows.forall(_.schema.fieldNames.contains("batch_id")))
  }

  test("scd2 collapses duplicate states, closes versions on change, emits current on timeout") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    // a 2h horizon so the far-future row can fire the open version's
    // event-time timeout inside the test
    val query = EventStreams.scd2(input.toDS(), horizonMs = 2L * 3600 * 1000)
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode(OutputMode.Append()).start()
    // batch 1: click, click (collapse), view (closes v1) — v2 stays open
    input.addData(
      EventStreams.Event(1, ts(1, 0), 10, "click", 1.0),
      EventStreams.Event(2, ts(1, 10), 10, "click", 1.0),
      EventStreams.Event(3, ts(1, 20), 10, "view", 1.0))
    query.processAllAvailable()
    // batch 2: same user flips back to click — v2 closes with the
    // valid_from recorded in batch 1 (cross-batch state carry)
    input.addData(EventStreams.Event(4, ts(1, 40), 10, "click", 1.0))
    query.processAllAvailable()
    // watermark mover: far-future different user fires user 10's timeout
    input.addData(EventStreams.Event(5, ts(9, 0), 99, "view", 1.0))
    query.processAllAvailable()
    input.addData(EventStreams.Event(6, ts(11, 0), 98, "view", 1.0))
    query.processAllAvailable()
    val u10 = spark.table("scd2_out").as[EventStreams.ScdOut].collect()
      .filter(_.user_id == 10L).sortBy(_.version)
    assert(u10.map(o => (o.version, o.state, o.valid_from_ms, o.valid_to_ms, o.is_current)).toSeq === Seq(
      (1L, "click", ts(1, 0).getTime, Some(ts(1, 20).getTime), 0),
      (2L, "view", ts(1, 20).getTime, Some(ts(1, 40).getTime), 0),
      (3L, "click", ts(1, 40).getTime, None, 1)))
    query.stop()
  }

  test("transformWithState profile emits once, after timer replacement across batches") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStreams.Event]
      val query = EventStreams.runningProfile(input.toDS(), horizonMs = 2L * 3600 * 1000)
        .writeStream.format("memory").queryName("tws_profile")
        .outputMode(OutputMode.Append()).start()
      // batch 1 arms a timer at ts(1,30)+2h; batch 2 must REPLACE it
      input.addData(
        EventStreams.Event(1, ts(1, 0), 10, "view", 1.5),
        EventStreams.Event(2, ts(1, 30), 10, "purchase", 2.25))
      query.processAllAvailable()
      input.addData(EventStreams.Event(3, ts(2, 0), 10, "purchase", 3.0))
      query.processAllAvailable()
      assert(spark.table("tws_profile").count() === 0) // nothing emitted yet
      // watermark movers: first past the SUPERSEDED timer (3:30) but not
      // the live one (4:00) — a stale timer would emit a 2-event profile
      input.addData(EventStreams.Event(4, ts(3, 50), 99, "view", 0.0))
      query.processAllAvailable()
      assert(spark.table("tws_profile").as[EventStreams.ProfileOut].collect()
        .count(_.user_id == 10L) === 0)
      // then far past the live timer: exactly one full profile emits
      input.addData(EventStreams.Event(5, ts(9, 0), 98, "view", 0.0))
      query.processAllAvailable()
      input.addData(EventStreams.Event(6, ts(12, 0), 97, "view", 0.0))
      query.processAllAvailable()
      val u10 = spark.table("tws_profile").as[EventStreams.ProfileOut].collect()
        .filter(_.user_id == 10L)
      assert(u10.toSeq === Seq(EventStreams.ProfileOut(10L, 3L, 2L, 6.75)))
      query.stop()
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("MapState histogram: per-type counts accumulate across batches, emit once at timer") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStreams.Event]
      val query = EventStreams.typeHistogram(input.toDS(), horizonMs = 2L * 3600 * 1000)
        .writeStream.format("memory").queryName("tws_hist")
        .outputMode(OutputMode.Append()).start()
      // batch 1 seeds view=2, click=1; batch 2 must point-update the
      // EXISTING view entry (cross-batch map-entry carry) and add purchase
      input.addData(
        EventStreams.Event(1, ts(1, 0), 10, "view", 1.0),
        EventStreams.Event(2, ts(1, 10), 10, "view", 1.0),
        EventStreams.Event(3, ts(1, 20), 10, "click", 1.0))
      query.processAllAvailable()
      input.addData(
        EventStreams.Event(4, ts(1, 40), 10, "view", 1.0),
        EventStreams.Event(5, ts(2, 0), 10, "purchase", 1.0))
      query.processAllAvailable()
      assert(spark.table("tws_hist").count() === 0) // timer not fired yet
      input.addData(EventStreams.Event(6, ts(9, 0), 99, "view", 1.0))
      query.processAllAvailable()
      input.addData(EventStreams.Event(7, ts(12, 0), 98, "view", 1.0))
      query.processAllAvailable()
      val u10 = spark.table("tws_hist").as[EventStreams.TypeCountOut].collect()
        .filter(_.user_id == 10L).sortBy(_.event_type)
      assert(u10.map(o => (o.event_type, o.n)).toSeq === Seq(
        ("click", 1L), ("purchase", 1L), ("view", 3L)))
      query.stop()
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("ListState last-3: a later batch evicts an earlier batch's entry from kept state") {
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[EventStreams.Event]
      val query = EventStreams.recentEvents(input.toDS(), horizonMs = 2L * 3600 * 1000)
        .writeStream.format("memory").queryName("tws_recent")
        .outputMode(OutputMode.Append()).start()
      // batch 1 fills the list (events 1,2,3); batch 2's later events 4,5
      // must evict 1 and 2 FROM STATE — the cross-batch ListState carry
      input.addData(
        EventStreams.Event(1, ts(1, 0), 10, "view", 1.0),
        EventStreams.Event(2, ts(1, 10), 10, "view", 1.0),
        EventStreams.Event(3, ts(1, 20), 10, "view", 1.0))
      query.processAllAvailable()
      input.addData(
        EventStreams.Event(4, ts(1, 40), 10, "click", 1.0),
        EventStreams.Event(5, ts(2, 0), 10, "click", 1.0))
      query.processAllAvailable()
      assert(spark.table("tws_recent").count() === 0) // timer not fired yet
      // fire the (replaced) timer at ts(2,0)+2h via watermark movers
      input.addData(EventStreams.Event(6, ts(9, 0), 99, "view", 1.0))
      query.processAllAvailable()
      input.addData(EventStreams.Event(7, ts(12, 0), 98, "view", 1.0))
      query.processAllAvailable()
      val u10 = spark.table("tws_recent").as[EventStreams.RecentOut].collect()
        .filter(_.user_id == 10L).sortBy(_.rk)
      assert(u10.map(o => (o.rk, o.event_id, o.ms)).toSeq === Seq(
        (1, 5L, ts(2, 0).getTime),
        (2, 4L, ts(1, 40).getTime),
        (3, 3L, ts(1, 20).getTime)))
      query.stop()
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}

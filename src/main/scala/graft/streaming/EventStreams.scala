package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference is a batch tool — its only "streaming" is a wall-clock
  * monitor loop (osm-pbf-parquet/src/pbf.rs:100-126). These operators are
  * the engine's event-time capabilities per SURVEY.md §2.9: watermarked
  * tumbling-window aggregation and custom keyed state via
  * flatMapGroupsWithState. Every transform is source-agnostic: apply it to
  * `spark.readStream` for streaming or a batch DataFrame for backfill —
  * the batch twin of `windowedCounts` is query q23_window_tumbling, which
  * is what the DuckDB oracle checks.
  *
  * Scale notes: state is keyed by (window, event_type) / user_id — both
  * high-cardinality-safe, partitioned by key across executors. The
  * watermark bounds state size; sessions expire by processing-time timeout.
  */
object EventStreams {

  /** Tumbling 1-hour event-time windows with a 10-minute watermark.
    * Append-mode compatible: late rows beyond the watermark are dropped,
    * closed windows emit exactly once. (Tumbling = sliding with
    * slide == length.)
    */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
                     windowLen: String = "1 hour"): DataFrame =
    slidingCounts(events, watermark, windowLen, slide = windowLen)

  /** SLIDING event-time windows (window length > slide): each event lands
    * in `length/slide` overlapping windows — Spark expands rows into
    * every window they belong to, then aggregates like tumbling. State
    * still watermark-bounded; output cardinality is `length/slide` × the
    * tumbling equivalent, the standard smoothed-rate view.
    */
  /** Money note: every money aggregate on this surface accumulates
    * EXACT INTEGER CENTS (floor(v*100+.5) per event, BIGINT sum, one
    * terminal /100.0 — the RunningProfileProcessor discipline). Through
    * round 14 these legacy window paths still hashed
    * `round(sum(double), 2)` against an oracle running the identical
    * double sum — gate parity held only because both engines happened
    * to agree on accumulation order, a latent flake a partitioning
    * change on either side could split at the last ulp (the wave-5
    * adjudication); round 15 retired the class and re-baselined the six
    * paired gates in lockstep. */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes",
                    windowLen: String = "1 hour", slide: String = "15 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // cast BEFORE the sum: Spark's floor returns double, and a double
        // sum of integer cents is exact only below 2^53 total — the money
        // note above promises a BIGINT sum (the applyChangeset discipline)
        (sum(floor(col("value") * 100 + lit(0.5)).cast("long")) / lit(100.0))
          .as("total_value"))
      .select(col("w.start").as("bucket_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming SCD2 (the streaming twin of EventJoins.a08): per-user
    * TYPE-2 dimension maintenance with keyed custom state — a version
    * opens when the user's event_type state CHANGES (consecutive
    * duplicates collapse), the closed version emits immediately with
    * `valid_to` = the opening event's time, and the still-open version
    * emits as `is_current` once the watermark passes `lastTs + horizonMs`
    * (the event-time timeout standing in for "end of history" — in a live
    * pipeline the open version simply stays in state). Within-batch walk
    * in (ts, event_id) order for the same backfill-equals-live guarantee
    * sessionize documents.
    *
    * EPISODE semantics, declared: the horizon timeout CLOSES the key's
    * history and drops its state — a user who reappears after their
    * timeout fired starts a fresh episode whose version numbering
    * restarts at 1 (the funnel operator's episode rule, applied to
    * dimensions). Consumers keying on (user_id, version) across
    * episodes must treat the emitted is_current row as an episode
    * terminator; continuing version numbers across episodes would
    * require keeping per-key tombstone state forever, defeating the
    * timeout's state bound. The replay gate never fires a mid-stream
    * timeout (ticks close history once, at the end), so stream ≡ batch
    * holds; a live pipeline that wants cross-episode numbering should
    * set the horizon beyond its reactivation window.
    *
    * Timestamps emit as epoch millis (the domain the walk compares in),
    * keeping the sink rows encoder-plain; the batch oracle transposes
    * a08's lag/lead SQL to the same ms domain.
    */
  def scd2(events: Dataset[Event], horizonMs: Long = 40L * 86400 * 1000,
           watermark: String = "10 minutes"): Dataset[ScdOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdState, ScdOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], st: GroupState[ScdState]) =>
          if (st.hasTimedOut) {
            val s = st.get
            st.remove()
            Iterator.single(ScdOut(userId, s.version, s.stateType, s.validFromMs, None, 1))
          } else {
            val batch = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = scala.collection.mutable.ArrayBuffer.empty[ScdOut]
            var cur = st.getOption.orNull
            batch.foreach { e =>
              val t = e.ts.getTime
              if (cur == null) {
                cur = ScdState(1L, e.event_type, t, t)
              } else if (e.event_type != cur.stateType) {
                closed += ScdOut(userId, cur.version, cur.stateType, cur.validFromMs, Some(t), 0)
                cur = ScdState(cur.version + 1, e.event_type, t, t)
              } else {
                cur = cur.copy(lastMs = t)
              }
            }
            st.update(cur)
            st.setTimeoutTimestamp(cur.lastMs + horizonMs)
            closed.iterator
          }
      }
  }

  /** Gap-sessionization via Spark's NATIVE `session_window` aggregate —
    * the built-in alternative to [[sessionize]]'s custom state (brief
    * preference (a): compose existing ops first; the custom path exists
    * for the shapes this can't express, e.g. sessionize's per-event
    * walk). ONE function serves batch and streaming: `withWatermark` is
    * a no-op on a batch frame, and in a stream it lets the merging
    * session state emit on window close.
    *
    * Tie semantics differ from a03/st07 BY DESIGN and are declared: the
    * built-in merges half-open [t, t+gap) windows, so a follow-up event
    * at EXACTLY gap distance starts a NEW session, where a03's
    * `gap > 30min` split rule keeps it. The oracle twin uses the
    * half-open rule (`gap >= 30min` splits) and `session_end =
    * max(ts) + gap` (the window end, not the last event).
    */
  def sessionWindowAgg(events: DataFrame,
      gap: String = "30 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        // BIGINT cents sum (cast before summing — see slidingCounts)
        sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("tvc"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"),
        (col("tvc") / lit(100.0)).as("total_value"))

  /** Spark 4's `transformWithState` surface (the successor API to
    * flatMapGroupsWithState: named state variables with per-state
    * encoders + explicit timers): a continuously-maintained per-user
    * PROFILE (lifetime event/purchase counts + spend) that emits once,
    * when the event-time timer at `lastSeen + horizonMs` fires — the
    * feature-store "user rollup" pattern. Each batch folds its rows into
    * the ValueState and REPLACES the pending timer (the superseded timer
    * is deleted, so exactly one emission per user regardless of batch
    * count). Aggregation order within/across batches is irrelevant BY
    * CONSTRUCTION: counts are exact, and spend is quantized to integer
    * CENTS per event before folding (the q39/e02 discipline) — the
    * sequential stream fold and the oracle's arbitrary-order SUM are the
    * same exact integer, instead of relying on a final cent-round to
    * absorb double-accumulation ulp drift (which can straddle a .005
    * boundary on larger corpora — the st07 latent pattern).
    */
  class RunningProfileProcessor(horizonMs: Long)
      extends StatefulProcessor[Long, Event, ProfileOut] {
    @transient private var state: ValueState[ProfileState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[ProfileState]("profile",
        org.apache.spark.sql.Encoders.product[ProfileState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[ProfileOut] = {
      var cur = if (state.exists()) state.get()
        else ProfileState(0L, 0L, 0L, Long.MinValue, 0L)
      rows.foreach { e =>
        cur = ProfileState(cur.n + 1,
          cur.purchases + (if (e.event_type == "purchase") 1L else 0L),
          cur.totalCents + math.floor(e.value * 100 + 0.5).toLong,
          math.max(cur.lastMs, e.ts.getTime), cur.timerMs)
      }
      if (cur.timerMs != 0L) getHandle.deleteTimer(cur.timerMs)
      val t = cur.lastMs + horizonMs
      getHandle.registerTimer(t)
      state.update(cur.copy(timerMs = t))
      Iterator.empty
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ProfileOut] = {
      val s = state.get()
      state.clear()
      // one IEEE division of an exact integer — bit-identical to the
      // oracle's sum(per-event cents) / 100.0
      Iterator.single(ProfileOut(userId, s.n, s.purchases,
        s.totalCents / 100.0))
    }
  }

  /** `transformWithState` with TWO state variables per key — the
    * multi-state shape st13's single ValueState doesn't exercise: a
    * LISTSTATE holding the user's last-3 events (the feature-store
    * "recent activity" rollup) plus a ValueState for timer bookkeeping.
    * Each batch merges its rows into the kept top-3 by (ms, event_id)
    * descending — a DETERMINISTIC merge, so arrival order and batch
    * boundaries are invisible — and REPLACES the pending event-time
    * timer (the st13 protocol); the settled list emits as ranked rows
    * when the timer fires. Oracle = the per-user row_number window over
    * the whole table: however the stream chunks, last-3 must equal the
    * batch top-3.
    */
  class RecentEventsProcessor(horizonMs: Long, keep: Int = 3)
      extends StatefulProcessor[Long, Event, RecentOut] {
    @transient private var entries: ListState[RecentEntry] = _
    @transient private var meta: ValueState[RecentMeta] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      entries = getHandle.getListState[RecentEntry]("recent",
        org.apache.spark.sql.Encoders.product[RecentEntry], TTLConfig.NONE)
      meta = getHandle.getValueState[RecentMeta]("meta",
        org.apache.spark.sql.Encoders.product[RecentMeta], TTLConfig.NONE)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[RecentOut] = {
      val incoming = rows.map(e => RecentEntry(e.ts.getTime, e.event_id)).toSeq
      val merged = (entries.get().toSeq ++ incoming)
        .sortBy(r => (-r.ms, -r.event_id)).take(keep)
      entries.clear()
      entries.put(merged.toArray)
      val m = if (meta.exists()) meta.get() else RecentMeta(Long.MinValue, 0L)
      val lastMs = (m.lastMs +: incoming.map(_.ms)).max
      if (m.timerMs != 0L) getHandle.deleteTimer(m.timerMs)
      val t = lastMs + horizonMs
      getHandle.registerTimer(t)
      meta.update(RecentMeta(lastMs, t))
      Iterator.empty
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[RecentOut] = {
      val out = entries.get().toSeq
        .sortBy(r => (-r.ms, -r.event_id))
        .zipWithIndex
        .map { case (r, i) => RecentOut(userId, i + 1, r.event_id, r.ms) }
      entries.clear(); meta.clear()
      out.iterator
    }
  }

  /** [[RecentEventsProcessor]] wiring — event-time timers, append. */
  def recentEvents(events: Dataset[Event],
      horizonMs: Long = 40L * 86400 * 1000,
      watermark: String = "10 minutes"): Dataset[RecentOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new RecentEventsProcessor(horizonMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class RecentEntry(ms: Long, event_id: Long)
  final case class RecentMeta(lastMs: Long, timerMs: Long)
  final case class RecentOut(user_id: Long, rk: Int, event_id: Long, ms: Long)

  /** The third `transformWithState` state shape: a MAPSTATE keyed by
    * event type holding per-type counts — the per-user histogram a
    * feature store maintains incrementally instead of re-aggregating.
    * Point-updates touch ONLY the incoming types' entries (with RocksDB
    * each map entry is its own store key — a 1000-type user costs one
    * read+write per arriving type, not a 1000-entry state rewrite, which
    * is exactly why MapState exists over a ValueState[Map]). Counts are
    * exact integers; emission at the replaced event-time timer, st13
    * protocol throughout.
    */
  class TypeHistogramProcessor(horizonMs: Long)
      extends StatefulProcessor[Long, Event, TypeCountOut] {
    @transient private var counts: MapState[String, Long] = _
    @transient private var meta: ValueState[RecentMeta] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      meta = getHandle.getValueState[RecentMeta]("meta",
        org.apache.spark.sql.Encoders.product[RecentMeta], TTLConfig.NONE)
    }

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[TypeCountOut] = {
      // one state-store point read per key per batch, not two
      val m = if (meta.exists()) meta.get() else RecentMeta(Long.MinValue, 0L)
      var lastMs = m.lastMs
      rows.foreach { e =>
        val k = e.event_type
        val cur = if (counts.containsKey(k)) counts.getValue(k) else 0L
        counts.updateValue(k, cur + 1)
        lastMs = math.max(lastMs, e.ts.getTime)
      }
      if (m.timerMs != 0L) getHandle.deleteTimer(m.timerMs)
      val t = lastMs + horizonMs
      getHandle.registerTimer(t)
      meta.update(RecentMeta(lastMs, t))
      Iterator.empty
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TypeCountOut] = {
      val out = counts.iterator().map { case (k, v) => TypeCountOut(userId, k, v) }.toSeq
      counts.clear(); meta.clear()
      out.iterator
    }
  }

  /** [[TypeHistogramProcessor]] wiring — event-time timers, append. */
  def typeHistogram(events: Dataset[Event],
      horizonMs: Long = 40L * 86400 * 1000,
      watermark: String = "10 minutes"): Dataset[TypeCountOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new TypeHistogramProcessor(horizonMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class TypeCountOut(user_id: Long, event_type: String, n: Long)

  /** `transformWithState` wiring for [[RunningProfileProcessor]] —
    * event-time timers, append output. */
  def runningProfile(events: Dataset[Event],
      horizonMs: Long = 40L * 86400 * 1000,
      watermark: String = "10 minutes"): Dataset[ProfileOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new RunningProfileProcessor(horizonMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  final case class ProfileState(n: Long, purchases: Long, totalCents: Long,
                                lastMs: Long, timerMs: Long)

  final case class ProfileOut(user_id: Long, n_events: Long,
                              n_purchases: Long, total_value: Double)

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class ScdState(version: Long, stateType: String,
                            validFromMs: Long, lastMs: Long)

  final case class ScdOut(user_id: Long, version: Long, state: String,
                          valid_from_ms: Long, valid_to_ms: Option[Long],
                          is_current: Int)

  final case class SessionState(nEvents: Long, totalCents: Long,
                                firstTs: Long, lastTs: Long)

  final case class SessionOut(user_id: Long, n_events: Long,
                              total_value: Double, duration_ms: Long)

  /** Custom keyed state: per-user session that closes after `gapMs` of
    * event-time inactivity — the KeyValueGroupedDataset
    * flatMapGroupsWithState path for semantics windowing can't express.
    *
    * Event-time timeouts (not processing-time): sessions close when the
    * watermark passes lastTs+gap, so results are deterministic and
    * replayable, state is watermark-bounded, and a backfill of a year of
    * history produces the same sessions as live ingestion — the property
    * that matters when sessionizing 100 TB of logs. That property
    * REQUIRES splitting within a micro-batch too: a backfill can deliver
    * a user's whole history in one batch, so the state function walks the
    * batch in event-time order, closing and emitting a session at every
    * >gap step; only the final (still-open) session goes to state, to be
    * closed by the event-time timeout or extended by the next batch.
    * (Out-of-order arrivals WITHIN the watermark delay land in the same
    * batch-sort or extend the open session; an arrival for an
    * already-closed session is the inherent watermark tradeoff, same as
    * every event-time operator here.)
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.nEvents, s.totalCents / 100.0,
              s.lastTs - s.firstTs))
          } else {
            // deterministic event-time walk (event_id breaks ts ties)
            val batch = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption.getOrElse(SessionState(0L, 0L, Long.MaxValue, Long.MinValue))
            batch.foreach { e =>
              val t = e.ts.getTime
              if (cur.nEvents > 0 && t - cur.lastTs > gapMs) {
                closed += SessionOut(userId, cur.nEvents, cur.totalCents / 100.0,
                  cur.lastTs - cur.firstTs)
                cur = SessionState(0L, 0L, Long.MaxValue, Long.MinValue)
              }
              // exact cents per event (the RunningProfileProcessor discipline):
              // the fold order stops mattering, so stream-vs-oracle parity is
              // structural, not an accumulation-order coincidence
              cur = SessionState(cur.nEvents + 1,
                cur.totalCents + math.floor(e.value * 100 + 0.5).toLong,
                math.min(cur.firstTs, t), math.max(cur.lastTs, t))
            }
            state.update(cur)
            state.setTimeoutTimestamp(cur.lastTs + gapMs)
            closed.iterator
          }
      }
  }

  /** Streaming exact dedup — the streaming twin of the batch d01 exact
    * dedup: drops events whose `event_id` was already seen, with state
    * bounded by the watermark (a duplicate arriving later than the
    * watermark delay is passed through rather than held forever — the
    * standard correctness/state tradeoff for infinite-stream dedup).
    */
  def dedupeStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: match each click to the same user's
    * view within the preceding `joinWindow`. Both sides are watermarked so
    * the join state is bounded — Spark drops buffered rows once the
    * watermark passes the interval condition's reach. The canonical
    * attribution-join shape at stream scale.
    */
  def clickViewJoin(events: DataFrame, watermark: String = "10 minutes",
                    joinWindow: String = "1 hour"): DataFrame =
    clickViewJoinImpl(events, watermark, joinWindow, outer = false)

  /** LEFT OUTER variant of [[clickViewJoin]]: every click emits — matched
    * rows eagerly, UNMATCHED clicks null-padded only once the watermark
    * passes the join condition's reach (click ts + window + delay), the
    * state-closure path the inner join never exercises. Because the
    * replay's watermark ticks carry event_type "view" (see StreamReplay's
    * tick rationale: a type every operator keeps), the clicks branch here
    * ALSO admits negative-user tick rows — the outer join's null emission
    * waits on the MIN of both sides' watermarks, and a clicks branch that
    * filtered the ticks out would hold the global watermark back forever.
    * Tick rows can only pair with each other (negative user ids) and the
    * replay strips them from the result by `user_id >= 0`.
    */
  def clickViewJoinOuter(events: DataFrame, watermark: String = "10 minutes",
                         joinWindow: String = "1 hour"): DataFrame =
    clickViewJoinImpl(events, watermark, joinWindow, outer = true)

  private def clickViewJoinImpl(events: DataFrame, watermark: String,
                                joinWindow: String, outer: Boolean): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .withWatermark("ts", watermark)
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val clickPred =
      if (outer) col("event_type") === "click" || col("user_id") < 0
      else col("event_type") === "click"
    val clicks = events.filter(clickPred)
      .withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("v_ts") <= col("c_ts") &&
        col("v_ts") >= col("c_ts") - expr(s"INTERVAL $joinWindow"),
      if (outer) "left_outer" else "inner")
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("c_ts"), col("v_ts"))
  }

  final case class FEv(ts: Long, tpe: String)
  final case class FunnelState(s1: Long, buf: List[FEv])
  final case class FunnelResult(user_id: Long, signup_ms: Long,
                                view_ms: Option[Long], purchase_ms: Option[Long])

  /** Streaming windowed conversion funnel — the streaming twin of batch
    * a06: for each user who signs up, did a view and then a purchase follow
    * within `windowMs` of the (earliest) signup? Emits exactly one row per
    * converting-or-not signed-up user when the window CLOSES (watermark
    * passes signup + window), so results are deterministic and replayable:
    * a backfill emits the same rows as live ingestion.
    *
    * Out-of-order safety: candidate views/purchases are BUFFERED, not
    * folded, so a signup arriving later than a view it claims (event-time
    * earlier, arrival later — within the watermark) still counts the view.
    * The stage mins are computed over the full buffer at close, so results
    * don't depend on arrival order at all — only watermark-late drops can
    * differ from batch.
    *
    * State bounds: per user, the buffer holds only view/purchase events
    * with ts ≤ signup+window (pruned on insert; the window end only moves
    * left since the signup min only decreases); users with no signup hold
    * candidates only while a yet-unseen signup could still claim them —
    * such a signup's event time must be ≥ the current watermark, so once
    * the watermark passes the candidates they are dropped via timeout.
    *
    * Episode semantics (declared): one row per signup EPISODE — state is
    * dropped when a window closes, so a user signing up AGAIN after
    * their previous window already closed starts a fresh episode and
    * emits a fresh row (live analytics wants the new conversion window;
    * a tombstone that suppressed it would also grow state forever). A
    * batch backfill of a06 folds all signups into the single
    * earliest-signup window, so streaming/batch parity holds per episode,
    * exactly when no signup arrives after a prior window of the same
    * user closed.
    */
  def funnelWindow(events: Dataset[Event], windowMs: Long = 24 * 3600 * 1000L,
                   watermark: String = "10 minutes"): Dataset[FunnelResult] = {
    import events.sparkSession.implicits._
    def close(userId: Long, st: FunnelState): Iterator[FunnelResult] =
      if (st.s1 == Long.MaxValue) Iterator.empty // unclaimed candidates expired
      else {
        val end = st.s1 + windowMs
        val v1 = st.buf.iterator
          .filter(e => e.tpe == "view" && e.ts >= st.s1 && e.ts <= end)
          .map(_.ts).minOption
        val p1 = v1.flatMap(v => st.buf.iterator
          .filter(e => e.tpe == "purchase" && e.ts >= v && e.ts <= end)
          .map(_.ts).minOption)
        Iterator.single(FunnelResult(userId, st.s1, v1, p1))
      }
    events
      .withWatermark("ts", watermark)
      .filter(col("event_type").isin("signup", "view", "purchase"))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelResult](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            close(userId, st)
          } else {
            val batch = rows.toList
            val prev = state.getOption.getOrElse(FunnelState(Long.MaxValue, Nil))
            val s1 = math.min(prev.s1, batch.iterator
              .filter(_.event_type == "signup").map(_.ts.getTime)
              .minOption.getOrElse(Long.MaxValue))
            val buf = (prev.buf ++ batch.iterator.filter(_.event_type != "signup")
                .map(e => FEv(e.ts.getTime, e.event_type)))
              .filter(e => s1 == Long.MaxValue || e.ts <= s1 + windowMs)
            val wm = state.getCurrentWatermarkMs()
            if (s1 != Long.MaxValue && wm > s1 + windowMs) {
              // the watermark already closed this window but the user had
              // data in this batch — and Spark never fires a timeout for
              // a group WITH data, so a never-silent user would postpone
              // the emission forever. Close inline: in-window events can
              // no longer arrive (they would be watermark-late upstream),
              // so the result is already frozen. This batch's own events
              // are all ≥ wm > window end — irrelevant to this episode,
              // but NOT to the next one: a signup in this very batch is
              // the declared fresh episode and must seed new state, not
              // be dropped with the old (the timeout path gets this for
              // free because the re-signup arrives in a LATER batch).
              val stale = close(userId, FunnelState(s1, buf))
              val s1New = batch.iterator.filter(_.event_type == "signup")
                .map(_.ts.getTime).minOption.getOrElse(Long.MaxValue)
              val bufNew = batch.iterator.filter(_.event_type != "signup")
                .map(e => FEv(e.ts.getTime, e.event_type))
                .filter(e => s1New == Long.MaxValue || e.ts <= s1New + windowMs)
                .toList
              if (s1New == Long.MaxValue && bufNew.isEmpty) state.remove()
              else {
                // the new window cannot itself be already closed:
                // s1New >= wm (late rows are dropped upstream), so
                // s1New + windowMs > wm
                state.update(FunnelState(s1New, bufNew))
                val closeAt =
                  if (s1New != Long.MaxValue) s1New + windowMs
                  else bufNew.map(_.ts).max
                state.setTimeoutTimestamp(math.max(closeAt, wm + 1))
              }
              stale
            } else {
              if (s1 == Long.MaxValue && buf.isEmpty) state.remove()
              else {
                state.update(FunnelState(s1, buf))
                // a timeout timestamp must sit beyond the current watermark
                val closeAt = if (s1 != Long.MaxValue) s1 + windowMs else buf.map(_.ts).max
                state.setTimeoutTimestamp(math.max(closeAt, wm + 1))
              }
              Iterator.empty
            }
          }
      }
  }

  final case class TopKState(counts: Map[String, Long])
  final case class WindowTopK(window_start_ms: Long, rank: Int,
                              event_type: String, n: Long)

  /** Streaming windowed TOP-K — the streaming twin of the q29/TopKPerKey
    * semantics: for each tumbling event-time window, the k most frequent
    * event types, emitted ONCE when the watermark closes the window.
    *
    * Why flatMapGroupsWithState and not `windowedCounts` + rank: ranking
    * within a window needs the window COMPLETE (a rank over partial
    * counts is wrong, and Spark disallows a second stateful agg over an
    * append-mode windowed aggregate's output within one query). Keyed
    * state per window holds the count map (bounded by event-type
    * cardinality × windows-in-watermark), the event-time timeout at
    * window end is exactly "the watermark closed this window", and the
    * emitted ranking is deterministic (count desc, type asc).
    */
  def topKPerWindow(events: Dataset[Event], k: Int = 3,
                    windowMs: Long = 3600 * 1000L,
                    watermark: String = "10 minutes"): Dataset[WindowTopK] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(e => math.floorDiv(e.ts.getTime, windowMs))
      .flatMapGroupsWithState[TopKState, WindowTopK](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (winIdx: Long, rows: Iterator[Event], state: GroupState[TopKState]) =>
          if (state.hasTimedOut) {
            val counts = state.get.counts
            state.remove()
            counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(k)
              .iterator.zipWithIndex.map { case ((t, n), i) =>
                WindowTopK(winIdx * windowMs, i + 1, t, n)
              }
          } else {
            val prev = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
            val merged = rows.foldLeft(prev) { (m, e) =>
              m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
            }
            state.update(TopKState(merged))
            // close when the watermark passes the window end
            state.setTimeoutTimestamp(
              math.max((winIdx + 1) * windowMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  final case class CohortState(cohort: Long, seen: List[Long])
  final case class CohortHit(user_id: Long, cohort_week: Long, k: Long)

  /** Streaming cohort tracker — the streaming twin of batch a05 (cohort
    * retention): emits one (user, cohort_week, k) row the first time each
    * user is active in week cohort+k. Downstream `groupBy(cohort_week, k)
    * .count` (update mode — aggregation after append-mode
    * flatMapGroupsWithState is supported) yields the live retention
    * triangle.
    *
    * Declared semantics: the cohort week is FIXED at first observation
    * (the minimum week in the user's first-seen batch). An out-of-order
    * event from an EARLIER week arriving in a later batch emits a negative
    * k — an honest correction marker rather than a silent retraction,
    * since append mode can't un-emit prior rows. Backfill parity: in batch
    * execution each user's whole history arrives in one invocation, so the
    * cohort is the true minimum and the result equals a05 exactly.
    *
    * State per user is the seen-week set — bounded by the corpus's week
    * span (a few hundred after decades), the same bound the batch
    * formulation's collect_set carries.
    */
  def cohortUpdates(events: Dataset[Event], watermark: String = "10 minutes"): Dataset[CohortHit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CohortState, CohortHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[CohortState]) =>
          val weeks = rows.map(e => math.floorDiv(e.ts.getTime, 604800000L)).toList.distinct.sorted // floorDiv: pre-epoch ts floors, never truncates toward zero
          if (weeks.isEmpty) Iterator.empty
          else {
            val prev = state.getOption
            val cohort = prev.map(_.cohort).getOrElse(weeks.min)
            val seen = prev.map(_.seen.toSet).getOrElse(Set.empty[Long])
            val fresh = weeks.filterNot(seen)
            state.update(CohortState(cohort, (seen ++ fresh).toList))
            fresh.iterator.map(wk => CohortHit(userId, cohort, wk - cohort))
          }
      }
  }

  /** The live retention triangle over [[cohortUpdates]] — run with
    * update/complete output mode streaming, or directly on a batch
    * Dataset for backfill (equals a05 exactly there; see above). */
  def cohortCounts(events: Dataset[Event], watermark: String = "10 minutes"): DataFrame =
    cohortUpdates(events, watermark)
      .groupBy(col("cohort_week"), col("k"))
      .agg(count(lit(1)).as("n_users"))

  /** Exactly-once parquet delivery via `foreachBatch`: each micro-batch
    * overwrites its OWN `batch_id=<id>` partition, so replaying a batch
    * after a failure (Spark's at-least-once `foreachBatch` contract)
    * rewrites the same partition instead of appending duplicates —
    * idempotent-overwrite, the standard exactly-once recipe for sinks
    * without transactions. Dynamic partition overwrite touches only the
    * replayed batch's partition; committed batches are never rewritten,
    * so the sink stays correct under any retry pattern at any scale.
    */
  def exactlyOnceParquetSink(transformed: DataFrame, outDir: String,
                             checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    transformed.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, batchId, outDir)
      }
      .start()

  /** STREAMING CDC APPLY — the exactly-once READ-MODIFY-WRITE sink behind
    * st17 and st20–st23: each batch folds into a queryable per-user
    * profile TABLE, the state-in-the-table pattern a pipeline uses when
    * downstream consumers must query the maintained state directly (the
    * Delta/Iceberg snapshot-apply loop, on plain parquet).
    *
    * st09's partition overwrite is idempotent because each batch owns a
    * disjoint partition; a merge target is harder — every batch rewrites
    * shared state, so a replayed batch would DOUBLE-apply. The protocol
    * ([[applyVersion]], one commit path for every layout and change):
    * versioned snapshot dirs `v{batchId}`, each derived from the latest
    * committed version STRICTLY BELOW batchId, with `_SUCCESS` as the
    * commit marker —
    *   - replayed committed batch (foreachBatch's at-least-once
    *     contract): `v{batchId}/_SUCCESS` exists → skip, keyed on
    *     batchId ALONE (the guard, not the payload, is the idempotence
    *     mechanism);
    *   - torn write (crash mid-rewrite): no `_SUCCESS` → mode-overwrite
    *     rewrite from the same prior version, byte-identical;
    *   - lineage reads the PRIOR dir and writes a NEW dir — never a
    *     self-referential overwrite (the st09 localCheckpoint hazard,
    *     designed out instead of worked around).
    * The store rides the Hadoop FileSystem seam (the S2/transcode
    * discipline), so the dirs + markers work on `s3a:`/`hdfs:` exactly
    * like the parquet data they guard. */
  sealed trait Layout

  /** Each version is a plain parquet dir: every apply's merge shuffles
    * both sides and rewrites O(target). */
  case object Plain extends Layout

  /** q38b's bucketed layout, the O(target) regime's answer: each version
    * is ALSO a catalog table `{tablePrefix}_v{batchId}` (path
    * `targetDir/v{batchId}`) bucketed and sorted by `user_id`, so the next
    * apply reads the prior as a bucketed scan that already satisfies the
    * join distribution — no Exchange above the target side, only the
    * (changeset-sized) delta shuffles, to the TARGET's partitioning, and
    * the merged output lands partition ≡ bucket. The O(target) parquet
    * REWRITE remains; removing it takes a table format's compaction /
    * partial-file rewrite, or [[applyChangesetPruned]] for clustered
    * changesets. The catalog entries are session-scoped scratch (a fresh
    * session re-registers from the committed dir); the versioned dirs +
    * markers remain the durable truth.
    *
    * Layout safety: the bucket count is a PER-CALL parameter, so recovery
    * must never declare a distribution the files don't have (a smaller
    * on-disk count keeps every file's bucket id valid, and the
    * Exchange-free sort-merge would then silently merge misaligned
    * buckets). Each committed version therefore persists its count as a
    * `_BUCKETS` marker next to `_SUCCESS`; recovery re-registers from THAT
    * (cross-checked against the bucket-file names) and fails loudly if
    * the call's count disagrees, if a same-named catalog entry does not
    * match the dir ([[catalogMismatch]]), or if the files carry no bucket
    * suffixes (a plain dir). A committed dir MISSING the marker (a crash
    * between the two markers, or a legacy dir) degrades to a plain scan —
    * one avoidable Exchange, never a silent bucket misalignment. */
  final case class Bucketed(tablePrefix: String, buckets: Int = 8) extends Layout {
    private[streaming] def table(dirName: String): String = s"${tablePrefix}_$dirName"
  }

  /** Upsert: fold a batch of (user_id, value) rows into the store as
    * version `batchId` — the prior full-outer merged with the batch's
    * per-user changeset. Money folds as integer cents (the q39/st13
    * discipline) so maintain ≡ recompute exactly, whatever the
    * chunking. */
  def applyChangeset(batch: DataFrame, batchId: Long, targetDir: String,
      layout: Layout = Plain): Unit =
    applyVersion(batch.sparkSession, batchId, targetDir, layout) { prior =>
      // the merge hint on the bucketed store only: at sf the tiny delta
      // would broadcast, which demonstrates nothing at 100 TB where
      // neither side does — q38b's discipline
      mergedSnapshot(if (layout == Plain) prior else prior.hint("merge"),
        changeset(batch))
    }

  /** DELETE-BEARING APPLY — the right-to-be-forgotten batch: every
    * `user_id` in `tombstones` is removed from version `batchId` by a
    * LEFT ANTI join of the prior against the broadcast tombstone set. The
    * prior never shuffles, and an anti-join removes rows without moving
    * them, so on the bucketed layout the rewrite plans with NO Exchange
    * at all (`VersionDiffSpec` pins it). The diff surface
    * ([[versionDiff]]) reports the deletions as `removed` — the class an
    * append-only merge can never produce. Deletes are HARD from
    * `batchId` on; earlier versions still hold the rows (full erasure of
    * history is [[pruneVersions]] of everything below the tombstone). At
    * 100 TB the tombstone set is broadcast-sized by nature (deletion
    * requests, not data). */
  def applyDeletes(tombstones: DataFrame, batchId: Long, targetDir: String,
      layout: Layout = Plain): Unit =
    applyVersion(tombstones.sparkSession, batchId, targetDir, layout)(
      _.join(broadcast(tombstones.select(col("user_id")).distinct()),
        Seq("user_id"), "left_anti"))

  /** The store's one commit path: skip a committed `v{batchId}`, derive
    * `next(prior)` from the latest committed version strictly below it,
    * write that as `v{batchId}`, then commit the markers.
    *
    * Bucket-file ALIGNMENT on the bucketed layout: `bucketBy` inserts no
    * exchange — it writes one file per (task, bucket-in-task). A prior
    * read as its bucketed table keeps partition ≡ bucket through `next`
    * (the merge adopts the table's HashPartitioning, the anti-join never
    * moves rows), so alignment is free. Any other prior arrives
    * arbitrarily partitioned (measured: 32 tasks × 32 buckets = 1024
    * files at the 1M-user seed), so it is repartitioned by the exact
    * bucket routing — one file per bucket keeps scans, recovery
    * validation and the pruned apply's copy-forward linear in buckets. */
  private def applyVersion(s: SparkSession, batchId: Long, targetDir: String,
      layout: Layout)(next: DataFrame => DataFrame): Unit = {
    val fs = storeFs(s, targetDir)
    val vDir = new Path(targetDir, s"v$batchId")
    if (committedAndHealed(s, fs, vDir, layout)) return
    val (prior, priorBucketed) = priorSnapshot(s, fs, targetDir, batchId, layout)
    val out = next(prior)
    layout match {
      case Plain => writeVersion(out, vDir, None)
      case b: Bucketed => writeVersion(
        if (priorBucketed) out else out.repartition(b.buckets, col("user_id")),
        vDir, Some(b.table(vDir.getName) -> b.buckets))
    }
    commitMarkers(fs, vDir, layout)
  }

  /** A batch of (user_id, value) rows as one changeset row per user: the
    * event count `dn` and the integer cents `dc`. */
  private def changeset(batch: DataFrame): DataFrame =
    batch.groupBy(col("user_id"))
      .agg(count(lit(1)).as("dn"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("dc"))

  /** The prior of version `batchId` — the latest committed version
    * STRICTLY BELOW it, or the empty snapshot before the first commit —
    * and whether it reads as a bucketed table. On the bucketed layout a
    * prior whose `_BUCKETS` marker proves its layout reads as its catalog
    * table, re-registered from the marker's count (never the call's) when
    * a fresh session lost the entry; an unmarked prior degrades to a
    * plain scan (correctness over the Exchange saving). */
  private def priorSnapshot(s: SparkSession, fs: FileSystem,
      targetDir: String, batchId: Long, layout: Layout): (DataFrame, Boolean) =
    (latestVersion(targetDir, below = batchId), layout) match {
      case (None, _) => (emptySnapshot(s), false)
      case (Some(p), b: Bucketed) =>
        val dir = new Path(p)
        readBucketCount(fs, dir) match {
          case Some(n) =>
            if (n != b.buckets) throw new IllegalStateException(
              s"snapshot store: prior version $p was written with $n " +
                s"buckets but this call declares ${b.buckets}; refusing to " +
                "register a layout the files don't have")
            validateBucketFiles(fs, dir, n)
            val name = b.table(dir.getName)
            if (!s.catalog.tableExists(name)) registerVersion(s, name, dir, n)
            else catalogMismatch(s, fs, name, dir, n).foreach(m =>
              throw new IllegalStateException(
                s"snapshot store: $m; DROP it before recovering"))
            (s.table(name), true)
          case None => (readSnapshot(s, p), false)
        }
      case (Some(p), Plain) => (readSnapshot(s, p), false)
    }

  /** Why the catalog entry `name` cannot stand for the committed version
    * `dir` with `buckets` buckets, or None when it can: it must point at
    * the dir, declare exactly that bucket spec on `user_id`, and declare
    * [[SnapshotSchema]] — a same-location entry with a different modulus
    * would place a merge's or diff's two sides by different hashes, and a
    * divergent schema would silently misread the files. Recovery refuses
    * a mismatch; [[versionDiff]] falls back to the plain dir read. */
  private def catalogMismatch(s: SparkSession, fs: FileSystem, name: String,
      dir: Path, buckets: Int): Option[String] = {
    val ct = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name))
    val catLoc = fs.makeQualified(new Path(ct.location))
    val dirLoc = fs.makeQualified(dir)
    val expected = SnapshotSchema.map(f => f.name -> f.dataType.simpleString)
    val actual = ct.schema.map(f => f.name -> f.dataType.simpleString)
    if (catLoc != dirLoc)
      Some(s"stale catalog entry $name points at $catLoc, not the committed " +
        s"version dir $dirLoc")
    else if (!ct.bucketSpec.exists(b => b.numBuckets == buckets &&
        b.bucketColumnNames == Seq("user_id") && b.sortColumnNames == Seq("user_id")))
      Some(s"catalog entry $name declares bucket spec ${ct.bucketSpec} but " +
        s"the files at $dir carry $buckets buckets by user_id sorted by user_id")
    else if (actual != expected)
      Some(s"catalog entry $name declares schema $actual, expected $expected")
    else None
  }

  /** Register the committed bucketed version `dir` as the catalog table
    * `name`. */
  private def registerVersion(s: SparkSession, name: String, dir: Path,
      buckets: Int): Unit =
    s.sql(s"""CREATE TABLE $name (user_id BIGINT, n_events BIGINT,
      cents BIGINT) USING PARQUET CLUSTERED BY (user_id)
      SORTED BY (user_id) INTO $buckets BUCKETS LOCATION '$dir'""")

  /** The store's one write: `df` overwrites `dir`, as the bucketed
    * catalog table `table` = (name, buckets) when given.
    *
    * Committer v2 (one rename per task file instead of two; measured -16%
    * on st17's per-batch snapshot rewrites, SOAK_r20_gateknobs) is scoped
    * to this writer and [[writeBatchIdempotent]]. Its caveat — task output
    * visible before job commit — never reaches a reader of either: this
    * store's readers see a version only through the `_SUCCESS` marker
    * [[commitMarkers]] writes after the job, and the idempotent sink
    * overwrites whole partitions on retry. Standard at-scale setting
    * wherever renames are expensive (object stores); every other writer
    * keeps the JVM's default algorithm. */
  private def writeVersion(df: DataFrame, dir: Path,
      table: Option[(String, Int)]): Unit = {
    val w = df.write.format("parquet").mode("overwrite")
      .option("path", dir.toString).option(CommitterAlgorithm, "2")
    table match {
      case Some((name, buckets)) =>
        w.bucketBy(buckets, "user_id").sortBy("user_id").saveAsTable(name)
      case None => w.save()
    }
  }

  /** The Hadoop job key of the output committer's algorithm version. */
  private val CommitterAlgorithm = "mapreduce.fileoutputcommitter.algorithm.version"

  /** [[applyChangeset]] on the bucketed layout with BUCKET-PRUNED reads
    * and COPY-FORWARD of untouched bucket files — the skewed-changeset
    * regime answer. The full bucketed apply bounds the SHUFFLE to the
    * changeset, but it re-reads and re-writes every bucket of the target
    * per version; when a changeset clusters into a few buckets (a hot
    * user range, a tenant, a backfill) that is almost all wasted work.
    * This variant:
    *
    *  1. derives the TOUCHED bucket set from the changeset itself
    *     (`pmod(hash(user_id), buckets)` — the exact routing
    *     HashPartitioning uses, ≤ `buckets` driver-side values);
    *  2. reads ONLY the touched buckets' files from the prior version
    *     (file-level pruning via the bucket-id filename suffix — Spark's
    *     own bucket pruning only fires on key-equality predicates);
    *  3. merges prior-touched ⟗ changeset and bucket-writes the result
    *     (only touched buckets get new files — every merged row hashes
    *     into one by construction);
    *  4. COPY-FORWARDS each untouched bucket file byte-for-byte through
    *     the FileSystem seam into the new version dir (no decode, no
    *     shuffle, no re-encode; on an object store a server-side copy),
    *     then commits the markers last — the same guard, markers and
    *     registration as every other apply.
    *
    * Compute cost per apply drops from O(target) decode+encode to
    * O(touched buckets) + O(untouched bytes) raw copy. Measured: SOAK_r14
    * puts the mean apply at 1.52 s vs the full apply's 1.38 s at 16M rows
    * (the constant protocol cost — 4 catalog ops, the touched-set
    * collect — still shows at small targets), and 2.97 s vs 5.42 s at 64M.
    * Copy-forward inherits whatever layout the seed wrote (copies relay
    * bytes, they never compact — SOAK_r13c caught a 32-files-per-bucket
    * seed losing 6×), so [[applyVersion]]'s alignment is load-bearing for
    * this path. Falls back to the full apply when there is no prior or
    * the prior carries no trustworthy bucket marker — pruning only on a
    * proven layout; a prior whose marker carries a DIFFERENT count also
    * falls back, and the full apply then refuses LOUDLY. The residual
    * O(target) BYTES on the copy path is the file-granularity floor an
    * FS-level store has; removing it takes a manifest/table format. */
  def applyChangesetPruned(batch: DataFrame, batchId: Long,
      targetDir: String, layout: Bucketed): Unit = {
    val s = batch.sparkSession
    val fs = storeFs(s, targetDir)
    val vDir = new Path(targetDir, s"v$batchId")
    if (committedAndHealed(s, fs, vDir, layout)) return
    val buckets = layout.buckets
    val stageName = layout.table(s"stage_v$batchId")
    val stageDir = new Path(targetDir, s".stage_v$batchId")
    val priorDir = latestVersion(targetDir, below = batchId)
    if (!priorDir.exists(p => readBucketCount(fs, new Path(p)).contains(buckets))) {
      // no prior / unmarked / different layout: the full apply handles
      // every one of these correctly. A RETRY landing here after a crash
      // between the stage write and its cleanup would otherwise leak the
      // stage dir + catalog entry forever (the full apply knows nothing
      // about them), so reap this batch's own stage leftovers first.
      fs.delete(stageDir, true)
      s.sql(s"DROP TABLE IF EXISTS $stageName")
      applyChangeset(batch, batchId, targetDir, layout)
      return
    }
    // one listing, validated, shared with the bucket routing below
    val priorFiles = validateBucketFiles(fs, new Path(priorDir.get), buckets)
    // referenced twice (routing AND the merge): LAZY localCheckpoint —
    // the blocks materialize during the touched-collect job (the eager
    // form cost a flat ~0.4 s per apply), and unlike persist() a
    // checkpoint can never silently RECOMPUTE: a lost block fails the
    // job. That is load-bearing — the version is assembled from BOTH the
    // collected touched set and the merge over this frame; a recompute
    // of a non-deterministic changeset (e.g. one built with limit())
    // could hash rows into buckets outside the collected set, and the
    // copy-forward would then commit DUPLICATE files for one bucket.
    val chg = changeset(batch).localCheckpoint(false)
    try {
      val touched: Set[Int] = chg
        .select(pmod(hash(col("user_id")), lit(buckets)).as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      val (touchedFiles, forward) =
        priorFiles.partition(f => touched.contains(f._1))
      val priorTouched =
        if (touchedFiles.isEmpty) emptySnapshot(s)
        else s.read.schema(SnapshotSchema).parquet(touchedFiles.map(_._2.toString): _*)
      fs.delete(stageDir, true)
      // alignment via the INPUTS, not the output: both join sides are
      // repartitioned to the exact bucket routing, so the SMJ adopts it,
      // the merge output IS bucket-partitioned, and the bucketed write
      // needs no post-merge shuffle — one shuffle of the touched rows
      // where shuffling the output cost three. The repartition origin is
      // user-specified, so AQE neither coalesces nor re-splits it.
      writeVersion(
        mergedSnapshot(
          priorTouched.repartition(buckets, col("user_id")).hint("merge"),
          chg.repartition(buckets, col("user_id"))),
        stageDir, Some(stageName -> buckets))
      fs.delete(vDir, true)
      fs.mkdirs(vDir)
      val staged = fs.listStatus(stageDir).toSeq.collect {
        case st if st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".") => st.getPath
      }
      // a bounded pool, not a driver-sequential loop: O(files) round
      // trips were SOAK_r13c's whole 6× regression; on an object store
      // each copy is a server-side COPY request
      copyAll(fs, s.sparkContext.hadoopConfiguration, vDir,
        staged ++ forward.map(_._2))
      s.sql(s"DROP TABLE IF EXISTS $stageName")
      fs.delete(stageDir, true)
      commitMarkers(fs, vDir, layout)
      val vName = layout.table(vDir.getName)
      s.sql(s"DROP TABLE IF EXISTS $vName")
      registerVersion(s, vName, vDir, buckets)
    } finally graft.CacheOps.unpersistLocalCheckpoint(chg)
  }

  /** Bounded-parallel byte copy of `srcs` into `destDir` (same names)
    * through the FileSystem seam. Failures propagate: any copy error
    * fails the apply before `_SUCCESS` is written, so a partial relay is
    * a torn dir the next attempt rewrites — the copies need no ordering
    * or atomicity of their own. */
  private def copyAll(fs: FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      destDir: Path, srcs: Seq[Path]): Unit = {
    if (srcs.isEmpty) return
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, srcs.size))
    try {
      val tasks = srcs.map { src =>
        new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
              new Path(destDir, src.getName), false, conf)
            ()
          }
        }
      }
      // invokeAll waits for all; surface the first failure
      pool.invokeAll(java.util.Arrays.asList(tasks: _*))
        .forEach(f => f.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally pool.shutdown()
  }

  /** The bucket-count marker of a committed bucketed version. */
  private val BucketsMarker = "_BUCKETS"

  private def storeFs(s: SparkSession, targetDir: String): FileSystem =
    new Path(targetDir).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def isCommitted(fs: FileSystem, vDir: Path): Boolean =
    fs.exists(new Path(vDir, "_SUCCESS"))

  /** Commit `vDir`: `_SUCCESS`, then on the bucketed layout `_BUCKETS`. A
    * crash between the two leaves `_SUCCESS` without `_BUCKETS`, which
    * recovery treats as an unknown layout (plain scan, never misaligned)
    * and the replayed batch heals ([[committedAndHealed]]). `_SUCCESS` is
    * written explicitly: the committer emits it only when
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs` is true — its
    * default, but a common object-store tuning turns it OFF, and without
    * it every apply would see no committed prior and silently reset the
    * state each batch. */
  private def commitMarkers(fs: FileSystem, vDir: Path, layout: Layout): Unit = {
    fs.create(new Path(vDir, "_SUCCESS"), true).close()
    layout match {
      case b: Bucketed => writeBucketCount(fs, vDir, b.buckets)
      case Plain => ()
    }
  }

  /** The committed-skip guard: true when `vDir` is already committed (a
    * replay → skip). On the bucketed layout it heals a missing `_BUCKETS`
    * on the way — the crash window [[commitMarkers]] names would
    * otherwise cost every LATER apply this version's Exchange-free scan,
    * permanently. The replayed batch is the one place that knows it just
    * re-ran this version, so the heal is exact (from the data), never
    * heuristic. */
  private def committedAndHealed(s: SparkSession, fs: FileSystem,
      vDir: Path, layout: Layout): Boolean =
    isCommitted(fs, vDir) && {
      layout match {
        case b: Bucketed if readBucketCount(fs, vDir).isEmpty =>
          healBucketMarker(s, fs, vDir, b.buckets)
        case _ =>
      }
      true
    }

  private def writeBucketCount(fs: FileSystem, vDir: Path, buckets: Int): Unit = {
    val out = fs.create(new Path(vDir, BucketsMarker), true)
    try out.write(buckets.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def readBucketCount(fs: FileSystem, vDir: Path): Option[Int] = {
    val meta = new Path(vDir, BucketsMarker)
    if (!fs.exists(meta)) None
    else {
      val in = fs.open(meta)
      try {
        val raw = new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim
        // toIntOption, not toInt: an all-digit string beyond Int range
        // must hit the same descriptive failure, not a bare
        // NumberFormatException from inside the require condition
        val parsed = raw.toIntOption.filter(_ > 0)
        require(parsed.isDefined,
          s"corrupt $BucketsMarker marker at $meta: '$raw'")
        parsed
      } finally in.close()
    }
  }

  /** Canonical bucket-id extraction from a bucketed write's file name —
    * ONE core pattern; the anchored matcher and healBucketMarker's SQL
    * regexp_extract both derive from it, so they cannot drift. */
  private[graft] val BucketFileIdCore = "_(\\d{5})(?:\\.c\\d+)?\\."
  private[graft] val BucketFileId = (".*" + BucketFileIdCore + ".*").r

  /** Cross-check the `_BUCKETS` marker against the files it describes:
    * every data file must carry Spark's `_NNNNN` bucket-id suffix with id
    * < the declared count. Catches a stale/corrupt marker and plain-apply
    * files alike — both would otherwise let a declared distribution
    * diverge from the data. Returns the validated `(bucketId, path)`
    * pairs from the SAME listing the checks ran on — callers that route
    * by bucket (the pruned apply) must consume this list, not re-list: a
    * file appearing between two listings would otherwise dodge
    * validation. */
  private def validateBucketFiles(fs: FileSystem, vDir: Path,
      buckets: Int): Seq[(Int, Path)] =
    fs.listStatus(vDir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isFile && !n.startsWith("_") && !n.startsWith(".")) n match {
        case BucketFileId(id) =>
          if (id.toInt >= buckets) throw new IllegalStateException(
            s"snapshot store: file $n carries bucket id $id >= the " +
              s"declared $buckets buckets at $vDir — layout metadata is wrong")
          Some(id.toInt -> st.getPath)
        case _ => throw new IllegalStateException(
          s"snapshot store: data file $n at $vDir has no bucket-id " +
            "suffix; the dir is not a bucketed write despite its marker")
      } else None
    }

  /** Recovery for the `_SUCCESS`-without-`_BUCKETS` crash window: decide
    * whether `vDir`'s files genuinely satisfy a `buckets`-way
    * distribution and, if so, persist the healed marker. Filename
    * suffixes alone cannot establish the COUNT (every id < 8 is also
    * < 16), so this reads the version once and checks the exact
    * invariant a bucketed scan relies on: every row's
    * `pmod(hash(user_id), buckets)` equals its file's bucket-id suffix —
    * `functions.hash` is the same Murmur3(seed=42) that
    * HashPartitioning uses to route bucketed writes, so a zero-mismatch
    * pass PROVES the declared distribution holds regardless of what
    * count originally wrote the files. Any mismatch (different count, or
    * a plain write that happens to match the suffix pattern) leaves the
    * dir unmarked: it keeps degrading to a plain scan — one avoidable
    * Exchange, never a misalignment. The O(version) read happens only on
    * this one-shot heal path; NOT healing would cost an Exchange on
    * every subsequent apply instead. */
  private[graft] def healBucketMarker(s: SparkSession, fs: FileSystem,
      vDir: Path, buckets: Int): Boolean = {
    val dataFiles = fs.listStatus(vDir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath.getName)
    val suffixed = dataFiles.nonEmpty && dataFiles.forall {
      case BucketFileId(id) => id.toInt < buckets
      case _ => false
    }
    if (!suffixed) return false
    // extract from the BASENAME, not the full URI: a directory component
    // earlier in the path matching `_NNNNN.` (a target dir named
    // `snap_00001.d`) would otherwise yield a wrong _fid for every row
    // and permanently refuse the heal
    val rows = s.read.parquet(vDir.toString)
      .withColumn("_fid", regexp_extract(
        element_at(split(input_file_name(), "/"), -1),
        BucketFileIdCore, 1).cast("int"))
    val misrouted = rows
      .filter(pmod(hash(col("user_id")), lit(buckets)) =!= col("_fid"))
      .limit(1).count()
    if (misrouted == 0L) { writeBucketCount(fs, vDir, buckets); true }
    else false
  }

  /** Retention for the versioned snapshot store — the VACUUM analog
    * that completes the protocol: every apply writes a NEW version dir,
    * so without pruning the store holds O(versions × target) bytes.
    * Keeps the newest `keepLast` COMMITTED versions; deletes every
    * older version dir through the FileSystem seam, including TORN dirs
    * strictly below the latest committed version (a torn dir below a
    * committed one is a superseded crash attempt by the protocol — its
    * batch must have completed for any later version to exist; a torn
    * dir ABOVE the latest committed version is an in-flight write and
    * is never touched). On the bucketed layout it also drops the pruned
    * versions' session catalog entries. Returns the deleted version dir
    * names. `keepLast` ≥ 1 always preserves the read path:
    * `latestVersion` and the next apply's prior-derivation see exactly
    * what they saw before the prune. */
  def pruneVersions(s: SparkSession, targetDir: String, keepLast: Int = 2,
      layout: Layout = Plain): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fs = storeFs(s, targetDir)
    val target = new Path(targetDir)
    val versions = numberedDirs(fs, target, VersionDir)
    val committed = versions.collect { case (id, p) if isCommitted(fs, p) => id }
    if (committed.isEmpty) return Seq.empty
    val keep = committed.sorted.takeRight(keepLast).toSet
    val latest = committed.max
    def dropTable(dirName: String): Unit = layout match {
      case b: Bucketed => s.sql(s"DROP TABLE IF EXISTS ${b.table(dirName)}")
      case Plain =>
    }
    // stale pruned-apply staging: a crash between the stage write and
    // its cleanup leaks `.stage_vN` + its catalog entry if the retry
    // never revisits the pruned path (fallback, or abandonment). A stage
    // dir at N ≤ latest committed is stale by the protocol — batches are
    // sequential, so an IN-FLIGHT stage always carries an id above every
    // committed version; those are never touched.
    numberedDirs(fs, target, StageDir).foreach { case (id, p) =>
      if (id <= latest) { fs.delete(p, true); dropTable(s"stage_v$id") }
    }
    versions.collect { case (id, p) if id < latest && !keep.contains(id) =>
      fs.delete(p, true)
      dropTable(p.getName)
      p.getName
    }
  }

  /** The CDC merge body shared by the plain and bucketed applies:
    * full-outer on user_id, absent sides coalesced to zero, integer
    * cents so maintain ≡ recompute exactly. */
  private[graft] def mergedSnapshot(prior: DataFrame, chg: DataFrame): DataFrame =
    prior.join(chg, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("n_events"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_events"),
        (coalesce(col("cents"), lit(0L)) + coalesce(col("dc"), lit(0L)))
          .as("cents"))

  /** The snapshot store's pinned on-disk schema — every version dir is
    * written with exactly these columns by [[mergedSnapshot]]'s select.
    * Version reads pass it explicitly: `spark.read.parquet` without a
    * schema re-INFERS per read (driver-side listing + footer job,
    * ~80-120ms each — the Tables.schemaCache lesson), and the apply loop
    * reads a prior snapshot EVERY batch. */
  private val SnapshotSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_events",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cents",
        org.apache.spark.sql.types.LongType)))

  private def emptySnapshot(s: SparkSession): DataFrame =
    s.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      SnapshotSchema)

  private def readSnapshot(s: SparkSession, dir: String): DataFrame =
    s.read.schema(SnapshotSchema).parquet(dir)

  /** The store's state as of batch `asOf` — the latest committed version
    * ≤ it (st20's time-travel read); by default the latest. */
  def snapshotAt(s: SparkSession, targetDir: String,
      asOf: Long = Long.MaxValue - 1): DataFrame =
    readSnapshot(s, versionAsOf(targetDir, asOf))

  private def versionAsOf(targetDir: String, asOf: Long): String =
    latestVersion(targetDir, below = asOf + 1).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version <= $asOf under $targetDir"))

  private val VersionDir = "v(\\d+)".r
  private val StageDir = "\\.stage_v(\\d+)".r

  /** `(id, dir)` of every directory under `target` whose name matches
    * `pattern` (one numeric group: the batch id). */
  private def numberedDirs(fs: FileSystem, target: Path,
      pattern: scala.util.matching.Regex): Seq[(Long, Path)] =
    if (!fs.exists(target)) Seq.empty
    else fs.listStatus(target).toSeq.flatMap { st =>
      st.getPath.getName match {
        case pattern(id) if st.isDirectory => Some(id.toLong -> st.getPath)
        case _ => None
      }
    }

  /** Latest COMMITTED (`_SUCCESS`-marked) version dir under `targetDir`
    * with id strictly below `below`; None before the first commit.
    * Listing and marker probes go through the Hadoop FileSystem API
    * (resolved from the active session's hadoopConfiguration, so a
    * custom scheme registered there — `RemoteFsSpec`'s object-store
    * stand-in, or `s3a:` in production — is honored). */
  def latestVersion(targetDir: String, below: Long = Long.MaxValue): Option[String] = {
    val target = new Path(targetDir)
    val hc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = target.getFileSystem(hc)
    numberedDirs(fs, target, VersionDir)
      .filter { case (id, p) => id < below && isCommitted(fs, p) }
      .maxByOption(_._1).map(_._2.toString)
  }

  /** VERSION DIFF over the snapshot store — "what changed between
    * version `fromV` and version `toV`?", the audit read that pairs with
    * st20's time-travel ("what WAS the state?"). Each pin resolves to
    * the latest committed version ≤ it (the st20 rule); the two
    * snapshots full-outer join on the store key and every key whose
    * state differs is emitted classified `added` / `removed` /
    * `changed` with both sides' values. Keys identical in both versions
    * are filtered out — the diff is changeset-sized, not store-sized.
    * `removed` appears only under [[applyDeletes]] (the count/cents
    * merge is append-only, so its diffs are add/change).
    *
    * On the bucketed layout the snapshots are read as their BUCKETED
    * catalog tables: both sides carry the same bucketing+sort on the
    * join key, so the full-outer join is a zero-Exchange, zero-Sort SMJ —
    * at 100 TB the diff costs one co-located scan of the two versions and
    * shuffles NOTHING (the q37 property, applied to the store's own
    * history). The catalog entry is only an optimization here (the
    * committed dir is the data): an entry that fails [[catalogMismatch]]
    * against the dir's own `_BUCKETS` marker — a fresh session, a stale
    * entry, another store sharing the prefix — falls back to the plain
    * dir read: same rows, one Exchange per side. On the plain layout both
    * snapshots shuffle once. */
  def versionDiff(s: SparkSession, targetDir: String, fromV: Long, toV: Long,
      layout: Layout = Plain): DataFrame = {
    def snapshot(pin: Long): DataFrame = layout match {
      case b: Bucketed =>
        val dir = new Path(versionAsOf(targetDir, pin))
        val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
        val name = b.table(dir.getName)
        if (s.catalog.tableExists(name) && readBucketCount(fs, dir).exists(n =>
            catalogMismatch(s, fs, name, dir, n).isEmpty)) s.table(name)
        else readSnapshot(s, dir.toString)
      case Plain => snapshotAt(s, targetDir, pin)
    }
    val old = snapshot(fromV).select(col("user_id"),
      col("n_events").as("n_old"), col("cents").as("cents_old"))
    val neu = snapshot(toV).select(col("user_id"),
      col("n_events").as("n_new"), col("cents").as("cents_new"))
    old.join(neu, Seq("user_id"), "full_outer")
      .filter(col("n_old").isNull || col("n_new").isNull ||
        col("n_old") =!= col("n_new") || col("cents_old") =!= col("cents_new"))
      .select(col("user_id"),
        when(col("n_old").isNull, "added")
          .when(col("n_new").isNull, "removed")
          .otherwise("changed").as("change"),
        col("n_old"), col("cents_old"), col("n_new"), col("cents_new"))
  }

  /** The st09 foreachBatch body: overwrite exactly this batch's
    * partition, with committer v2 (see [[writeVersion]] for why that is
    * safe here). Public so the idempotence property is directly
    * testable. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, outDir: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      // writer-scoped: a session-conf set here would silently change
      // overwrite semantics for every other write in the application
      .option("partitionOverwriteMode", "dynamic")
      .option(CommitterAlgorithm, "2")
      .partitionBy("batch_id")
      .parquet(outDir)

  /** Convenience: run `windowedCounts` over a file stream of the events
    * table and deliver to an in-memory sink — the wiring a production
    * deployment would point at kafka/files + a real sink. The whole
    * directory arrives in the FIRST micro-batch (the file source's
    * default); deliberately NOT rate-limited here — with
    * `maxFilesPerTrigger` the per-batch watermark advance would make
    * results depend on file arrival ORDER (a later-stamped file arriving
    * first marks earlier files' rows late). Paced multi-batch replay
    * with controlled watermark ticks is [[graft.streaming.StreamReplay]]'s
    * job, which stages files explicitly for exactly that reason.
    */
  def streamEventsToMemory(spark: SparkSession, eventsDir: String,
                           queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    windowedCounts(stream)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Append())
      .start()
  }
}

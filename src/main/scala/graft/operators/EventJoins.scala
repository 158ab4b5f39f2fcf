package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks as built-ins, composed from
  * primitives Catalyst CAN optimize (preference (a) of the brief: compose
  * before custom plans). Both have exact DuckDB oracle twins — the as-of
  * join against DuckDB's native ASOF JOIN.
  */
object EventJoins {
  type Q = (SparkSession, String) => DataFrame

  /** a01: AS-OF JOIN — for each purchase, the latest error event of the
    * same user at-or-before the purchase time.
    *
    * NOT implemented as a join at all: union the two sides tagged, one
    * sort-shuffle by (user, ts, side), and a running `last(..., ignoreNulls)`
    * window carries the most recent right-side id forward. One exchange,
    * linear scan — at 100 TB this beats any join-shaped plan (a naive
    * inequality join is a BNL cartesian per user; even a binned range join
    * does 2× build reads). Ordering puts side=0 (error) before side=1
    * (purchase) on ts ties, matching ASOF's `p.ts >= e.ts` inclusivity.
    *
    * Tie rule: among several error events at the SAME (user, ts), the one
    * with the largest event_id wins — `e_in` is the final sort key, so it
    * is what the running `last` sees latest. Without the tiebreaker the
    * pick would depend on partitioning (nondeterministic across runs).
    * ASOF engines leave this tie implementation-defined; ours is declared.
    */
  val a01_asof_join: Q = (s, dir) => {
    // ONE scan: both sides come out of a single conditional projection
    // (a filtered union would plan two full file reads — at 100 TB the
    // input IO doubles for no semantic reason)
    val both = Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"),
        when(col("event_type") === "purchase", col("event_id")).as("p_id"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
        when(col("event_type") === "error", col("event_id")).as("e_in"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("e_in"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    both
      .withColumn("asof_error_id", last(col("e_in"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("p_id"), col("user_id"), col("asof_error_id"))
      .orderBy(col("p_id"))
  }

  /** a02: RANGE (interval) JOIN — (signup, purchase) pairs of the same
    * user with the purchase inside [signup, signup + 24h).
    *
    * The scale shape: equi-join on (user, time-bucket) with the probe side
    * exploded to its two candidate buckets, exact predicate applied after.
    * Join fan-out is bounded by real bucket co-occupancy instead of the
    * per-user cartesian a raw inequality join plans (BroadcastNestedLoop).
    */
  val a02_range_join: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val W = 86400000000L // 24h in micros
    // integer div for the bucket key (the Tables.events rule): floor of
    // a DOUBLE quotient is exact only while the quotient fits a double's
    // integer-precision range — div never rounds
    val su = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("s_id"), unix_micros(col("ts")).as("s_us"))
      .withColumn("bkt", expr(s"s_us div $W"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), unix_micros(col("ts")).as("p_us"))
      .withColumn("bkt", explode(array(expr(s"p_us div $W") - 1, expr(s"p_us div $W"))))
    su.join(pu, Seq("user_id", "bkt"))
      .filter(col("s_us") <= col("p_us") && col("p_us") < col("s_us") + W)
      .select(col("s_id"), col("p_id"), col("user_id"))
      .orderBy(col("s_id"), col("p_id"))
  }

  /** a03: batch sessionization — a new session starts after a >30 min gap
    * in a user's event stream. One sort-shuffle by user feeds BOTH window
    * passes (gap flag, running session counter) and the per-session
    * aggregate reuses the same rows — classic single-exchange event
    * analytics. The batch twin of `EventStreams`' event-time sessions.
    */
  val a03_sessionize: Q = (s, dir) => {
    val gapUs = 1800000000L // 30 min in micros
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val run = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_sess",
        when(lag(col("us"), 1).over(wOrd).isNull
          || col("us") - lag(col("us"), 1).over(wOrd) > gapUs, 1).otherwise(0))
      .withColumn("session_no", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      .orderBy(col("user_id"), col("session_no"))
  }

  /** a04: ordered funnel — users reaching signup → view-after-signup →
    * purchase-after-that-view. Three chained whole-partition window mins
    * over the SAME partitioning (Catalyst keeps them in one exchange; each
    * stage's threshold is the previous stage's column), then a one-row
    * global rollup. No self-joins: at 100 TB the per-user state is three
    * timestamps, not an events×events product.
    */
  val a04_funnel: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, dir)
      .withColumn("s1", min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("v1", min(when(col("event_type") === "view" && col("ts") >= col("s1"), col("ts"))).over(w))
      .withColumn("p1", min(when(col("event_type") === "purchase" && col("ts") >= col("v1"), col("ts"))).over(w))
      .select(col("user_id"), col("s1"), col("v1"), col("p1")).distinct()
      .agg(count(col("s1")).as("n_signup"),
        count(col("v1")).as("n_view_after_signup"),
        count(col("p1")).as("n_purchase_after_view"))
  }

  /** a05: cohort retention — users grouped by first-seen week (cohort),
    * counted per week-offset k of later activity; the classic retention
    * triangle. Weeks are epoch-microsecond integer division (no calendar
    * fns — identical arithmetic in any engine/timezone).
    *
    * ONE corpus-scale shuffle: `collect_set(week)` per user both dedups
    * (user, week) AND carries the cohort (its min) in the same
    * aggregation — a distinct + cohort-join formulation would shuffle the
    * corpus twice and re-join it. The per-user set is bounded by the
    * corpus's week span (a few hundred entries after decades), so state
    * can't blow up and the partial aggregation combines map-side. The
    * final (cohort, k) rollup is triangle-sized.
    */
  val a05_cohort_retention: Q = (s, dir) => {
    Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"))
      .groupBy(col("user_id")).agg(collect_set(col("wk")).as("wks"))
      .select(array_min(col("wks")).as("cohort_week"), explode(col("wks")).as("wk"))
      .select(col("cohort_week"), (col("wk") - col("cohort_week")).as("k"))
      .groupBy(col("cohort_week"), col("k"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("k"))
  }

  /** a06: WINDOWED funnel — like a04 but each later stage must land within
    * 24h of the user's earliest signup (conversion-within-window, the shape
    * streaming funnels use since it lets the window CLOSE). Same
    * single-exchange plan as a04: three chained window mins over one
    * partitioning, then a one-row rollup. The batch twin of
    * `EventStreams.funnelWindow`.
    */
  val a06_funnel_windowed: Q = (s, dir) => {
    val W = 86400000000L // 24h in micros
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("s1", min(when(col("event_type") === "signup", col("us"))).over(w))
      .withColumn("v1", min(when(col("event_type") === "view"
        && col("us") >= col("s1") && col("us") <= col("s1") + W, col("us"))).over(w))
      .withColumn("p1", min(when(col("event_type") === "purchase"
        && col("us") >= col("v1") && col("us") <= col("s1") + W, col("us"))).over(w))
      .select(col("user_id"), col("s1"), col("v1"), col("p1")).distinct()
      .agg(count(col("s1")).as("n_signup"),
        count(col("v1")).as("n_view_24h"),
        count(col("p1")).as("n_purchase_24h"))
  }

  /** a07: user-journey transition mining — counts of adjacent
    * (from_type → to_type) steps in each user's event-time-ordered
    * stream, the Markov-chain view of behavioral analytics. ONE
    * sort-shuffle by user (the same exchange a03's sessionization uses)
    * feeds a lag window; the aggregate output is type-vocabulary² tiny.
    * Ordering ties break on event_id so the chain is deterministic.
    */
  val a07_transitions: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** a08: SCD2 build — collapse each user's event stream into TYPE-2
    * slowly-changing-dimension validity intervals over their event_type
    * "state": a new version opens only when the state CHANGES
    * (consecutive duplicates collapse), `valid_to` is the next version's
    * `valid_from` (half-open intervals), and the open interval is flagged
    * current. This is the dimension-snapshot primitive every warehouse
    * ETL and point-in-time training-feature join is built on; a01's
    * as-of join is exactly the probe side of the interval table this
    * builds.
    *
    * Plan: the user sampling predicate is pushed to the scan; then ONE
    * sort-shuffle on user_id serves all three windows (change-detection
    * lag, version row_number, interval lead — identical
    * (user_id; ts, event_id) ordering, so Catalyst plans a single
    * Exchange and reuses the sort). Per-user state is bounded by that
    * user's change count; no corpus-wide window exists.
    */
  val a08_scd2: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .filter(col("user_id") % 50 === 0)
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type").as("state"),
        col("ts").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** a09: gap sessionization via the BUILT-IN `session_window` aggregate
    * — the one-aggregate alternative to a03's two-window composition,
    * and the exact code path st12 runs as a stream (same function,
    * [[graft.streaming.EventStreams.sessionWindowAgg]]). Declared tie
    * difference vs a03: half-open windows split at gap EXACTLY 30min;
    * session_end is the window end (last event + gap). One shuffle on
    * (user, merged-window) — Catalyst plans session-window merging as a
    * single partial+final aggregate over user-keyed partitions.
    */
  val a09_session_window: Q = (s, dir) =>
    graft.streaming.EventStreams.sessionWindowAgg(Tables.events(s, dir))
      .orderBy(col("user_id"), col("session_start"))

  val all: Map[String, Q] = Map(
    "a09_session_window" -> a09_session_window,
    "a08_scd2" -> a08_scd2,
    "a07_transitions" -> a07_transitions,
    "a01_asof_join" -> a01_asof_join,
    "a02_range_join" -> a02_range_join,
    "a03_sessionize" -> a03_sessionize,
    "a04_funnel" -> a04_funnel,
    "a05_cohort_retention" -> a05_cohort_retention,
    "a06_funnel_windowed" -> a06_funnel_windowed,
  )

  val oracles: Map[String, String] = Map(
    // a09: half-open session_window semantics — gap >= 30min splits
    // (vs a03's > rule), session_end = max(ts) + the gap
    "a09_session_window" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS session_no
        |  FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTES AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
        |FROM s GROUP BY user_id, session_no
        |ORDER BY user_id, session_start""".stripMargin,
    // a08: same lag-collapse → windowed version/lead shape; row_number
    // width differs (int vs bigint) but the driver compares values.
    "a08_scd2" ->
      """WITH f AS (
        |  SELECT user_id, event_id, ts, event_type FROM events
        |  WHERE user_id % 50 = 0),
        |ch AS (
        |  SELECT *, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM f),
        |k AS (SELECT * FROM ch WHERE prev IS NULL OR prev != event_type)
        |SELECT user_id,
        |  row_number() OVER w AS version,
        |  event_type AS state,
        |  ts AS valid_from,
        |  lead(ts) OVER w AS valid_to,
        |  CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM k WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "a07_transitions" ->
      """WITH t AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events)
        |SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,
    "a05_cohort_retention" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        |c AS (
        |  SELECT user_id, min(wk) AS cohort_week FROM wk GROUP BY user_id)
        |SELECT c.cohort_week, wk.wk - c.cohort_week AS k, count(*) AS n_users
        |FROM wk JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, k""".stripMargin,
    // the equal-ts tie is PINNED on both sides: the engine's declared
    // rule is max event_id among errors at the same (user, ts); ASOF
    // engines leave that tie implementation-defined, so the oracle
    // dedups e to the same pick before the ASOF join (a no-op when no
    // ties exist, alignment when they do)
    "a01_asof_join" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |     e AS (
        |  SELECT user_id, ts, max(event_id) AS event_id
        |  FROM events WHERE event_type = 'error' GROUP BY user_id, ts)
        |SELECT p.event_id AS p_id, p.user_id AS user_id,
        |       e.event_id AS asof_error_id
        |FROM p ASOF LEFT JOIN e
        |  ON p.user_id = e.user_id AND p.ts >= e.ts
        |ORDER BY p_id""".stripMargin,
    "a02_range_join" ->
      """WITH s AS (SELECT * FROM events WHERE event_type = 'signup'),
        |     p AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT s.event_id AS s_id, p.event_id AS p_id, s.user_id AS user_id
        |FROM s JOIN p
        |  ON s.user_id = p.user_id
        | AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 24 HOURS
        |ORDER BY s_id, p_id""".stripMargin,
    "a03_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS session_no
        |  FROM o)
        |SELECT user_id, session_no, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
        |FROM s GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,
    "a04_funnel" ->
      """WITH s AS (
        |  SELECT user_id, min(ts) FILTER (WHERE event_type = 'signup') AS s1
        |  FROM events GROUP BY user_id),
        |v AS (
        |  SELECT e.user_id, min(e.ts) AS v1 FROM events e JOIN s USING (user_id)
        |  WHERE e.event_type = 'view' AND e.ts >= s.s1 GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS p1 FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= v.v1 GROUP BY e.user_id)
        |SELECT (SELECT count(s1) FROM s) AS n_signup,
        |       (SELECT count(*) FROM v) AS n_view_after_signup,
        |       (SELECT count(*) FROM p) AS n_purchase_after_view""".stripMargin,
    "a06_funnel_windowed" ->
      """WITH s AS (
        |  SELECT user_id,
        |    min(epoch_us(ts)) FILTER (WHERE event_type = 'signup') AS s1
        |  FROM events GROUP BY user_id),
        |v AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS v1
        |  FROM events e JOIN s USING (user_id)
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s.s1
        |    AND epoch_us(e.ts) <= s.s1 + 86400000000 GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS p1
        |  FROM events e JOIN v USING (user_id) JOIN s USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.v1
        |    AND epoch_us(e.ts) <= s.s1 + 86400000000 GROUP BY e.user_id)
        |SELECT (SELECT count(s1) FROM s) AS n_signup,
        |       (SELECT count(*) FROM v) AS n_view_24h,
        |       (SELECT count(*) FROM p) AS n_purchase_24h""".stripMargin,
  )
}

package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-path variants of exact operators — the forms you run when the
  * exact version's shuffle/state no longer fits the cluster.
  *
  * Gate shape (r11): each entry emits DETERMINISTIC columns only — the
  * exact twin of what the sketch estimates, plus a `within_bound` boolean
  * derived in-query from sketch vs exact under the sketch's published
  * error envelope (the former `SketchAccuracySpec` bounds, now computed
  * by the query itself). The DuckDB oracle emits the exact values and
  * literal TRUE, so the accuracy envelope is hash-gated by the driver:
  * a sketch drifting outside its bound flips a boolean and fails the
  * row hash. The sketch VALUES themselves (impl-defined: Spark's HLL++ ≠
  * DuckDB's HLL) never reach the output.
  *
  * At 100 TB you run the sketch side ONLY (the raw forms below —
  * `approxDistinctSketch` / `quantileSketch` / `heavyHitterSketch`); the
  * exact twin here rides along at gate scale precisely to put the
  * envelope check inside the correctness gate instead of beside it.
  */
object ScaleQueries {

  type Q = (SparkSession, String) => DataFrame

  // ---- raw sketch forms: the 100 TB deployment queries -------------

  /** HLL approximate distinct per return flag — the 100 TB replacement
    * for q15's exact expand+two-phase count-distinct. One narrow
    * partial+final agg, fixed-size sketch state per group, no expand. */
  def approxDistinctSketch(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_suppkey"), 0.02).as("n_supp_approx"),
        approx_count_distinct(col("l_partkey"), 0.02).as("n_part_approx"))
      .orderBy(col("l_returnflag"))

  /** Greenwald-Khanna approximate quantiles — fixed-memory percentile
    * sketch vs an exact global sort; accuracy 1000 → rank error 1/1000. */
  def quantileSketch(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50"),
        percentile_approx(col("o_totalprice"), lit(0.99), lit(1000)).as("p99"))
      .orderBy(col("o_orderpriority"))

  /** DataSketches frequent-items top-20 over the token stream
    * (`approx_top_k`) — the 100 TB replacement for the exact
    * explode→groupBy→count→order route to "top vocabulary terms":
    * fixed-size sketch state per partition merged once at the final agg,
    * so the full vocabulary never shuffles. Guarantees: every token with
    * true frequency above n/maxItemsTracked is PRESENT, and each estimate
    * is within that bound of the true count. */
  def heavyHitterSketch(s: SparkSession, dir: String): DataFrame =
    tokens(s, dir)
      .agg(expr("approx_top_k(tok, 20, 8192)").as("tk"))
      .select(explode(col("tk")).as("hh"))
      .select(col("hh.item").as("token"), col("hh.count").as("est_count"))
      .orderBy(col("est_count").desc, col("token"))

  private def tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), "[ \\t\\n\\x0B\\f\\r]+")).as("tok"))
      .filter(length(col("tok")) > 0)

  // ---- gate entries: exact twin + in-query envelope check ----------

  /** x01: HLL distinct vs exact twin. Both aggregates run in ONE pass
    * (the exact side pays q15's expand at gate scale — the price of
    * gating the envelope); `within_bound` = |approx − exact| ≤
    * max(1, ⌊5% · exact⌋), HLL++'s rsd=0.02 at 2.5σ — a safely-passing
    * yet meaningful envelope on group distinct counts in the hundreds
    * to thousands. */
  val x01_approx_distinct: Q = (s, dir) => {
    def bound(exact: Column): Column = greatest(lit(1L), floor(exact * 0.05).cast("long"))
    // TWO distinct-pair pipelines instead of one agg with two
    // countDistincts (r20): the single agg planned an Expand ×3 of every
    // lineitem row (1.8M rows through one exchange at sf0.1 — 3.0 s solo
    // under the noop sink). Per key: map-side partial distinct on
    // (flag, key) collapses the scan to the distinct pairs, the exchange
    // carries only those, and the final 3-row agg computes BOTH the
    // exact count (count of the non-null key over distinct pairs ≡
    // countDistinct) and the HLL estimate (duplicate-insensitive:
    // identical sketch state and estimate over the deduped set). Null
    // keys stay in the pairs, so a flag whose keys are ALL null still
    // has its row on each side (count 0, estimate 0) — the
    // `GROUP BY l_returnflag` the oracle runs keeps such a flag too. The
    // join is null-safe for the same reason: a null flag is a group.
    def side(key: String, approxName: String, exactName: String): DataFrame =
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col(key))
        .distinct()
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col(key), 0.02).as(approxName),
          count(col(key)).as(exactName))
    val supp = side("l_suppkey", "supp_approx", "n_supp_exact")
    val part = side("l_partkey", "part_approx", "n_part_exact")
    supp.join(part, supp("l_returnflag") <=> part("l_returnflag"))
      .select(supp("l_returnflag"), col("n_supp_exact"), col("n_part_exact"),
        (abs(col("supp_approx") - col("n_supp_exact")) <= bound(col("n_supp_exact")))
          .as("supp_within_bound"),
        (abs(col("part_approx") - col("n_part_exact")) <= bound(col("n_part_exact")))
          .as("part_within_bound"))
      .orderBy(col("l_returnflag"))
  }

  /** x02: GK quantiles vs exact DISCRETE quantiles. The exact twin is
    * the element at rank ⌈q·n⌉ under ORDER BY price — an actual data
    * value, no interpolation arithmetic, so Spark and DuckDB compare the
    * identical parquet double bit-for-bit. `within_bound` asserts the
    * sketch value's REALIZED RANK (count of values ≤ it, over n) is
    * within 1/accuracy (+0.005 tie-plateau slack) of q — the honest
    * metric for a rank-error sketch, computed against the full group. */
  val x02_approx_quantiles: Q = (s, dir) => {
    val eps = 1.0 / 1000 + 0.005
    val o = Tables.orders(s, dir).select(col("o_orderpriority"), col("o_totalprice"))
    val sk = o.groupBy(col("o_orderpriority"))
      .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50s"),
        percentile_approx(col("o_totalprice"), lit(0.99), lit(1000)).as("p99s"))
    val ranked = o
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
    ranked.join(broadcast(sk), Seq("o_orderpriority"))
      .groupBy(col("o_orderpriority"))
      .agg(
        max(col("n")).as("n"),
        max(when(col("rk") === ceil(col("n") * 0.5).cast("long"),
          col("o_totalprice"))).as("p50_exact"),
        max(when(col("rk") === ceil(col("n") * 0.99).cast("long"),
          col("o_totalprice"))).as("p99_exact"),
        sum(when(col("o_totalprice") <= col("p50s"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("o_totalprice") <= col("p99s"), 1L).otherwise(0L)).as("r99"))
      .select(col("o_orderpriority"), col("p50_exact"), col("p99_exact"),
        (abs(col("r50") / col("n") - 0.5) <= eps).as("p50_within_bound"),
        (abs(col("r99") / col("n") - 0.99) <= eps).as("p99_within_bound"))
      .orderBy(col("o_orderpriority"))
  }

  /** x03: frequent-items sketch vs the exact top-20 tokens. Output rows
    * are the EXACT top-20 (count desc, token asc — `orderBy().limit()`,
    * i.e. distributed TakeOrdered, never a global single-partition
    * window). Per row, `within_bound` encodes the sketch's actual
    * guarantee — which is NOT n/8192: Spark's approx_top_k(…, 8192)
    * sizes the DataSketches ItemsSketch at maxMapSize =
    * pow2(ceil(8192/0.75)) = 16384 (ApproxTopK.calMaxMapSize), whose
    * published a-priori bound is 3.5·n/maxMapSize — once the vocabulary
    * exceeds the map and the Misra-Gries purge activates, a CONFORMING
    * sketch can exceed the naive n/8192 this gate asserted through r16.
    * The envelope is the library's bound: either the estimate is within
    * 3.5·n/16384 of the true count, or the token sits inside the
    * tie region at the top-20 cutoff (≤ cutoff + 2·bound) where the
    * sketch may legitimately swap it for an equal-weight neighbor. */
  val x03_heavy_hitters: Q = (s, dir) => {
    val tk = tokens(s, dir).localCheckpoint() // feeds exact agg, sketch agg, and n
    val top20 = tk.groupBy(col("tok")).agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("tok")).limit(20)
      .localCheckpoint() // referenced twice (rows + cutoff aggregate)
    val sketch = tk.agg(expr("approx_top_k(tok, 20, 8192)").as("tkk"))
      .select(explode(col("tkk")).as("hh"))
      .select(col("hh.item").as("tok"), col("hh.count").as("est_count"))
    val nBound = tk.agg(
      (floor(count(lit(1)) * 3.5 / 16384) + 1).cast("long").as("bound"))
    val cutoff = top20.agg(min(col("exact_count")).as("cutoff"))
    // 20-row audit out: seal + release the exploded-token corpus cut and
    // the top-20 cut (CacheOps.sealAndRelease, the d08 ballast lesson)
    graft.CacheOps.sealAndRelease(
      top20.join(sketch, Seq("tok"), "left")
        .crossJoin(broadcast(nBound)).crossJoin(broadcast(cutoff))
        .select(col("tok").as("token"), col("exact_count"),
          ((col("est_count").isNotNull &&
            abs(col("est_count") - col("exact_count")) <= col("bound")) ||
            col("exact_count") <= col("cutoff") + lit(2) * col("bound"))
            .as("within_bound"))
        .orderBy(col("exact_count").desc, col("token")),
      tk, top20)
  }

  /** x04: SKETCH MERGE across shards — the deployment shape x01's
    * single-query sketch doesn't show: at 100 TB each shard
    * materializes a compact DataSketches HLL of its token set ONCE
    * (`hll_sketch_agg` — a binary column stored next to the shard), and
    * every later cross-shard cardinality question is answered by
    * MERGING sketches (`hll_union_agg`), never by re-scanning raw
    * data; sketch unions are associative/commutative, so the merge tree
    * is shuffle-shaped, not data-shaped. Per language: one sketch per
    * (lang, source) shard, merged to a per-language estimate, gated
    * within x01's 5% envelope of the exact distinct count (lgConfigK=12
    * is ~1.6% relative error, and at gate-scale vocabularies the HLL
    * sits in exact sparse mode). The hash-stable outputs are the exact
    * twin + shard count; `within_bound` carries the sketch guarantee. */
  val x04_sketch_merge: Q = (s, dir) => {
    // the tokens() discipline (lowercase, explicit whitespace class,
    // empty-token filter): a bare single-space split emits '' tokens
    // that countDistinct counts but the HLL update silently IGNORES
    // (null/empty updates are no-ops) — the exact twin would measure a
    // population the sketch can never represent, structurally biasing
    // the envelope by 1 per affected lang. Staged: feeds both the
    // per-shard sketches and the exact twin (the x03 precedent).
    val tk = Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        explode(split(lower(col("text")), "[ \\t\\n\\x0B\\f\\r]+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .localCheckpoint()
    val perShard = tk.groupBy(col("lang"), col("source"))
      .agg(expr("hll_sketch_agg(tok, 12)").as("sk"))
    val merged = perShard.groupBy(col("lang"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
        count(lit(1)).as("n_shards"))
    val exact = tk.groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("n_tokens_exact"))
    // per-lang audit rows out: seal + release the token-corpus cut
    graft.CacheOps.sealAndRelease(
      exact.join(broadcast(merged), Seq("lang"))
        .select(col("lang"), col("n_tokens_exact"), col("n_shards"),
          (abs(col("est") - col("n_tokens_exact")) <=
            greatest(lit(1L), floor(col("n_tokens_exact") * 0.05).cast("long")))
            .as("within_bound"))
        .orderBy(col("lang")),
      tk)
  }

  val all: Map[String, Q] = Map(
    "x01_approx_distinct" -> x01_approx_distinct,
    "x02_approx_quantiles" -> x02_approx_quantiles,
    "x03_heavy_hitters" -> x03_heavy_hitters,
    "x04_sketch_merge" -> x04_sketch_merge,
  )
}

package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Accuracy bounds for the sketch entries (x01 HLL distinct, x02
  * Greenwald-Khanna quantiles, x03 frequent items). Since r11 the gate
  * entries gate these envelopes THEMSELVES (exact twin + within_bound
  * booleans, hash-checked against a DuckDB oracle emitting TRUE), so
  * these specs (a) keep the raw sketch forms honest against
  * independently-computed exact values — the assertions that predate the
  * gate shape — and (b) pin that the gate entries' booleans actually
  * come out TRUE at spec scale. sf0.01 keeps the run fast while the
  * groups are large enough (~6k-15k rows) that the bounds are
  * meaningful.
  */
class SketchAccuracySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.01"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("sketch-accuracy-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("x01: approx_count_distinct within ±5% of the exact distinct counts") {
    // rsd is set to 0.02 in the entry; HLL++'s error is a standard
    // deviation, so ±5% (2.5 sigma) is a safely-passing yet meaningful
    // envelope on real group sizes (hundreds to thousands of distincts)
    val approx = ScaleQueries.approxDistinctSketch(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = graft.Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (flag, (supp, part)) =>
      val (aSupp, aPart) = approx(flag)
      assert(math.abs(aSupp - supp) <= math.max(1L, (supp * 0.05).toLong),
        s"flag=$flag suppkey: approx $aSupp vs exact $supp")
      assert(math.abs(aPart - part) <= math.max(1L, (part * 0.05).toLong),
        s"flag=$flag partkey: approx $aPart vs exact $part")
    }
  }

  test("x02: percentile_approx within rank-epsilon of the exact quantiles") {
    // percentile_approx(x, q, acc) guarantees a value whose exact RANK is
    // within n/acc of q*n (acc=1000 in the entry). Assert the realized
    // rank error directly — the honest metric for a GK sketch — with a
    // small +0.005 slack for rank-tie plateaus.
    val approx = ScaleQueries.quantileSketch(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val groups = graft.Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_totalprice"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    assert(approx.keySet === groups.keySet)
    def rankOf(sorted: Array[Double], v: Double): Double =
      sorted.count(_ <= v).toDouble / sorted.length
    groups.foreach { case (prio, sorted) =>
      val eps = 1.0 / 1000 + 0.005
      val (p50, p99) = approx(prio)
      assert(math.abs(rankOf(sorted, p50) - 0.50) <= eps,
        s"$prio p50: value $p50 has rank ${rankOf(sorted, p50)} (n=${sorted.length})")
      assert(math.abs(rankOf(sorted, p99) - 0.99) <= eps,
        s"$prio p99: value $p99 has rank ${rankOf(sorted, p99)} (n=${sorted.length})")
    }
  }

  test("x03: approx_top_k within the frequent-items error bound of exact counts") {
    // DataSketches frequent-items with maxItemsTracked=8192 guarantees
    // every item with true count > n/8192 is tracked and each estimate is
    // within n/8192 of the true count. Assert both: (a) each reported
    // estimate is within the bound of the exact count, (b) the exact
    // top-k tokens whose counts clear the bound by a margin all appear.
    val hh = ScaleQueries.heavyHitterSketch(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh.size === 20)
    val toks = graft.Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val n = toks.count()
    val bound = n / 8192 + 1
    val exact = toks.groupBy("tok").count()
      .orderBy(col("count").desc, col("tok"))
      .limit(40).collect().map(r => r.getString(0) -> r.getLong(1))
    val exactMap = exact.toMap
    hh.foreach { case (tok, est) =>
      val truth = exactMap.getOrElse(tok,
        fail(s"sketch reported '$tok' which is not in the exact top-40"))
      assert(math.abs(est - truth) <= bound,
        s"'$tok': estimate $est vs exact $truth (bound $bound, n=$n)")
    }
    // every exact top-20 token whose count clears the NEXT candidate by
    // the error bound must be present (margin rules out legitimate
    // tie-region swaps at the cutoff)
    val cutoff = exact(19)._2
    exact.take(20).filter(_._2 > cutoff + 2 * bound).foreach { case (tok, c) =>
      assert(hh.contains(tok), s"exact heavy hitter '$tok' ($c) missing from sketch top-20")
    }
  }

  test("gate entries: every within_bound boolean comes out TRUE at spec scale") {
    // the r11 gate shape derives these booleans in-query and the DuckDB
    // oracle emits literal TRUE — this pins the same invariant locally
    // so an envelope regression fails here before it fails the gate
    val x1 = ScaleQueries.x01_approx_distinct(spark, dir).collect()
    assert(x1.nonEmpty)
    x1.foreach { r =>
      assert(r.getBoolean(3) && r.getBoolean(4), s"x01 out of envelope: $r")
    }
    val x2 = ScaleQueries.x02_approx_quantiles(spark, dir).collect()
    assert(x2.nonEmpty)
    x2.foreach { r =>
      assert(r.getBoolean(3) && r.getBoolean(4), s"x02 out of envelope: $r")
    }
    val x3 = ScaleQueries.x03_heavy_hitters(spark, dir).collect()
    assert(x3.length === 20)
    x3.foreach { r =>
      assert(r.getBoolean(2), s"x03 out of envelope: $r")
    }
  }
  test("x01 keeps a return flag whose keys are all null, as GROUP BY does") {
    // flag N has only null suppkeys, flag R only null partkeys: the
    // oracle's GROUP BY l_returnflag reports each with a 0 distinct
    // count on that key, so the entry must not drop them
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("x01nullkeys").toString
    Seq[(String, Option[Long], Option[Long])](
      ("A", Some(1L), Some(10L)), ("A", Some(2L), Some(11L)), ("A", Some(2L), Some(10L)),
      ("N", None, Some(20L)), ("N", None, Some(21L)),
      ("R", Some(5L), None), ("R", Some(5L), None))
      .toDF("l_returnflag", "l_suppkey", "l_partkey")
      .write.parquet(s"$tmp/lineitem.parquet")
    val got = ScaleQueries.x01_approx_distinct(spark, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
      .toSeq
    assert(got === Seq(("A", 2L, 2L, true, true), ("N", 0L, 2L, true, true),
      ("R", 1L, 0L, true, true)))
  }

  test("x04: shard-merged HLL equals the whole-corpus sketch; bounds hold") {
    // merge associativity: union of per-shard sketches must estimate the
    // same cardinality as one sketch over the whole stream
    val tk = graft.Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
    val merged = tk.groupBy(col("lang"), col("source"))
      .agg(expr("hll_sketch_agg(tok, 12)").as("sk"))
      .groupBy(col("lang"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_merged"))
    val whole = tk.groupBy(col("lang"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(tok, 12))").as("est_whole"))
    val rows = merged.join(whole, Seq("lang")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"merge must equal whole-corpus sketch for ${r.getString(0)}")
    }
    // and the gate entry's booleans are actually TRUE at spec scale
    val gate = ScaleQueries.x04_sketch_merge(spark, dir).collect()
    assert(gate.nonEmpty && gate.forall(_.getBoolean(3)))
  }
}

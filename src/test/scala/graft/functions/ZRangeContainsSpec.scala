package graft.functions

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unit spec for the codegen'd z-range membership predicate — decode
  * validation, boundary semantics, interpreted≡codegen equivalence, and
  * the in-plan/codegen pin for a selective cover (the PlanShapeSpec p04
  * pin moved here when the pre-filter became selectivity-gated). */
class ZRangeContainsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = new TempDirs

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("zrange-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    tmp.deleteAll()
  }

  private def boundsLit(bounds: Seq[Long]) =
    Literal.create(bounds.toArray, ArrayType(LongType, containsNull = false))

  test("decode rejects odd-length, unsorted, overlapping, empty, and null bounds") {
    def ok(bounds: Seq[Long]): Boolean =
      ZRangeContains.decode(boundsLit(bounds)).isDefined
    assert(ok(Seq(1L, 5L, 10L, 20L)))
    assert(ok(Seq(0L, 0L))) // single degenerate range is valid
    assert(!ok(Seq(1L, 5L, 10L)), "odd length must be rejected")
    assert(!ok(Seq.empty[Long]), "empty bounds must be rejected")
    assert(!ok(Seq(5L, 1L)), "lo > hi must be rejected")
    assert(!ok(Seq(10L, 20L, 1L, 5L)), "unsorted ranges must be rejected")
    assert(!ok(Seq(1L, 10L, 5L, 20L)), "overlapping ranges must be rejected")
    assert(!ok(Seq(1L, 10L, 10L, 20L)), "shared endpoint must be rejected")
    assert(ZRangeContains.decode(Literal.create(null, ArrayType(LongType))).isEmpty,
      "null bounds must be rejected")
    // checkInputDataTypes surfaces the same rejections as analysis failures
    val bad = ZRangeContains(Literal(1L), boundsLit(Seq(10L, 20L, 1L, 5L)))
    assert(bad.checkInputDataTypes().isFailure)
    val good = ZRangeContains(Literal(1L), boundsLit(Seq(1L, 5L, 10L, 20L)))
    assert(good.checkInputDataTypes() ===
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess)
  }

  test("boundary semantics: inclusive at lo and hi, miss just outside and in gaps") {
    val bounds = Array(10L, 20L, 30L, 30L, 100L, 200L)
    assert(ZRangeContains.contains(10L, bounds), "z == lo is a hit")
    assert(ZRangeContains.contains(20L, bounds), "z == hi is a hit")
    assert(ZRangeContains.contains(15L, bounds))
    assert(ZRangeContains.contains(30L, bounds), "degenerate [30,30] hits 30")
    assert(!ZRangeContains.contains(9L, bounds), "lo - 1 is a miss")
    assert(!ZRangeContains.contains(21L, bounds), "hi + 1 is a miss")
    assert(!ZRangeContains.contains(29L, bounds) && !ZRangeContains.contains(31L, bounds))
    assert(!ZRangeContains.contains(99L, bounds) && ZRangeContains.contains(100L, bounds))
    assert(ZRangeContains.contains(200L, bounds) && !ZRangeContains.contains(201L, bounds))
    assert(!ZRangeContains.contains(Long.MinValue, bounds))
    assert(!ZRangeContains.contains(Long.MaxValue, bounds))
  }

  test("zInRanges normalizes ANY range input (overlap/adjacency/unsorted) via unionRanges") {
    val sp = spark; import sp.implicits._
    // overlapping + adjacent + unsorted input — a bare sort would fail
    // checkInputDataTypes' disjointness check at analysis time
    val messy = Seq((30L, 40L), (1L, 10L), (5L, 15L), (16L, 20L))
    val df = Seq(0L, 1L, 12L, 15L, 16L, 20L, 21L, 29L, 30L, 40L, 41L).toDF("z")
    val kept = df.filter(ZRangeContains.zInRanges(col("z"), messy))
      .collect().map(_.getLong(0)).toSet
    // union = [1,20] ∪ [30,40]
    assert(kept === Set(1L, 12L, 15L, 16L, 20L, 30L, 40L))
  }

  test("interpreted eval ≡ codegen'd eval on random bounds and keys") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      // random disjoint sorted ranges
      var cursor = rnd.nextInt(100).toLong
      val ranges = (1 to (1 + rnd.nextInt(40))).map { _ =>
        val lo = cursor + 2 + rnd.nextInt(1000)
        val hi = lo + rnd.nextInt(500)
        cursor = hi
        (lo, hi)
      }
      val flat = ranges.flatMap { case (l, h) => Seq(l, h) }.toArray
      val max = cursor + 100
      val keys = (1 to 2000).map(_ => (rnd.nextDouble() * max).toLong) ++
        ranges.flatMap { case (l, h) => Seq(l, h, l - 1, h + 1) } // every boundary
      // interpreted: the expression's eval path (nullSafeEval → contains)
      val interpreted = keys.map { z =>
        ZRangeContains(Literal(z), boundsLit(flat.toSeq))
          .eval(null).asInstanceOf[Boolean]
      }
      // codegen: a DataFrame filter (whole-stage codegen → doGenCode)
      val gen = keys.zipWithIndex.map { case (z, i) => (i.toLong, z) }
        .toDF("i", "z")
        .filter(ZRangeContains.zInRanges(col("z"), ranges))
        .collect().map(_.getLong(0)).toSet
      keys.zipWithIndex.foreach { case (z, i) =>
        assert(interpreted(i) === gen.contains(i.toLong),
          s"trial $trial: interpreted/codegen disagree at z=$z ranges=$ranges")
      }
    }
  }

  test("selective cover: expression is in the plan, codegens, and prunes dead corners") {
    val sp = spark; import sp.implicits._
    // scattered small boxes — the gated p04 shape where the filter WINS
    val bits = ZOrder.DefaultBits
    val boxes = Seq(
      (52.10, 52.12, 11.10, 11.13),
      (52.50, 52.52, 12.00, 12.04),
      (52.90, 52.92, 12.80, 12.83))
    val zranges = ZOrder.unionRanges(boxes.flatMap { case (la0, la1, lo0, lo1) =>
      ZOrder.bboxRanges(la0, la1, lo0, lo1, bits)
    })
    // the driver-side gate estimate (Σ box areas vs envelope area in
    // quantized cells) says the filter pays here
    val env = ZOrder.envelopeCells(52.10, 52.92, 11.10, 12.83, bits)
    val boxCells = boxes.map { case (a, b, c, d) =>
      ZOrder.envelopeCells(a, b, c, d, bits) }.sum
    assert(boxCells < env / 2, "scattered cover should pass the selectivity gate")
    val rnd = new scala.util.Random(3)
    val pts = (1 to 5000).map(i =>
      (i.toLong, 52.0 + rnd.nextDouble(), 11.0 + rnd.nextDouble() * 2))
    // round-trip through parquet: over a LocalRelation the optimizer
    // pushes the predicate into the relation and evaluates it at
    // planning time (ConvertToLocalRelation) — no executed plan to pin
    val out = tmp("zrange-spec")
    pts.toDF("id", "lat", "lon").write.mode("overwrite").parquet(out)
    val df = sp.read.parquet(out)
      .select(col("id"), col("lat"), col("lon"),
        ZOrder.mortonKey(col("lat"), col("lon"), bits).as("z"))
    val filtered = df.filter(ZRangeContains.zInRanges(col("z"), zranges))
    val plan = filtered.queryExecution.executedPlan
    assert(plan.toString.contains("graft_z_in_ranges"), plan.toString.take(2000))
    assert(plan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).isDefined,
      "z-range filter must stay inside whole-stage codegen")
    val kept = filtered.collect().map(_.getLong(0)).toSet
    // cover is a SUPERSET of the boxes: no point inside any box is dropped
    val inBox = pts.filter { case (_, la, lo) =>
      boxes.exists { case (la0, la1, lo0, lo1) =>
        la >= la0 && la <= la1 && lo >= lo0 && lo <= lo1 }
    }.map(_._1).toSet
    assert(inBox.subsetOf(kept), s"${(inBox -- kept).size} in-box points dropped")
    // and it genuinely prunes: the kept fraction is a small slice of the corpus
    assert(kept.size < pts.size / 10,
      s"selective cover kept ${kept.size} of ${pts.size} — no pruning")
  }
}

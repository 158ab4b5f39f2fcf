package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Predicate}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** `graft_z_in_ranges(zkey, bounds)` — true iff `zkey` falls in any of the
  * disjoint sorted intervals encoded in `bounds` = [lo0, hi0, lo1, hi1, …]
  * (a foldable literal, the flattened output of
  * [[ZOrder.bboxRanges]]).
  *
  * Why a custom Expression instead of the OR-of-BETWEENs
  * [[ZOrder.zRangePredicate]] builds: when the z-key is DERIVED (the
  * morton spread cascade over lat/lon, ~30 ops) rather than a stored
  * column, Catalyst's filter pushdown + projection collapse substitute
  * the cascade into EVERY comparison — ~100 ranges × ~30 ops blows the
  * janino method-size/OOM ceiling (observed in round 6's p04, documented
  * retreat in PbfQueries). Here the key expression is a CHILD evaluated
  * exactly once per row by standard codegen, and the membership test is a
  * binary search over a constant long[] held as a referenced object —
  * O(log R) per row, one copy of the cascade, trivially inside
  * whole-stage codegen no matter how many ranges the cover emits.
  *
  * `zRangePredicate` remains the right tool over a STORED key column
  * (plain BETWEENs push down to parquet footer stats); this expression is
  * the derived-key companion. Both are pruning predicates: the cover is a
  * superset of the bbox, an exact lat/lon post-filter restores exactness,
  * so false positives never change results.
  */
case class ZRangeContains(left: Expression, right: Expression)
    extends BinaryExpression with Predicate {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_z_in_ranges requires a bigint key, got ${left.dataType.catalogString}")
    else if (!right.foldable || !right.dataType.isInstanceOf[ArrayType] ||
        right.dataType.asInstanceOf[ArrayType].elementType != LongType)
      TypeCheckResult.TypeCheckFailure(
        "graft_z_in_ranges requires a foldable array<bigint> of flattened " +
          s"[lo, hi, …] bounds, got ${right.dataType.catalogString}")
    else if (ZRangeContains.decode(right).isEmpty)
      TypeCheckResult.TypeCheckFailure(
        "graft_z_in_ranges bounds must be non-null, even-length, and " +
          "sorted disjoint [lo0, hi0, lo1, hi1, …] with lo <= hi")
    else TypeCheckResult.TypeCheckSuccess

  override def prettyName: String = "graft_z_in_ranges"

  // validated non-empty by checkInputDataTypes before any evaluation
  @transient private lazy val bounds: Array[Long] = ZRangeContains.decode(right).get

  override protected def nullSafeEval(z: Any, b: Any): Any =
    ZRangeContains.contains(z.asInstanceOf[Long], bounds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val b = ctx.addReferenceObj("zrBounds", bounds, "long[]")
    val zc = left.genCode(ctx) // the (possibly huge) key expression, ONCE
    val lo = ctx.freshName("lo")
    val hi = ctx.freshName("hi")
    val mid = ctx.freshName("mid")
    ev.copy(code =
      code"""
         |${zc.code}
         |boolean ${ev.isNull} = ${zc.isNull};
         |boolean ${ev.value} = false;
         |if (!${ev.isNull}) {
         |  int $lo = 0, $hi = $b.length / 2 - 1;
         |  while ($lo <= $hi) {
         |    int $mid = ($lo + $hi) >>> 1;
         |    if (${zc.value} < $b[2 * $mid]) { $hi = $mid - 1; }
         |    else if (${zc.value} > $b[2 * $mid + 1]) { $lo = $mid + 1; }
         |    else { ${ev.value} = true; break; }
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZRangeContains =
    copy(left = newLeft, right = newRight)
}

object ZRangeContains {

  /** Validated bounds from the foldable literal child: Some(flat array)
    * iff non-null, even-length, each lo <= hi, and strictly sorted
    * disjoint (what [[ZOrder.bboxRanges]] emits — binary search depends
    * on it). */
  private[functions] def decode(e: Expression): Option[Array[Long]] = try {
    val a = e.eval(null)
    if (a == null) return None
    val arr = a.asInstanceOf[ArrayData].toLongArray()
    if (arr.length == 0 || arr.length % 2 != 0) return None
    var i = 0
    while (i < arr.length) {
      if (arr(i) > arr(i + 1)) return None
      if (i >= 2 && arr(i) <= arr(i - 1)) return None
      i += 2
    }
    Some(arr)
  } catch { case scala.util.control.NonFatal(_) => None } // fatal errors must surface, not masquerade as a bounds-validation message

  /** Interpreted twin of the generated binary search. */
  private[functions] def contains(z: Long, bounds: Array[Long]): Boolean = {
    var lo = 0
    var hi = bounds.length / 2 - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (z < bounds(2 * mid)) hi = mid - 1
      else if (z > bounds(2 * mid + 1)) lo = mid + 1
      else return true
    }
    false
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_z_in_ranges"),
      new ExpressionInfo(classOf[ZRangeContains].getName, "graft_z_in_ranges"),
      (children: Seq[Expression]) => ZRangeContains(children(0), children(1))))

  /** Per-session registration (sessions created without the extensions
    * config) — unconditional overwrite; see [[Registration]]. */
  def register(spark: SparkSession): Unit =
    Registration.register(spark, functions)

  /** Predicate Column: `zkey` (typically the morton cascade over lat/lon)
    * is inside any of `ranges`. Evaluates the key ONCE per row regardless
    * of range count. Ranges are normalized through
    * [[ZOrder.unionRanges]] (sorted, overlaps/adjacency merged) so the
    * helper is total over ANY range input — a bare sort would let
    * overlapping ranges reach `checkInputDataTypes`' disjointness check
    * and fail at analysis time. */
  /** Constructs the expression DIRECTLY (no FunctionRegistry round-trip) —
    * the ZOrder.mortonKey rule: registering into the caller's session as
    * a Column-building side effect silently overwrote any same-named user
    * function (and wrote to the registry concurrently from Verify's
    * thread pool). SQL callers still get the name via [[register]] /
    * GraftExtensions. */
  def zInRanges(zkey: Column, ranges: Seq[(Long, Long)]): Column = {
    val norm = ZOrder.unionRanges(ranges)
    if (norm.isEmpty) lit(false)
    else org.apache.spark.sql.GraftBridge.column(ZRangeContains(
      org.apache.spark.sql.GraftBridge.expression(zkey),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        norm.flatMap { case (l, h) => Seq(l, h) }.toArray,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false))))
  }
}

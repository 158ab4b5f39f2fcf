package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule (the `injectOptimizerRule` tier of the extension stack,
  * next to the `injectFunction` expressions and the `injectPlannerStrategy`
  * operator): rewrites the canonical window-top-k pattern
  *
  *   Filter(row_number_attr <= k [AND rest...],
  *     Window(Seq(row_number() OVER (PARTITION BY p ORDER BY o)), p, o, child))
  *
  * into the bounded-heap [[TopKPerKeyNode]] under the SAME Window:
  *
  *   [Filter(rest...)] Window(..., TopKPerKeyNode(k, p, o, child))
  *
  * The re-applied Window reproduces the rank attribute (same exprId, so
  * nothing upstream re-resolves) over the ≤k-per-key pruned stream — its
  * required distribution and ordering are exactly what TopKPerKeyFinalExec
  * already provides, so it plans with no additional exchange or sort. The
  * rank-bound conjuncts themselves are dropped: after pruning, every
  * surviving row ranks ≤ k by construction.
  *
  * Relationship to Spark's own `InferWindowGroupLimit` (SPARK-37099):
  * same pattern, different physical answer — Spark inserts the SORT-based
  * `WindowGroupLimit`, this rule swaps in the heap-based operator, which
  * measured ~1.5-2× faster (COVERAGE.md round 9) when keys-per-partition
  * ≪ rows-per-partition (the partial heap prunes without sorting the
  * partition) and SLOWER at 100k+ keys. That regime-dependence is why the
  * rule is conf-gated (`spark.graft.topkRewrite.enabled`, default true
  * under [[graft.GraftExtensions]]; sessions without the extension are
  * untouched) rather than unconditional: pick it for key-skew-free,
  * low-cardinality-key corpora — top docs per domain, top rows per flag.
  * Our rule runs inside the operator-optimization fixed point, before the
  * dedicated InferWindowGroupLimit batch; once it fires, the rank-bound
  * filter is gone and Spark's rule no longer matches.
  *
  * Skips (left for the window path): rank()/dense_rank() (their tie
  * semantics admit >k rows — the heap keeps exactly k), multi-expression
  * windows, empty/nondeterministic partition or order specs, float/double
  * partition keys (raw-byte heap grouping would split -0.0/0.0 and NaN
  * variants — same guard as [[TopKPerKey.perKey]]), non-positive or
  * absent integer bounds.
  */
object TopKWindowRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val EnabledKey = "spark.graft.topkRewrite.enabled"
  /** Rewrite only fires for k ≤ this (rows/key); larger bounds stay on
    * the window path where the codegen'd sort wins. */
  val MaxKKey = "spark.graft.topkRewrite.maxK"

  private def rowNumberAlias(w: Window): Option[Alias] =
    w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(), _), _)) => Some(a)
      case _ => None
    }

  /** (k, residual conjuncts): k = the tightest `rank <= c` / `rank < c`
    * bound in the condition, residual = every other conjunct. */
  private def extractBound(cond: Expression, rank: Attribute): (Option[Long], Seq[Expression]) = {
    val (bounds, rest) = splitConjunctivePredicates(cond).partition {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(_)) => a.semanticEquals(rank)
      case LessThan(a: Attribute, IntegerLiteral(_)) => a.semanticEquals(rank)
      case GreaterThanOrEqual(IntegerLiteral(_), a: Attribute) => a.semanticEquals(rank)
      case GreaterThan(IntegerLiteral(_), a: Attribute) => a.semanticEquals(rank)
      case EqualTo(a: Attribute, IntegerLiteral(1)) => a.semanticEquals(rank)
      case EqualTo(IntegerLiteral(1), a: Attribute) => a.semanticEquals(rank)
      case _ => false
    }
    // bounds computed in Long: `rank < Int.MinValue` must stay an
    // always-false bound (min = non-positive → no rewrite), not
    // underflow to Int.MaxValue and silently drop the conjunct
    val ks: Seq[Long] = bounds.map {
      case LessThanOrEqual(_, IntegerLiteral(v)) => v.toLong
      case LessThan(_, IntegerLiteral(v)) => v.toLong - 1L
      case GreaterThanOrEqual(IntegerLiteral(v), _) => v.toLong
      case GreaterThan(IntegerLiteral(v), _) => v.toLong - 1L
      case EqualTo(_, IntegerLiteral(v)) => v.toLong // rk = 1 (argmax per key)
      case EqualTo(IntegerLiteral(v), _) => v.toLong // 1 = rk (flipped literal)
    }
    (if (ks.isEmpty) None else Some(ks.min), rest)
  }

  /** Floats ANYWHERE in the type (incl. nested struct/array/map fields):
    * NormalizeFloatingNumbers runs after this rule and doesn't know
    * TopKPerKeyNode, so a nested -0.0/0.0 or NaN-variant split could not
    * be repaired downstream — refuse the rewrite instead. Shared with
    * the public perKey guard. */
  private[plans] def containsFloat(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case DoubleType | FloatType => true
      case st: StructType => st.fields.exists(f => containsFloat(f.dataType))
      case at: ArrayType => containsFloat(at.elementType)
      case mt: MapType => containsFloat(mt.keyType) || containsFloat(mt.valueType)
      case _ => false
    }
  }

  private def floatKeyed(partitionSpec: Seq[Expression]): Boolean =
    partitionSpec.exists(e => containsFloat(e.dataType))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "true").toBoolean) return plan
    plan.transformUp {
      case f @ Filter(cond, w: Window)
          if rowNumberAlias(w).isDefined &&
            w.partitionSpec.nonEmpty && w.partitionSpec.forall(_.deterministic) &&
            w.orderSpec.nonEmpty && w.orderSpec.forall(_.deterministic) &&
            !floatKeyed(w.partitionSpec) =>
        val rank = rowNumberAlias(w).get.toAttribute
        // magnitude gate (the InferWindowGroupLimit discipline): past a
        // few thousand rows/key the per-row O(log k) heap loses to the
        // codegen'd sort (measured 3× in the class doc) and the partial
        // stage's keys×k memory bound stops being small — leave big-k
        // windows on the window path
        val maxK = conf.getConfString(MaxKKey, "10000").toLong
        extractBound(cond, rank) match {
          case (Some(k), rest) if k > 0 && k <= maxK =>
            val pruned = TopKPerKeyNode(k.toInt, w.partitionSpec, w.orderSpec, w.child)
            val rewindowed = w.withNewChildren(Seq(pruned))
            rest match {
              case Nil => rewindowed
              case some => Filter(some.reduce(And), rewindowed)
            }
          case _ => f
        }
    }
  }
}

package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Whole-operator extension demo: per-key top-k with BOUNDED HEAPS — the
  * full custom-operator stack (logical node → planner `Strategy` →
  * physical `SparkPlan`), the (c) tier of the extension preference order
  * (compose built-ins < custom Expression < custom operator).
  *
  * Why a custom operator is justified HERE: the built-in formulation
  * (`row_number().over(Window.partitionBy(k).orderBy(o)) <= k`) must
  * fully SORT every key group before it can rank — at 100 TB that is a
  * total shuffle of the corpus followed by a per-key sort of everything,
  * even though only k rows per key survive. This operator keeps a
  * k-bounded heap per key:
  *
  *  - a PARTIAL stage before the exchange prunes each input partition to
  *    ≤ k rows per key (map-side, like partial aggregation), so the
  *    shuffle moves at most `k × keys-per-partition` rows, not the corpus;
  *  - the FINAL stage (after `EnsureRequirements` inserts the clustered
  *    exchange it demands) merges the partials with the same bounded heap;
  *  - no sort ever sees more than the k kept rows per key.
  *
  * Registered through `spark.experimental.extraStrategies` (the public
  * runtime hook) by [[TopKPerKey.perKey]]; no session-construction-time
  * extension wiring needed.
  *
  * Measured crossover (30M rows, local[32], k=5, sort-based final — see
  * COVERAGE.md): at 1k keys the bounded heap wins ~1.5-2×
  * (0.7-1.0s vs 1.3-1.5s — the partial stage drops >99% of shuffle
  * volume); at 100k+ keys the window formulation wins ~3× (pruning is
  * weak at ~9 rows/key/partition and its codegen'd radix sort out-runs
  * per-row heap maintenance). Pick this operator when keys-per-partition
  * ≪ rows-per-partition — e.g. top documents per DOMAIN over a web
  * corpus — and the window when key cardinality approaches row count.
  *
  * Memory model — bounded at EVERY stage, any key cardinality:
  *  - the partial stage's heap map FLUSHES itself (emit current heaps,
  *    reset) when it exceeds `FlushKeyThreshold` distinct keys. Emitting
  *    several ≤k-row partials for the same key is harmless — the final
  *    stage re-prunes their union, exactly like re-aggregation of partial
  *    aggregates;
  *  - the final stage demands child ordering (keys, then order), so
  *    EnsureRequirements plans Spark's EXTERNAL sort (spills to disk,
  *    codegen'd radix) over the already-pruned ≤k-rows-per-key-per-
  *    partition stream, and the stage itself is a constant-memory
  *    streaming group scan emitting the first k rows of each key run.
  * The sort only ever sees pruned data, so the no-corpus-sort property
  * that justifies the operator is preserved. Keys must be orderable
  * (sort-based final); float keys are rejected below anyway.
  */
final case class TopKPerKeyNode(k: Int, keys: Seq[Expression],
                                order: Seq[SortOrder], child: LogicalPlan,
                                flushKeyThreshold: Int = TopKPerKeyPartialExec.FlushKeyThreshold)
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(k, keys, order, child, flushAt) =>
      // final-over-partial, like partial aggregation: EnsureRequirements
      // inserts the key-clustered exchange (and the final stage's external
      // sort) between the two stages
      TopKPerKeyFinalExec(k, keys, order,
        TopKPerKeyPartialExec(k, keys, order, flushAt, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Map-side prune: ≤ k rows per key per partition via bounded heaps.
  * Memory is bounded by [[TopKPerKeyPartialExec.FlushKeyThreshold]]
  * distinct keys × k rows: past that the stage emits its current heaps
  * and resets — several partials per key are fine, the final stage
  * re-prunes their union. */
final case class TopKPerKeyPartialExec(k: Int, keys: Seq[Expression],
                                       order: Seq[SortOrder], flushKeyThreshold: Int,
                                       child: SparkPlan)
  extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: Nil

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyPartialExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val flushAt = flushKeyThreshold
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, schema)
      val rowProj = UnsafeProjection.create(schema, schema)
      val ordering = RowOrdering.create(sortOrder, schema)
      // heap head = WORST kept row (reverse ordering) so eviction is O(log k)
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      val cmp: java.util.Comparator[UnsafeRow] =
        (a: UnsafeRow, b: UnsafeRow) => ordering.compare(b, a)
      def drain(): Iterator[UnsafeRow] = {
        val out = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
        heaps.values.forEach { pq =>
          val rows = new Array[UnsafeRow](pq.size)
          var i = rows.length - 1
          while (i >= 0) { rows(i) = pq.poll(); i -= 1 } // worst-first → best-first
          out ++= rows
        }
        heaps.clear()
        out.iterator
      }
      val flushed = it.flatMap { row =>
        val key = keyProj(row)
        var pq = heaps.get(key)
        if (pq == null) {
          // initial capacity CAPPED: the queue grows dynamically, so a
          // large k must not pre-allocate O(k) per distinct key (and
          // limit+1 at Int.MaxValue would overflow negative and throw)
          pq = new java.util.PriorityQueue[UnsafeRow](
            math.min(limit.toLong + 1L, 16L).toInt, cmp)
          heaps.put(key.copy(), pq)
        }
        if (pq.size < limit) pq.add(rowProj(row).copy())
        else if (ordering.compare(row, pq.peek()) < 0) {
          pq.poll()
          pq.add(rowProj(row).copy())
        }
        if (heaps.size > flushAt) drain() else Iterator.empty
      }
      (flushed ++ drain()).map(_.asInstanceOf[InternalRow])
    }
  }
}

object TopKPerKeyPartialExec {
  /** Max distinct keys held by one partial-stage partition before it
    * flushes. Sized for MANY CONCURRENT tasks: 2^17 keys × k=5 rows ×
    * ~64 B ≈ 40 MB per task, ~1.3 GB across 32 task slots (2^20 measured
    * as an 8 GB-heap OOM at 1M keys × 32 slots). A flush only costs extra
    * shuffle rows when a key recurs across flush epochs — and in the
    * high-cardinality regime where that happens, pruning is weak anyway
    * and the window formulation is the right pick (see class doc). */
  val FlushKeyThreshold: Int = 1 << 17
}

/** Reduce side: demands (keys, order) child ordering, so the planner
  * inserts Spark's external spilling sort over the pruned partials; the
  * stage itself is a constant-memory streaming scan emitting the first k
  * rows of each key run (sorted within key by `order` — best first). */
final case class TopKPerKeyFinalExec(k: Int, keys: Seq[Expression],
                                     order: Seq[SortOrder], child: SparkPlan)
  extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (keys.map(SortOrder(_, Ascending)) ++ order) :: Nil
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyFinalExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val keyExprs = keys
    val limit = k
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, schema)
      var currentKey: UnsafeRow = null
      var emitted = 0
      it.filter { row =>
        val key = keyProj(row)
        if (currentKey == null || !currentKey.equals(key)) {
          currentKey = key.copy()
          emitted = 0
        }
        // saturate instead of incrementing unconditionally: a >2^31-row
        // key run (tiny flushKeyThreshold at extreme scale) would wrap
        // the counter negative and re-admit ~2.1B rows past k
        if (emitted <= limit) { emitted += 1; emitted <= limit }
        else false
      }
    }
  }
}

object TopKPerKey {

  /** Public API: top `k` rows per `keyCols` group, ranked by `orderBy`
    * (column name → ascending?). Appends nothing — output schema is the
    * input schema, at most k rows per key, best-first within a key's
    * run. Tie-safe only if `orderBy` is a total order (add a unique
    * id as the last sort column, exactly as a window formulation would).
    */
  private val registrationLock = new Object

  def perKey(df: DataFrame, keyCols: Seq[String],
             orderBy: Seq[(String, Boolean)], k: Int,
             flushKeyThreshold: Int = TopKPerKeyPartialExec.FlushKeyThreshold): DataFrame = {
    // fail driver-side with a clear message: k=0 would NPE on peek() and
    // k<0 would throw from the queue constructor deep in executor tasks
    require(k >= 1, s"top-k per key needs k >= 1, got $k")
    val spark = df.sparkSession
    // extraStrategies is a plain var: check-then-append must not race with
    // a concurrent first call (lost update → 'no plan for TopKPerKeyNode')
    registrationLock.synchronized {
      if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    }
    val analyzed = df.queryExecution.analyzed
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def attr(n: String): Attribute =
      analyzed.output.filter(a =>
        if (caseSensitive) a.name == n else a.name.equalsIgnoreCase(n)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"no column '$n' in ${analyzed.output.map(_.name)}")
        case many => throw new IllegalArgumentException(
          s"ambiguous column '$n': matches ${many.map(_.name)}")
      }
    val keys = keyCols.map(attr)
    keys.find(a => TopKWindowRewrite.containsFloat(a.dataType))
      .foreach(a => throw new IllegalArgumentException(
        s"float-carrying grouping key '${a.name}': raw-byte key comparison " +
          "would split -0.0/0.0 and NaN variants into separate groups (the " +
          "window formulation normalizes them, incl. inside structs/arrays); " +
          "cast or normalize the key first"))
    val order = orderBy.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending) }
    org.apache.spark.sql.GraftBridge.ofRows(spark,
      TopKPerKeyNode(k, keys, order, analyzed, flushKeyThreshold))
  }
}

package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Minimal bridge into `private[sql]` / `private[spark]` members — the
  * standard pattern third-party operator libraries use to turn a custom
  * `LogicalPlan` or an RDD of internal rows into a user-facing DataFrame
  * (there is no public equivalent). [[graft.plans.TopKPerKey]] builds its
  * plan through [[ofRows]]; [[graft.sources.pbf.IndexedPbf.readWaysAndDeps]]
  * returns its two passes' rows through [[internalCreateDataFrame]].
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over rows already in `schema`'s internal format, without
    * the public `createDataFrame`'s per-row conversion. */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Adds `n` to the running task's input bytes, as Spark's own file and
    * DSv2 scans report what they read. */
  def addBytesRead(ctx: TaskContext, n: Long): Unit =
    ctx.taskMetrics().inputMetrics.incBytesRead(n)

  /** Column ⇄ Expression for custom expressions built OUTSIDE the
    * FunctionRegistry (the `private[sql]` ExpressionUtils pair). Lets
    * [[graft.functions.ZOrder.mortonKey]] construct its native expression
    * directly instead of mutating the caller's session registry as a
    * Column-building side effect. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}

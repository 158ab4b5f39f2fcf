package graft.operators

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located join — the pre-shuffle technique for recurring
  * big×big joins at scale: both tables bucketed by the join key at write
  * time join without any Exchange (each bucket pair joins locally).
  * At 100 TB this converts the dominant repeated shuffle into a one-time
  * layout cost.
  */
class BucketingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = new TempDirs

  private val warehouse = tmp("wh")

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("bucketing-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    tmp.deleteAll()
  }

  test("join of co-bucketed tables has no Exchange") {
    val dir = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    spark.read.parquet(s"$dir/orders.parquet")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")

    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")

    // and it is still correct
    val expected = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() === expected)
  }

  test("q37's join+per-order-agg fragment runs with zero Exchange") {
    val dir = "/root/testdata/sf0.001"
    val frag = RelationalQueries.bucketedPerOrder(spark, dir)
    frag.collect() // materialize THIS QueryExecution so AQE finalizes it
    // the adaptive plan's toString appends an "== Initial Plan ==" copy —
    // read only the final plan section
    val plan = frag.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join+agg fragment must not shuffle:\n$plan")
    // The two Sort nodes under the SMJ are WITHIN-PARTITION sorts of
    // already-bucket-sorted files — no shuffle, linear merge work. Spark
    // 3+ deliberately never reports bucket sort order from the scan
    // (spark.sql.legacy.bucketedTableScan.outputOrdering), so they can't
    // be elided without a legacy conf; the scale win is the Exchange
    // elision pinned above.
    val sortNodes = plan.linesIterator.filter(
      _.replaceAll("^[\\s:+*()\\d-]*", "").startsWith("Sort [")).toSeq
    assert(sortNodes.size === 2, s"expected the 2 local SMJ sorts: $sortNodes")

    // and the layout never changes the answer: q37 vs the plain-parquet join
    val viaBuckets = RelationalQueries.all("q37_bucketed_colocated")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val plain = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(s"$dir/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("qty"))
      .groupBy(col("n_items"))
      .agg(count(lit(1)).as("n_orders"), sum(col("qty")).as("sum_qty"))
      .orderBy(col("n_items"))
      .collect().map(_.toSeq).toSeq
    assert(viaBuckets === plain)
  }

  // AQE-transparent child traversal shared by the plan-shape pins below
  private def planChildren(n: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = n match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      Seq(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }

  private def collectNodes(n: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] =
    n +: planChildren(n).flatMap(collectNodes)

  test("q38b merge apply: changeset shuffles, the bucketed target side never does") {
    val dir = "/root/testdata/sf0.001"
    val q38b = RelationalQueries.all("q38b_merge_bucketed")(spark, dir)
    q38b.collect() // finalize AQE
    val plan = q38b.queryExecution.executedPlan
    val planStr = plan.toString.split("== Initial Plan ==").head
    def isTargetScan(n: org.apache.spark.sql.execution.SparkPlan): Boolean = n match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.bucketedScan && f.tableIdentifier.exists(_.table.startsWith("graft_bkt_orders"))
      case _ => false
    }
    // locate the merge join and split its subtrees into target side
    // (contains the bucketed scan) and changeset side
    val smj = collectNodes(plan).collectFirst {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.joinType.toString == "FullOuter" => j
    }.getOrElse(fail(s"expected full-outer SMJ:\n$planStr"))
    val sides = Seq(smj.left, smj.right).map(collectNodes)
    val (targetSide, chgSide) = sides.partition(_.exists(isTargetScan)) match {
      case (Seq(t), Seq(c)) => (t, c)
      case other => fail(s"expected the bucketed scan on exactly one join side: $other")
    }
    def shuffles(ns: Seq[org.apache.spark.sql.execution.SparkPlan]) =
      ns.count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    assert(shuffles(targetSide) === 0,
      s"no Exchange may sit between the merge join and the bucketed target scan:\n$planStr")
    assert(shuffles(chgSide) >= 1,
      s"the changeset side is the one that shuffles to the bucket layout:\n$planStr")
    // and the layout never changes the answer: q38b ≡ q38 row-for-row
    val viaBuckets = q38b.collect().map(_.toSeq).toSeq
    val plain = RelationalQueries.all("q38_merge_upsert")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(viaBuckets === plain)
  }

  test("q39b IVM refresh: only post-partial-agg group rows ever shuffle") {
    val dir = "/root/testdata/sf0.001"
    val q39b = RelationalQueries.all("q39b_incremental_bucketed")(spark, dir)
    q39b.collect()
    val plan = q39b.queryExecution.executedPlan
    // every shuffle in the refresh must carry aggregated group rows
    // (HashAggregate below it), never raw fact rows
    def belowIsAgg(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      planChildren(n).headOption.exists {
        case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
        case c => belowIsAgg(c) // see through unary pass-throughs
      }
    val shuffles = collectNodes(plan)
      .filter(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      .map(belowIsAgg)
    assert(shuffles.nonEmpty, "expected the status-keyed agg exchanges")
    assert(shuffles.forall(identity),
      s"every exchange must sit above a partial aggregate:\n${plan.toString}")
    val viaBuckets = q39b.collect().map(_.toSeq).toSeq
    val plain = RelationalQueries.all("q39_incremental_agg")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(viaBuckets === plain)
  }
}

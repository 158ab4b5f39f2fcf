package graft
import org.apache.spark.sql.SparkSession

/** Plan-audit main: prints the load-bearing physical-plan lines
  * (pushdown, joins, exchanges, codegen) for the queries whose SCALE
  * behavior the engine stakes claims on. Args override the default list.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorFunctions.register(spark)
    val dir = "/root/testdata/sf0.01"
    val defaults = Seq(
      // r1 relational fundamentals
      "q02_filter_pushdown", "q03_join_broadcast", "q04_join_shuffle",
      "q05_semi_join", "q13_topk", "q27_salted_join",
      // r2 scale-claim carriers
      "q28_quality_checks", "q29_topk_custom_operator",
      "d02_minhash_lsh", "d06_simhash_pairs", "c08_pmi_bigrams",
      "c09_domain_resample", "a05_cohort_retention", "s03_knn_ivf",
      // r3 additions
      "q32_setops_all", "q33_lateral_join", "t10_keywords",
      "d09_simhash64_pairs", "c11_shuffle_shard", "a06_funnel_windowed",
      // r6 additions
      "q36_bloom_pruned_join", "p04_spatial_join", "d10_semdedup",
      "d11_shared_passages")
    val names = if (args.nonEmpty) args.toSeq else defaults
    for (name <- names) {
      println(s"===== $name =====")
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      println(plan.split("\n").filter(l =>
        l.contains("PushedFilters") || l.contains("ReadSchema") ||
        l.contains("Join") || l.contains("TakeOrdered") || l.contains("Exchange") ||
        l.contains("TopKPerKey") || l.contains("WholeStageCodegen")).take(16).mkString("\n"))
    }
    spark.stop()
  }
}

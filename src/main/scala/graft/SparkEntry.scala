package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's full operator surface: one entry per
  * implemented operator from SURVEY.md §2 (plus §2.9 parity categories and
  * the training-data-pipeline extensions). `oracleSql` holds the DuckDB
  * twin for every SQL-expressible query; entries absent there get the
  * driver's weaker rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A broadcast join + aggregation — the engine's bread and butter.
    */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q03_join_broadcast(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++
      TextQueries.all ++ Multimodal.all ++ ScaleQueries.all ++ PbfQueries.all ++
      CurationQueries.all ++ EventJoins.all ++ GraphQueries.all ++
      graft.streaming.StreamReplay.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalOracles.all ++ TrainingOracles.all ++ CurationQueries.oracles ++
      EventJoins.oracles ++ graft.streaming.StreamReplay.oracles ++
      PbfQueries.oracles ++ Multimodal.oracles
}

package graft.operators

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Hand-pins for q39 incremental view maintenance: delete precedence over
  * update, insert duplication of its source row, exact integer-cents
  * deltas, and the active-group rule (a stratum maintained to zero rows
  * disappears, matching what a recompute can see). The DuckDB gate checks
  * maintain ≡ recompute at sf scale with the other algorithm.
  */
class IncrementalAggSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = new TempDirs

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("ivm-spec")
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

  test("deltas apply per action; fully-deleted groups drop out") {
    val sp = spark; import sp.implicits._
    val dir = tmp("ivm")
    // key 1: plain keep (A, 10.00) — key 7: update to 105.00 (A)
    // key 11: kept AND re-inserted (B, 50.00 twice)
    // key 13: delete — its whole group X must vanish
    // key 91 = 7*13: delete precedence beats the update (A loses it)
    Seq(
      (1L, "A", 10.0), (7L, "A", 100.0), (91L, "A", 33.0),
      (11L, "B", 50.0), (13L, "X", 77.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = RelationalQueries.all("q39_incremental_agg")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq(("A", 2L, 11500L), ("B", 2L, 10000L)))
  }
}

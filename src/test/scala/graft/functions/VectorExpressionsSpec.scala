package graft.functions

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class VectorExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = new TempDirs

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("vector-expr-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    tmp.deleteAll()
  }

  test("graft_dot matches the HOF composition bit-for-bit") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    val data = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1), Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = data.toDF("id", "a", "b")
    val rows = df.select(
      call_function("graft_dot", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x).as("hof"))
      .collect()
    rows.foreach { r =>
      // bit-identical: same left-to-right accumulation order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("null semantics: null input, null element, length mismatch") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, Array(1.0, 2.0), Array(3.0, 4.0)), // 11.0
      (2L, null, Array(1.0, 2.0)),
      (3L, Array(1.0), Array(1.0, 2.0))
    ).toDF("id", "a", "b")
    val out = df.select(col("id"), call_function("graft_dot", col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out(1L) === 11.0)
    assert(out(2L) === null)
    assert(out(3L) === null)
    // null element poisons like acc + null
    val withNullElem = spark.sql(
      "SELECT graft_dot(array(1.0d, cast(null as double)), array(1.0d, 2.0d)) d")
    assert(withNullElem.collect().head.isNullAt(0))
  }

  test("extension injects the TopKPerKey planner strategy (no self-registration needed)") {
    val sp = spark; import sp.implicits._
    // build the logical node DIRECTLY (not via perKey, which would
    // self-register the strategy) — planning succeeds only if the
    // extension injected TopKPerKeyStrategy into this session
    assert(!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKeyStrategy))
    val df = (1 to 100).map(i => (i % 5, i)).toDF("k", "v")
    val analyzed = df.queryExecution.analyzed
    val keys = analyzed.output.filter(_.name == "k")
    val ord = analyzed.output.filter(_.name == "v").map(a =>
      org.apache.spark.sql.catalyst.expressions.SortOrder(a,
        org.apache.spark.sql.catalyst.expressions.Descending))
    val out = org.apache.spark.sql.GraftBridge.ofRows(spark,
      graft.plans.TopKPerKeyNode(2, keys, ord, analyzed))
    assert(out.count() === 10) // 5 keys × top 2
  }

  test("available in plain SQL via extensions and stays in codegen") {
    val d = spark.sql("SELECT graft_dot(array(1.0d,2.0d,3.0d), array(4.0d,5.0d,6.0d)) AS d")
    assert(d.collect().head.getDouble(0) === 32.0)
    val sp = spark; import sp.implicits._
    // parquet-backed so ConvertToLocalRelation can't fold the projection
    val dir = tmp("vec")
    (1 to 100).map(i => (i, Array.fill(8)(i.toDouble), Array.fill(8)(2.0)))
      .toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val big = spark.read.parquet(dir)
    val proj = big.select(call_function("graft_dot", col("a"), col("b")).as("d"))
    // the "*(n)" prefix marks operators inside a WholeStageCodegen span
    assert(proj.queryExecution.executedPlan.toString.contains("*(1) Project [graft_dot"))
    assert(proj.agg(sum("d")).collect().head.getDouble(0) === 2.0 * 8 * (1 to 100).sum)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]]' inferred-schema cache: a path rewritten in-process must be
  * re-inferred, whatever its root directory's mtime says. */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = new TempDirs

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("tables-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    tmp.deleteAll()
  }

  test("a rewritten table re-infers its schema even with the root mtime set back") {
    val dir = tmp("tablesspec")
    val path = s"$dir/region.parquet"
    spark.range(3).selectExpr("id AS r_regionkey").coalesce(1).write.parquet(path)
    assert(Tables.region(spark, dir).columns.toSeq === Seq("r_regionkey"))
    val root = new java.io.File(path)
    val mtime = root.lastModified
    // same file count, a different schema; then the root's mtime forced
    // back, so (mtime, length) of the root alone cannot see the rewrite
    spark.range(3).selectExpr("id AS r_regionkey", "CAST(id AS STRING) AS r_name")
      .coalesce(1).write.mode("overwrite").parquet(path)
    assert(root.setLastModified(mtime))
    val again = Tables.region(spark, dir)
    assert(again.columns.toSeq === Seq("r_regionkey", "r_name"))
    assert(again.orderBy("r_regionkey").collect().map(_.getString(1)).toSeq === Seq("0", "1", "2"))
  }
}

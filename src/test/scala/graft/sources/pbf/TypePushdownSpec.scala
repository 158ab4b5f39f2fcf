package graft.sources.pbf

import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The `osmpbf` scan takes `type = v` / `type IN (…)` and does not hand
  * it back, so Spark never re-evaluates it: the decoder's group skip alone
  * must give exactly the brute-force rows. Fixture-free, on a
  * [[PbfWriter.synthesize]] corpus that mixes all three element types.
  */
class TypePushdownSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: java.nio.file.Path = _
  private var path: String = _
  private var all: Seq[Row] = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("type-pushdown-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dir = java.nio.file.Files.createTempDirectory("typepushdown")
    path = dir.resolve("mixed.osm.pbf").toString
    PbfWriter.synthesize(path, blocks = 6, nodesPerBlock = 500, waysPerBlock = 40, relationsPerBlock = 7)
    all = scan.collect().toSeq
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    if (dir != null) org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def scan: DataFrame = spark.read.format("osmpbf").load(path)

  private def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(r => (r.getAs[String]("type"), r.getAs[Long]("id")))

  private def bruteForce(types: Set[String]): Seq[Row] =
    sorted(all.filter(r => types.contains(r.getAs[String]("type"))))

  /** Filters left on `type` after optimization, logical and physical. */
  private def typeFilters(df: DataFrame): Seq[String] = {
    def onType(refs: Seq[String]) = refs.contains("type")
    df.queryExecution.optimizedPlan.collect {
      case f: Filter if onType(f.condition.references.map(_.name).toSeq) => f.toString
    } ++ df.queryExecution.executedPlan.collect {
      case f: FilterExec if onType(f.condition.references.map(_.name).toSeq) => f.toString
    }
  }

  test("the corpus mixes all three types") {
    assert(all.groupBy(_.getAs[String]("type")).map { case (t, rs) => t -> rs.size } ===
      Map("node" -> 3000, "way" -> 240, "relation" -> 42))
  }

  test("type = 'way' returns exactly the brute-force rows, with no filter on type after the scan") {
    val df = scan.filter(col("type") === "way")
    assert(sorted(df.collect().toSeq) === bruteForce(Set("way")))
    assert(typeFilters(df).isEmpty, typeFilters(df))
    // the probe does see a type filter the scan declines
    assert(typeFilters(scan.filter(col("type").startsWith("w"))).nonEmpty)
  }

  test("type IN ('node', 'relation') returns exactly the brute-force rows, with no filter on type after the scan") {
    val df = scan.filter(col("type").isin("node", "relation"))
    assert(sorted(df.collect().toSeq) === bruteForce(Set("node", "relation")))
    assert(typeFilters(df).isEmpty, typeFilters(df))
  }

  test("type = 'Node' is case-sensitive and returns no rows") {
    val df = scan.filter(col("type") === "Node")
    assert(df.count() === 0L)
    assert(typeFilters(df).isEmpty, typeFilters(df))
  }
}

package graft.sources.pbf

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** V1-V5 validation suite (the reference's validate.py re-expressed) over
  * the decoded fixture: self-comparison passes, perturbations are caught.
  */
class OsmValidateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("osm-validate-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private lazy val df = OsmPbf.read(spark, PbfFixtures.path("test.osm.pbf")).cache()

  test("self-comparison reports zero violations on every check") {
    val rep = OsmValidate.report(df, df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep.size === 4)
    assert(rep.values.forall(_ === 0L))
  }

  test("V1 catches duplicated (id,type)") {
    assert(OsmValidate.duplicates(df.union(df)).count() === 5)
  }

  test("V3 catches missing and extra rows") {
    val actual = df.filter(col("type") =!= "relation")
    val m = OsmValidate.missing(df, actual).collect()
    assert(m.length === 1)
    assert(m.head.getAs[String]("side") === "missing")
  }

  test("V4 catches scalar drift beyond tolerance") {
    val drifted = df.withColumn("lat",
      when(col("type") === "node", col("lat") + 0.001).otherwise(col("lat")))
    assert(OsmValidate.scalarMismatches(df, drifted).count() === 3)
    val tiny = df.withColumn("lat",
      when(col("type") === "node", col("lat") + 1e-12).otherwise(col("lat")))
    assert(OsmValidate.scalarMismatches(df, tiny).count() === 0)
  }

  test("V5 catches tag and member edits") {
    val retagged = df.withColumn("tags",
      when(col("type") === "way", map(lit("building"), lit("no"))).otherwise(col("tags")))
    assert(OsmValidate.deepMismatches(df, retagged).count() === 1)
  }
}

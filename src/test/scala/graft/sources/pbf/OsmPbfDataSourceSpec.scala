package graft.sources.pbf

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** DataSourceV2 connector spec: `format("osmpbf")` with column pruning and
  * type-predicate pushdown, checked against the same golden fixture values
  * as the low-level decode specs.
  */
class OsmPbfDataSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val fixture = PbfFixtures.path("test.osm.pbf")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("osmpbf-dsv2-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft-dsv2-spec")

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("format(osmpbf) reads the unified schema") {
    val df = spark.read.format("osmpbf").load(fixture)
    assert(df.schema === OsmSchema.schema)
    assert(df.count() === 5)
  }

  test("column pruning reaches the scan (ReadSchema shrinks)") {
    val df = spark.read.format("osmpbf").load(fixture).select("id", "lat", "lon")
    val plan = df.queryExecution.executedPlan.toString
    // v2 scan should only carry the 3 required columns
    assert(df.columns.toSeq === Seq("id", "lat", "lon"))
    assert(!plan.contains("tags"))
    val rows = df.filter(col("lat").isNotNull).collect()
    assert(rows.length === 3)
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(105L, 106L, 108L))
  }

  test("type = 'way' predicate pushes down and prunes other groups") {
    val df = spark.read.format("osmpbf").load(fixture).filter(col("type") === "way")
    val rows = df.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("id") === 107L)
    // pruned values stay correct under combined prune+filter
    val tags = spark.read.format("osmpbf").load(fixture)
      .filter(col("type") === "way").select("tags").collect().head
      .getAs[Map[String, String]](0)
    assert(tags === Map("building" -> "yes", "name" -> "triangle"))
  }

  test("pruned read of members still correct") {
    val m = spark.read.format("osmpbf").load(fixture)
      .filter(col("type") === "relation")
      .select(explode(col("members")).as("m"))
      .select("m.type", "m.ref", "m.role").collect()
    assert(m.length === 1)
    assert(m.head.getString(0) === "way" && m.head.getLong(1) === 107L &&
      m.head.getString(2) === "test_role")
  }

  test("wayLocations=true surfaces node_locations through the scan (read.rs:418-509)") {
    val loc = PbfFixtures.path("loc_on_ways.osm.pbf")
    val df = spark.read.format("osmpbf").option("wayLocations", "true").load(loc)
    assert(df.schema === OsmSchema.schemaWithWayLocations)

    val way = df.filter(col("type") === "way")
      .select("id", "node_locations").collect().head
    assert(way.getLong(0) === 107L)
    val locs = way.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](1)
    val nanoLat = Seq(52122403100L, 52119923500L, 52119899100L, 52122403100L)
    val nanoLon = Seq(11628401700L, 11625644600L, 11631019200L, 11628401700L)
    assert(locs.map(_.getDouble(0)) === nanoLat.map(1e-9 * _))
    assert(locs.map(_.getDouble(1)) === nanoLon.map(1e-9 * _))

    // non-way rows: null column
    val rel = df.filter(col("type") === "relation")
      .select("node_locations").collect().head
    assert(rel.isNullAt(0))

    // a file WITHOUT the feature: ways yield an empty array (the
    // reference library's empty iterator, elements.rs:201-216)
    val plain = spark.read.format("osmpbf").option("wayLocations", "true")
      .load(fixture).filter(col("type") === "way")
      .select("node_locations").collect().head
    assert(plain.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0).isEmpty)

    // pruning composes: not selecting node_locations keeps the pruned
    // 13-col fast path; selecting ONLY it still decodes correctly
    val pruned = spark.read.format("osmpbf").option("wayLocations", "true")
      .load(loc).select("id", "type")
    assert(pruned.collect().length === df.count())
    val only = spark.read.format("osmpbf").option("wayLocations", "true")
      .load(loc).filter(col("type") === "way").select("node_locations")
      .collect().head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0)
    assert(only.size === 4)

    // default read is byte-identical to before: no node_locations column
    assert(spark.read.format("osmpbf").load(loc).schema === OsmSchema.schema)

    // option key is case-insensitive end to end (Table reads the raw
    // properties map; inferSchema a CaseInsensitiveStringMap — both must
    // agree on the schema or the advertised column vanishes at analysis)
    assert(spark.read.format("osmpbf").option("WAYLOCATIONS", "true")
      .load(loc).schema === OsmSchema.schemaWithWayLocations)
  }

  test("every projection gives the full projection's rows, selected in Spark") {
    val synth = dir.resolve("projections.osm.pbf").toString
    PbfWriter.synthesize(synth, blocks = 3, nodesPerBlock = 400, waysPerBlock = 60, relationsPerBlock = 9)
    for ((path, wayLocs) <- Seq((synth, false), (fixture, false),
        (PbfFixtures.path("loc_on_ways.osm.pbf"), true))) {
      def load() = spark.read.format("osmpbf").option("wayLocations", wayLocs.toString).load(path)
      val full = load().collect().toSeq
      val names = load().schema.fieldNames.toSeq
      assert(full.nonEmpty && names === OsmSchema.schemaFor(wayLocs).fieldNames.toSeq)
      def expected(cols: Seq[String], keep: Row => Boolean = _ => true): Seq[Row] =
        full.filter(keep).map(r => Row.fromSeq(cols.map(c => r.get(names.indexOf(c)))))
      names.foreach(c => assert(load().select(c).collect().toSeq === expected(Seq(c)), s"$path: $c"))
      assert(load().select("lat", "id", "type").collect().toSeq === expected(Seq("lat", "id", "type")))
      for (t <- Seq(OsmSchema.TypeNode, OsmSchema.TypeWay, OsmSchema.TypeRelation)) {
        val byType = load().filter(col("type") === t)
        assert(byType.collect().toSeq === expected(names, _.getAs[String]("type") == t), s"$path: $t")
        assert(byType.select("id", "tags").collect().toSeq ===
          expected(Seq("id", "tags"), _.getAs[String]("type") == t), s"$path: $t, pruned")
      }
      if (wayLocs)
        assert(load().select("id", "node_locations").collect().toSeq ===
          expected(Seq("id", "node_locations")))
    }
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.sources.pbf.{IndexedPbf, OsmPbf, PbfConfig}
import Main.{Entry, Workload, noop}

object Workloads {
  val TranscodeElements = 5000000L
  val QueryElements = 1000000L

  /** PBF corpus facts recorded beside the metrics. */
  def corpusInfo(path: String, elements: Long): Map[String, Any] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = new java.io.FileInputStream(path)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    val bytes = new java.io.File(path).length
    Map("sha256" -> md.digest().map(b => f"$b%02x").mkString, "bytes" -> bytes,
      "elements" -> elements, "bytes_per_elem" -> bytes.toDouble / elements)
  }

  /** The selective `readWaysAndDeps` predicate of a corpus. */
  def depsPredicateFor(seed: Long, elements: Long): org.apache.spark.sql.Column =
    col("tags").getItem("highway") === PlanetGen.DepsValue &&
      col("id") < PlanetGen.depsMaxWayId(PlanetGen.Layout(seed, elements))

  private def planet(seed: Long, path: String, elements: Long, cores: Int): PlanetGen.Truth =
    PlanetGen.write(path, PlanetGen.Layout(seed, elements), cores)

  /** `transcode-planet`: one op is one default-config transcode. */
  final class Transcode(seed: Long, work: String, cores: Int) extends Workload {
    val corpus = s"$work/planet.osm.pbf"
    val output = s"$work/transcode_out"
    val truth: PlanetGen.Truth = planet(seed, corpus, TranscodeElements, cores)
    def elements: Long = TranscodeElements
    def register(spark: SparkSession): Unit = OsmPbf.header(spark, corpus)
    private def transcode(spark: SparkSession): Map[String, Long] =
      OsmPbf.transcode(spark, PbfConfig(corpus, output), onProgress = _ => ())
    val entries: Seq[Entry] = Seq(Entry("transcode", s => transcode(s)))
    // the returned counts here; the output the last op leaves is checked
    // column by column after the run
    def checkPass(spark: SparkSession): Seq[Option[String]] = {
      val got = transcode(spark)
      val want = truth.columns.map { case (t, c) => t -> c("rows") }
      Seq(Option.when(got != want)(s"transcode counts $got != $want"))
    }
    override def report: Map[String, Any] = Map(
      "corpus" -> corpusInfo(corpus, TranscodeElements),
      "transcode_out" -> output, "truth" -> truth.columns)
  }

  /** `pbf-query`: a fixed rotation of queries run directly over a PBF. */
  final class PbfQuery(seed: Long, work: String, cores: Int) extends Workload {
    val corpus = s"$work/query.osm.pbf"
    val truth: PlanetGen.Truth = planet(seed, corpus, QueryElements, cores)
    private val depsPredicate = depsPredicateFor(seed, QueryElements)
    def elements: Long = QueryElements
    private def pbf(s: SparkSession): DataFrame = s.read.format("osmpbf").load(corpus)
    def register(spark: SparkSession): Unit = pbf(spark).schema

    private val (la, lb) = PlanetGen.BboxLat
    private val (oa, ob) = PlanetGen.BboxLon
    private val queries: Seq[(String, SparkSession => DataFrame)] = Seq(
      "highway_ways" -> (s => pbf(s)
        .filter(col("type") === "way" && col("tags").getItem("highway") === PlanetGen.HighwayValue)
        .select("id", "nds")),
      "bbox_count" -> (s => pbf(s)
        .filter(col("type") === "node" && col("lat") > la && col("lat") < lb &&
          col("lon") > oa && col("lon") < ob)
        .agg(count(lit(1)).as("n"))),
      "tag_key_hist" -> (s => pbf(s)
        .select(explode(map_keys(col("tags"))).as("k")).groupBy("k").count()),
      "ways_and_deps" -> (s => IndexedPbf.readWaysAndDeps(s, corpus, depsPredicate)))

    val entries: Seq[Entry] = queries.map { case (n, q) => Entry(n, s => noop(q(s))) }

    def checkPass(spark: SparkSession): Seq[Option[String]] = {
      val t = truth
      queries.map { case (n, q) =>
        val df = q(spark)
        val (got, want) = n match {
          case "highway_ways" =>
            val r = df.agg(count(lit(1)), sum("id"), sum(size(col("nds")))).head()
            (Seq(r.getLong(0), r.getLong(1), r.getLong(2)),
              Seq(t.highwayWays, t.highwayIds, t.highwayNds))
          case "bbox_count" => (df.head().getLong(0), t.bboxNodes)
          case "tag_key_hist" =>
            (df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap, t.keyHist.toMap)
          case _ =>
            val r = df.groupBy("type").agg(count(lit(1)), sum("id")).collect()
              .map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2))).toMap
            (r, Map("way" -> Seq(t.depWays, t.depWayIds),
              "node" -> Seq(t.depNodes, t.depNodeIds)))
        }
        Option.when(got != want)(s"$n: got $got, expected $want")
      }
    }
    override def report: Map[String, Any] =
      Map("corpus" -> corpusInfo(corpus, QueryElements))
  }

  /** Entry probes of a traced run, for the layers the PBF workloads do
    * not reach: Spark SQL operators, plans and functions (the five entries
    * the whole-result bench found slow) and streaming (st09, a windowed
    * aggregate into the exactly-once file sink, so WAL, commit log, state
    * commit and sink writes are all on its per-batch path). */
  val SqlProbe = Seq("x02_approx_quantiles", "q15_distinct_agg", "d03_simhash",
    "t05_regex_tokens", "q10_window_running")
  val StreamProbe = Seq("st09_exactly_once_sink")

  def entries(names: Seq[String], tables: String): Seq[Entry] =
    names.map(n => Entry(n, s => noop(SparkEntry.queries(n)(s, tables))))

  /** Runs each entry once, dumping its result for the oracle check run.py
    * makes; returns where the dumps are, with each entry's oracle SQL. */
  def dumpEntries(spark: SparkSession, names: Seq[String], tables: String,
                  work: String): Map[String, Any] = {
    names.foreach { n =>
      SparkEntry.queries(n)(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/dump/$n")
    }
    names.map(n => n -> Map("dir" -> s"$work/dump/$n",
      "oracle" -> SparkEntry.oracleSql.get(n))).toMap
  }
}

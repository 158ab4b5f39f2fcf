package graft.sources.pbf

import graft.TempDirs
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Zone-map blob pruning of the `osmpbf` scan: every pushed `id` / `lat` /
  * `lon` comparison must give exactly the rows of the same filter over the
  * unpruned rows (a local relation, so nothing is pushed), and the scan's
  * `blobsPlanned` / `blobsPruned` metrics show what the catalog dropped.
  */
class ZoneMapPruneSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _
  private val tmp = new TempDirs

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("zone-map-prune-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    tmp.deleteAll()
  }

  private def scan(path: String): DataFrame = spark.read.format("osmpbf").load(path)

  /** The file's rows as a local relation: filters over it are not pushed. */
  private def unpruned(path: String): DataFrame = {
    val df = scan(path)
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  private def sorted(rows: Array[Row]): Seq[Row] =
    rows.toSeq.sortBy(r => (r.getAs[String]("type"), r.getAs[Long]("id")))

  /** (planned, pruned) blobs of the one executed `osmpbf` scan of `df`. */
  private def blobs(df: DataFrame): (Long, Long) = {
    val scans = collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s }
    assert(scans.size === 1, scans)
    (scans.head.metrics(OsmPbfScan.BlobsPlanned).value,
      scans.head.metrics(OsmPbfScan.BlobsPruned).value)
  }

  /** Runs `df` (a filtered scan), checks its rows against `pred` over
    * `all`, and returns its (planned, pruned) blobs. */
  private def check(df: DataFrame, all: DataFrame, pred: Column): (Long, Long) = {
    val got = sorted(df.collect())
    assert(got === sorted(all.filter(pred).collect()), s"rows of $pred")
    blobs(df)
  }

  private def check(path: String, all: DataFrame, pred: Column): (Long, Long) =
    check(scan(path).filter(pred), all, pred)

  private val ops: Seq[(Column, Any) => Column] =
    Seq(_ === _, _ < _, _ <= _, _ > _, _ >= _)

  /** Every comparison on every catalog bound of every blob of `path`: the
    * values that land exactly on a blob's min or max. */
  private def checkBounds(path: String): Unit = {
    val all = unpruned(path)
    val total = IndexedPbf.index(spark, path).size.toLong
    val bounds = IndexedPbf.index(spark, path).flatMap { z =>
      val r = z.ids
      def ids(present: Boolean, lo: Long, hi: Long) =
        if (present) Seq("id" -> lo, "id" -> hi) else Nil
      ids(r.hasNodes, r.nodeMin, r.nodeMax) ++ ids(r.hasWays, r.wayMin, r.wayMax) ++
        ids(r.hasRelations, r.relMin, r.relMax) ++
        (if (r.hasCoords) Seq("lat" -> r.latMin, "lat" -> r.latMax,
          "lon" -> r.lonMin, "lon" -> r.lonMax) else Nil)
    }.distinct
    assert(bounds.nonEmpty)
    for ((c, v) <- bounds; op <- ops) {
      val (planned, pruned) = check(path, all, op(col(c), lit(v)))
      assert(planned + pruned === total)
    }
  }

  /** Dense nodes with ids only: the scan emits null lat/lon for them. */
  private def denseWithoutCoords(ids: Seq[Long]): Array[Byte] = {
    import PbfWriter.MessageBuilder
    val deltas = ids.zip(0L +: ids).map { case (a, b) => a - b }
    val group = new MessageBuilder()
      .writeMessageField(2, new MessageBuilder().writePackedZigzag(1, deltas))
    new MessageBuilder()
      .writeMessageField(1, new MessageBuilder().writeBytesField(1, Array.emptyByteArray))
      .writeMessageField(2, group)
      .result()
  }

  /** Sparse `Node` messages (id, optional raw lat and lon) in one block
    * with the given granularity and offsets. */
  private def sparseNodes(nodes: Seq[(Long, Option[Long], Option[Long])], granularity: Long,
                          latOffset: Long, lonOffset: Long): Array[Byte] = {
    import PbfWriter.MessageBuilder
    val group = new MessageBuilder
    nodes.foreach { case (id, lat, lon) =>
      val m = new MessageBuilder().writeZigzagField(1, id)
      lat.foreach(m.writeZigzagField(8, _))
      lon.foreach(m.writeZigzagField(9, _))
      group.writeMessageField(1, m)
    }
    new MessageBuilder()
      .writeMessageField(1, new MessageBuilder().writeBytesField(1, Array.emptyByteArray))
      .writeMessageField(2, group)
      .writeVarintField(17, granularity)
      .writeVarintField(19, latOffset)
      .writeVarintField(20, lonOffset)
      .result()
  }

  /** Three blobs: sparse nodes at a negative granularity (one without a
    * lat field, one without a lon field), dense nodes without lat/lon
    * arrays, and dense nodes at granularity 1000 with a way. */
  private lazy val mixed: String = {
    import PbfWriter._
    val path = s"${tmp("zoneprune")}/mixed.osm.pbf"
    writeFile(path, Seq(
      sparseNodes(Seq((1L, Some(5000000L), Some(-7000000L)), (2L, None, Some(3000000L)),
        (3L, Some(-2500000L), None), (4L, Some(9000000L), Some(12000000L))),
        granularity = -100, latOffset = 1000000000L, lonOffset = -2000000000L),
      denseWithoutCoords(Seq(10L, 11L, 12L, 14L)),
      primitiveBlock((20L to 29L).map(id => DenseNode(id, 48000000000L + id * 1000000L,
        2000000000L - id * 3000000L, Nil, 1, 0L, 1L, 1, "u")),
        Seq(WayData(900L, Seq(20L, 21L), Seq("highway" -> "primary"))),
        granularity = 1000, latOffset = 7000L, lonOffset = -3000L)))
    path
  }

  /** [[PbfWriter.synthesize]]: nodes 1..150, ways and relations in each
    * of three blobs; coordinates grow with the node id, so node boxes are
    * disjoint. */
  private lazy val synth: String = {
    val path = s"${tmp("zoneprune")}/synth.osm.pbf"
    PbfWriter.synthesize(path, blocks = 3, nodesPerBlock = 50, waysPerBlock = 4, relationsPerBlock = 2)
    path
  }

  /** A way whose message carries field 1 twice: protobuf keeps the last. */
  private lazy val repeatedWayId: String = {
    import PbfWriter.MessageBuilder
    val way = new MessageBuilder().writeVarintField(1, 5L).writeVarintField(1, 900L)
    val block = new MessageBuilder()
      .writeMessageField(1, new MessageBuilder().writeBytesField(1, Array.emptyByteArray))
      .writeMessageField(2, new MessageBuilder().writeMessageField(3, way))
      .result()
    val path = s"${tmp("zoneprune")}/repeatedid.osm.pbf"
    PbfWriter.writeFile(path, Seq(block))
    path
  }

  private val goldens = Seq("test.osm.pbf", "test_nozlib.osm.pbf", "test_nozlib_nodense.osm.pbf",
    "deleted_nodes.osh.pbf", "loc_on_ways.osm.pbf").map(PbfFixtures.path)

  /** The inflated payloads of `path`'s data blobs. */
  private def payloads(path: String): Seq[Array[Byte]] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    Blobs.enumerate(new java.io.ByteArrayInputStream(bytes)).filter(_.blobType == Blobs.TypeOsmData)
      .map(s => Blobs.decode(java.util.Arrays.copyOfRange(bytes, s.offset.toInt, s.offset.toInt + s.length)))
  }

  /** The min/max fold over the rows of the full decode: ids per type, and
    * the box over the non-null lat and lon. */
  private def foldRows(payload: Array[Byte]): BlockDecoder.BlobIdRanges = {
    val rows = BlockDecoder.decodeBlock(payload).toSeq
    def ids(t: String) = {
      val v = rows.filter(_.getAs[String]("type") == t).map(_.getAs[Long]("id"))
      (v.foldLeft(Long.MaxValue)(math.min), v.foldLeft(Long.MinValue)(math.max))
    }
    def box(c: String) = {
      val v = rows.filter(r => !r.isNullAt(r.fieldIndex(c))).map(_.getAs[Double](c))
      (v.foldLeft(Double.PositiveInfinity)(math.min), v.foldLeft(Double.NegativeInfinity)(math.max))
    }
    val ((n0, n1), (w0, w1), (r0, r1)) = (ids("node"), ids("way"), ids("relation"))
    val ((la0, la1), (lo0, lo1)) = (box("lat"), box("lon"))
    BlockDecoder.BlobIdRanges(n0, n1, w0, w1, r0, r1, la0, la1, lo0, lo1)
  }

  /** A way (id 5) whose refs field has the fixed32 wire type. Its four
    * bytes, read as varints instead, are a ref 0 and an id 938. */
  private val fixedWireRefs: Array[Byte] = {
    import PbfWriter.MessageBuilder
    val way = new MessageBuilder().writeVarintField(1, 5L).writeTag(8, 5)
      .writeVarint(0L).writeVarint(1L << 3).writeVarint(938L)
    new MessageBuilder()
      .writeMessageField(1, new MessageBuilder().writeBytesField(1, Array.emptyByteArray))
      .writeMessageField(2, new MessageBuilder().writeMessageField(3, way))
      .result()
  }

  test("every blob's catalog entry is the min/max fold of its decoded rows") {
    for (f <- goldens ++ Seq(synth, mixed, repeatedWayId); p <- payloads(f))
      assert(BlockDecoder.idRanges(p) === foldRows(p), f)
    assert(BlockDecoder.idRanges(fixedWireRefs) === foldRows(fixedWireRefs))
    // corrupt payloads that still decode
    var decoded = 0
    DecodeFuzzSpec.singleByteFlips().foreach { case (what, b) =>
      val folded = try Some(foldRows(b)) catch { case _: PbfFormatException => None }
      folded.foreach { r => decoded += 1; assert(BlockDecoder.idRanges(b) === r, what) }
    }
    assert(decoded > 0)
  }

  test("comparisons on every blob's min and max id and coordinate: the golden PBFs") {
    goldens.foreach(checkBounds)
  }

  test("comparisons on every blob's min and max id and coordinate: synthesized files") {
    checkBounds(synth)
    checkBounds(mixed)
  }

  test("a pushed range plans only the blobs that can hold a match") {
    val all = unpruned(synth)
    val idx = IndexedPbf.index(spark, synth)
    val mid = idx(1).ids
    assert(check(synth, all, col("id") === mid.nodeMin) === ((1L, 2L)))
    assert(check(synth, all, col("lat") === mid.latMax) === ((1L, 2L)))
    assert(check(synth, all, col("lon") > mid.lonMax) === ((1L, 2L)))
    assert(check(synth, all, col("id") < idx.head.ids.nodeMin) === ((0L, 3L)))
    // a way id range: only way blobs whose range holds it
    assert(check(synth, all, col("id") >= idx(2).ids.wayMin && col("id") <= idx(2).ids.wayMax) ===
      ((1L, 2L)))
    // bbox over blobs 0 and 1, nodes only
    val bbox = col("type") === "node" && col("lat") > idx.head.ids.latMax &&
      col("lat") <= mid.latMin && col("lon") >= idx.head.ids.lonMin
    assert(check(synth, all, bbox) === ((1L, 2L)))
  }

  test("nested id ranges: the wide blob is kept, the disjoint one pruned") {
    import PbfWriter._
    val path = s"${tmp("zoneprune")}/nested.osm.pbf"
    def block(ids: Seq[Long]): Array[Byte] = primitiveBlock(
      ids.map(id => DenseNode(id, 52000000000L + id, 11000000000L + id, Nil, 1, 0L, 1L, 1, "u")))
    writeFile(path, Seq(block((1L to 500L) :+ 4000L), block(1100L to 1149L), block(2000L to 2049L)))
    val all = unpruned(path)
    assert(check(path, all, col("id") === 4000L) === ((1L, 2L)))
    assert(check(path, all, col("id") >= 1100L && col("id") <= 1149L) === ((2L, 1L)))
    assert(check(path, all, col("id") > 2049L) === ((1L, 2L)))
  }

  test("sparse nodes and dense nodes without lat/lon: the box holds the emitted doubles") {
    val all = unpruned(mixed)
    val idx = IndexedPbf.index(spark, mixed)
    assert(idx.size === 3)
    // each box is the min and max of the coordinates the scan emits
    Seq(0 -> (1L, 4L), 2 -> (20L, 29L)).foreach { case (i, (lo, hi)) =>
      val r = all.filter(col("type") === "node" && col("id").between(lo, hi))
        .agg(min("lat"), max("lat"), min("lon"), max("lon")).head()
      val z = idx(i).ids
      assert((z.latMin, z.latMax, z.lonMin, z.lonMax) ===
        ((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))))
    }
    assert(idx(1).ids.hasNodes && !idx(1).ids.hasCoords)
    // a lat/lon comparison rejects null: the blob without coordinates goes
    assert(check(mixed, all, col("lat") > -1000.0) === ((2L, 1L)))
    assert(check(mixed, all, col("lat") <= Double.PositiveInfinity) === ((2L, 1L)))
    assert(check(mixed, all, col("lon") >= Double.NegativeInfinity) === ((2L, 1L)))
    assert(check(mixed, all, col("lon") <= 1000.0 && col("id") >= 10L) === ((1L, 2L)))
    // an id comparison keeps it
    assert(check(mixed, all, col("id") === 12L) === ((1L, 2L)))
  }

  test("a NaN or an Int literal never prunes") {
    val all = unpruned(synth)
    val total = IndexedPbf.index(spark, synth).size.toLong
    // Spark ranks NaN above every double: lat < NaN holds for every node
    Seq(col("lat") < Double.NaN, col("lat") <= Double.NaN, col("lon") === Double.NaN,
      col("lat") > Double.NaN).foreach { pred =>
      assert(check(synth, all, pred) === ((total, 0L)), pred)
    }
    def plan(filters: Array[sources.Filter]): (Array[sources.Filter], Array[sources.Filter], Long) = {
      val b = new OsmPbfScanBuilder(synth)
      val rest = b.pushFilters(filters)
      val scan = b.build()
      scan.toBatch.planInputPartitions()
      (rest, b.pushedFilters(),
        scan.reportDriverMetrics().find(_.name == OsmPbfScan.BlobsPruned).get.value)
    }
    val odd: Array[sources.Filter] = Array(sources.EqualTo("id", 1), sources.LessThan("lat", 1),
      sources.EqualTo("id", null), sources.GreaterThan("lon", java.math.BigDecimal.ONE),
      sources.LessThan("lat", Double.NaN), sources.EqualTo("lat", 1L))
    val (rest, pushed, pruned) = plan(odd)
    assert(rest.toSeq === odd.toSeq && pushed.isEmpty && pruned === 0L)
    // the same comparisons on a Long and a Double prune, and Spark keeps them
    val typed: Array[sources.Filter] = Array(sources.EqualTo("id", 1L), sources.LessThan("lat", 1000.0))
    val (rest2, pushed2, pruned2) = plan(typed)
    assert(rest2.toSeq === typed.toSeq && pushed2.toSeq === typed.toSeq && pruned2 === total - 1)
  }

  test("the spans option composes with pruning") {
    val all = unpruned(synth)
    val idx = IndexedPbf.index(spark, synth)
    val two = IndexedPbf.readSpans(spark, synth, idx.take(2).map(_.span))
    val pred = col("id") === idx(1).ids.nodeMin
    assert(check(two.filter(pred), all, pred) === ((1L, 1L)))
    // a row outside the spans stays outside
    val outside = two.filter(col("id") === idx(2).ids.nodeMin)
    assert(outside.collect().isEmpty)
    assert(blobs(outside) === ((0L, 2L)))
    // ways_and_deps pass 1: the way blobs under the predicate's id bound
    val ways = IndexedPbf.readSpans(spark, synth, idx.filter(_.ids.hasWays).map(_.span))
      .filter(col("type") === "way" && col("id") < idx(1).ids.wayMin)
    assert(ways.collect().length === 4)
    assert(blobs(ways) === ((1L, 2L)))
  }

  test("a way that carries its id twice is kept by a filter on the last id") {
    val all = unpruned(repeatedWayId)
    assert(all.collect().map(_.getAs[Long]("id")).toSeq === Seq(900L))
    assert(check(repeatedWayId, all, col("id") === 900L) === ((1L, 0L)))
    assert(check(repeatedWayId, all, col("id") === 5L) === ((0L, 1L)))
  }

  test("a type-only scan plans every blob, with or without a catalog") {
    val path = s"${tmp("zoneprune")}/typeonly.osm.pbf"
    java.nio.file.Files.copy(java.nio.file.Paths.get(mixed), java.nio.file.Paths.get(path))
    val all = unpruned(path)
    val ways = col("type") === "way"
    assert(check(path, all, ways) === ((3L, 0L)))
    IndexedPbf.index(spark, path)
    assert(check(path, all, ways) === ((3L, 0L)))
    // with a range, the type prunes too
    assert(check(path, all, ways && col("id") > 0L) === ((1L, 2L)))
  }

  test("dense lat/lon arrays that do not match the ids fail a lat/lon-filtered scan") {
    import PbfWriter.MessageBuilder
    // 4 ids, 3 lats/lons: a scan of lat or lon fails on the block, and so
    // does the catalog, which decodes them
    val dense = new MessageBuilder()
      .writePackedZigzag(1, Seq.fill(4)(1L))
      .writePackedZigzag(8, Seq.fill(3)(1000L))
      .writePackedZigzag(9, Seq.fill(3)(1000L))
    val bad = new MessageBuilder()
      .writeMessageField(1, new MessageBuilder().writeBytesField(1, Array.emptyByteArray))
      .writeMessageField(2, new MessageBuilder().writeMessageField(2, dense))
      .result()
    val path = s"${tmp("zoneprune")}/badcoords.osm.pbf"
    PbfWriter.writeFile(path, Seq(bad))
    def typed(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[PbfFormatException] || typed(t.getCause))
    val built = intercept[Exception](IndexedPbf.index(spark, path))
    assert(typed(built), built)
    def failsTyped(df: DataFrame): Unit = {
      val e = intercept[Exception](df.collect())
      assert(typed(e), e)
    }
    failsTyped(scan(path).filter(col("lat") > 50.0))
    failsTyped(scan(path).filter(col("lon") < -50.0 && col("type") === "node"))
  }

  test("a file replaced in place gets a new catalog") {
    val path = s"${tmp("zoneprune")}/replaced.osm.pbf"
    PbfWriter.synthesize(path, blocks = 2, nodesPerBlock = 40, waysPerBlock = 2)
    val before = unpruned(path)
    assert(check(path, before, col("id") === 41L) === ((1L, 1L)))
    PbfWriter.synthesize(path, blocks = 4, nodesPerBlock = 30, waysPerBlock = 2)
    new java.io.File(path).setLastModified(System.currentTimeMillis() + 60000L)
    val after = unpruned(path)
    // node 41 now lives in the second of four blobs
    assert(check(path, after, col("id") === 41L) === ((1L, 3L)))
    assert(check(path, after, col("id") > 90L && col("type") === "node") === ((1L, 3L)))
    assert(IndexedPbf.index(spark, path).size === 4)
  }

  test("a file rewritten with the same mtime and length but moved blobs gets a new catalog") {
    import PbfWriter._
    val path = s"${tmp("zoneprune")}/reordered.osm.pbf"
    def block(ids: Seq[Long]): Array[Byte] = primitiveBlock(
      ids.map(id => DenseNode(id, 52000000000L + id, 11000000000L + id, Nil, 1, 0L, 1L, 1, "u")))
    val (big, small) = (block(1L to 50L), block(100L to 110L))
    writeFile(path, Seq(big, small))
    val file = new java.io.File(path)
    val (mtime, len) = (file.lastModified(), file.length())
    assert(check(path, unpruned(path), col("id") === 105L) === ((1L, 1L)))
    // the same blobs swapped: same length, restored mtime, the old catalog
    // would judge the small blob by the big one's range
    writeFile(path, Seq(small, big))
    file.setLastModified(mtime)
    assert((file.lastModified(), file.length()) === ((mtime, len)))
    assert(check(path, unpruned(path), col("id") === 105L) === ((1L, 1L)))
    assert(IndexedPbf.index(spark, path).head.ids.nodeMin === 100L)
  }

  test("the executed plan keeps the Filter and shows the pushed ranges") {
    val df = scan(synth).filter(col("id") < 60L && col("lat") > 0.0)
    val (planned, pruned) = check(df, unpruned(synth), col("id") < 60L && col("lat") > 0.0)
    assert((planned, pruned) === ((2L, 1L)))
    val refs = collect(df.queryExecution.executedPlan) {
      case f: FilterExec => f.condition.references.map(_.name).toSet
    }.flatten.toSet
    assert(Set("id", "lat").subsetOf(refs), refs)
    val desc = collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s.scan.description() }
    assert(desc.exists(_.contains("ranges=")), desc)
  }
}

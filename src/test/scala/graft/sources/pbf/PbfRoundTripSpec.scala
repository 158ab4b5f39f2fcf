package graft.sources.pbf

import graft.TempDirs
import java.io.FileInputStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Encode → decode identity on generated corpora — the property-based
  * complement to the golden-fixture specs (delta chains, string tables,
  * keys_vals splitting, coordinate/timestamp scaling all round-trip).
  */
class PbfRoundTripSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = new TempDirs

  override def afterAll(): Unit = tmp.deleteAll()

  private def decodeAll(path: String): Seq[org.apache.spark.sql.Row] = {
    val in = new FileInputStream(path)
    val spans = try Blobs.enumerate(in) finally in.close()
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    spans.filter(_.blobType == Blobs.TypeOsmData).flatMap { s =>
      val body = java.util.Arrays.copyOfRange(bytes, s.offset.toInt, s.offset.toInt + s.length)
      BlockDecoder.decodeBlock(Blobs.decode(body)).toSeq
    }
  }

  private def idx(name: String): Int = OsmSchema.schema.fieldIndex(name)

  test("non-default granularity, offsets and date granularity round-trip") {
    val dir = tmp("pbfgran")
    val path = s"$dir/gran.osm.pbf"
    // granularity 1000 nanodeg, offsets 5e9/-2e9 nanodeg, dates in 500ms units
    val nodes = Seq(
      PbfWriter.DenseNode(1, 5000000000L + 7000L, -2000000000L + 13000L,
        Seq("k" -> "v"), 2, 1600000000500L, 42L, 9, "u"),
      PbfWriter.DenseNode(2, 5000000000L - 3000L, -2000000000L + 21000L,
        Nil, 3, 1600000001000L, 43L, 9, "u"))
    PbfWriter.writeFile(path, Seq(PbfWriter.primitiveBlock(nodes,
      granularity = 1000, latOffset = 5000000000L, lonOffset = -2000000000L,
      dateGranularity = 500)))
    val rows = decodeAll(path).sortBy(_.getLong(0))
    assert(rows.size === 2)
    assert(math.abs(rows(0).getDouble(idx("lat")) - (5.0 + 7e3 * 1e-9)) < 1e-12)
    assert(math.abs(rows(0).getDouble(idx("lon")) - (-2.0 + 13e3 * 1e-9)) < 1e-12)
    assert(math.abs(rows(1).getDouble(idx("lat")) - (5.0 - 3e3 * 1e-9)) < 1e-12)
    val ts0 = rows(0).getAs[java.time.LocalDateTime](idx("timestamp"))
    assert(ts0.atZone(java.time.ZoneOffset.UTC).toInstant.toEpochMilli === 1600000000500L)
    assert(rows(0).getAs[Map[String, String]](idx("tags")) === Map("k" -> "v"))
  }

  test("synthesized corpus round-trips exactly") {
    val path = tmp("pbfrt") + "/synth.osm.pbf"
    val expected = PbfWriter.synthesize(path, blocks = 5, nodesPerBlock = 1000)
    val rows = decodeAll(path)
    assert(rows.size.toLong === expected)

    val nodes = rows.filter(_.getString(idx("type")) == "node")
    val ways = rows.filter(_.getString(idx("type")) == "way")
    assert(nodes.size === 5000 && ways.size === 5)

    // ids dense 1..5000 (delta decode across the whole block chain)
    assert(nodes.map(_.getLong(0)).sorted === (1L to 5000L))
    // coordinates: nano = 52000000000 + id*1000 → degrees
    val n42 = nodes.find(_.getLong(0) == 42L).get
    assert(math.abs(n42.getDouble(idx("lat")) - (52.0 + 42e3 * 1e-9)) < 1e-12)
    assert(math.abs(n42.getDouble(idx("lon")) - (11.0 + 42 * 700e-9)) < 1e-12)
    // timestamps round-trip at ms granularity (stored as seconds * 1000)
    val ts = n42.getAs[java.time.LocalDateTime](idx("timestamp"))
    assert(ts.atZone(java.time.ZoneOffset.UTC).toInstant.toEpochMilli ===
      1049522828000L + 42 * 1000L)
    // every 100th node tagged; the rest untagged (0-delimiter handling)
    assert(nodes.count(r => r.getAs[Map[String, String]](idx("tags")).nonEmpty) === 50)
    val tagged = nodes.find(_.getLong(0) == 1L).get
    assert(tagged.getAs[Map[String, String]](idx("tags"))("amenity") === "bench")
    // dense info round-trip
    assert(n42.getInt(idx("uid")) === 17)
    assert(n42.getString(idx("user")).startsWith("user"))
    assert(n42.getBoolean(idx("visible")))
    // way refs delta round-trip
    val w = ways.minBy(_.getLong(0))
    assert(w.getAs[Seq[org.apache.spark.sql.Row]](idx("nds")).map(_.getLong(0)) === (1L to 16L))
  }

  test("LocationsOnWays encode → decode round-trips to the nodes' own coordinates") {
    val dir = tmp("pbfloc")
    val path = s"$dir/loc.osm.pbf"
    def latOf(id: Long) = 52000000000L + id * 1000
    def lonOf(id: Long) = 11000000000L + id * 700
    val nodes = (0 until 50).map(i => PbfWriter.DenseNode(100L + i,
      latOf(100L + i), lonOf(100L + i), Nil, 1, 0L, 1L, 1, "u"))
    val refs = Seq(103L, 110L, 121L)
    val way = PbfWriter.WayData(7L, refs, Seq("highway" -> "path"),
      locations = Some(refs.map(r => (latOf(r), lonOf(r)))))
    // non-default granularity/offset exercises the way-side coordinate math
    PbfWriter.writeFile(path, Seq(PbfWriter.primitiveBlock(nodes, Seq(way),
      granularity = 200, latOffset = 1000000000L, lonOffset = -400L)))
    val proj = BlockDecoder.Projection(wayLocs = true)
    val rows = {
      val in = new FileInputStream(path)
      val spans = try Blobs.enumerate(in) finally in.close()
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      spans.filter(_.blobType == Blobs.TypeOsmData).flatMap { s =>
        val body = java.util.Arrays.copyOfRange(bytes, s.offset.toInt, s.offset.toInt + s.length)
        BlockDecoder.decodeBlock(Blobs.decode(body), proj).toSeq
      }
    }
    val li = OsmSchema.schemaWithWayLocations.fieldIndex("node_locations")
    val w = rows.find(_.getString(idx("type")) == "way").get
    val locs = w.getAs[Seq[org.apache.spark.sql.Row]](li)
      .map(r => (r.getDouble(0), r.getDouble(1)))
    // way-decoded locations must be BIT-IDENTICAL to the node decode
    // (same offset + granularity × raw ×1e-9 formula on the same inputs)
    val nodeCoords = rows.filter(_.getString(idx("type")) == "node")
      .map(r => r.getLong(0) -> (r.getDouble(idx("lat")), r.getDouble(idx("lon")))).toMap
    assert(locs === refs.map(nodeCoords))
    // granularity 200: raw values round-trip only because inputs minus
    // offset are multiples of 200 after the writer's integer division —
    // assert the decoded values equal the formula, not just each other
    assert(locs.head._1 === 1e-9 * (1000000000L + 200L * ((latOf(103L) - 1000000000L) / 200L)))
    // nodes/relations carry a null node_locations, ways without the
    // feature an empty array
    assert(rows.filter(_.getString(idx("type")) == "node").forall(_.isNullAt(li)))
  }

  test("planet-mix corpus (ways + relations per block) round-trips exactly") {
    val path = tmp("pbfmix") + "/mix.osm.pbf"
    val expected = PbfWriter.synthesize(path, blocks = 3, nodesPerBlock = 890,
      waysPerBlock = 100, relationsPerBlock = 2)
    val rows = decodeAll(path)
    assert(rows.size.toLong === expected)
    val byType = rows.groupBy(_.getString(idx("type")))
    assert(byType("node").size === 2670)
    assert(byType("way").size === 300)
    assert(byType("relation").size === 6)
    // every way carries 16 in-block refs
    byType("way").foreach { w =>
      assert(w.getAs[Seq[org.apache.spark.sql.Row]](idx("nds")).size === 16)
    }
    // relation members decode with delta-decoded memids, roles, and
    // enum→string types in input order
    val r0 = byType("relation").minBy(_.getLong(0))
    val members = r0.getAs[Seq[org.apache.spark.sql.Row]](idx("members"))
    assert(members.map(_.getString(0)) === Seq("node", "node", "way"))
    assert(members.map(_.getString(2)) === Seq("outer", "inner", ""))
    assert(members(0).getLong(1) === 1L && members(1).getLong(1) === 2L)
    assert(members(2).getLong(1) === 1000000000L)
    assert(r0.getAs[Map[String, String]](idx("tags")) === Map("type" -> "multipolygon"))
  }
}

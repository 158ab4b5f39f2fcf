package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.util.zip.Deflater
import scala.collection.mutable

/** Seeded generator of a planet-like OSM PBF, written field by field from
  * fileformat.proto / osmformat.proto so that the benchmark's inputs do
  * not depend on the program's own encoder.
  *
  * Shape: blocks of 8,000 entities sorted nodes -> ways -> relations
  * (89% / 10.8% / 0.2%, the planet's mix); dense nodes on per-block random
  * walks; runs of elements share one edit (user, changeset, timestamp,
  * version) as real uploads do; tag keys and values drawn from Zipf
  * distributions; ways with 2-200 refs to nearby nodes; relations with
  * node, way and relation members; a user pool skewed toward a few heavy
  * contributors; zlib blobs. Every block is a pure function of
  * (seed, block index), so blocks are built in parallel and the file is
  * byte-identical for a given seed.
  *
  * [[Truth]] is the ground truth the checks compare against, accumulated
  * from the values written.
  */
object PlanetGen {
  val BlockSize = 8000

  // bbox of the pbf-query count, in 1e-7 degree units; the bounds sit half
  // a unit off the grid so no decoded coordinate can tie with them
  val BboxLat: (Double, Double) = (-10.00000005, 30.00000005)
  val BboxLon: (Double, Double) = (-20.00000005, 40.00000005)
  val HighwayValue = "residential" // pbf-query way filter
  val DepsValue = "motorway"       // readWaysAndDeps predicate: this value on
  def depsMaxWayId(l: Layout): Long = wayId(l.ways / 10) // ... the first tenth of ways

  private val keys = Array("building", "highway", "source", "name", "addr:housenumber",
    "addr:street", "natural", "landuse", "surface", "waterway", "amenity", "oneway",
    "barrier", "power", "leisure", "service", "wall", "access", "lanes", "maxspeed",
    "ref", "height", "shop", "railway", "layer", "tourism", "bridge", "entrance",
    "man_made", "place", "crossing", "foot", "bicycle", "wheelchair", "operator",
    "tracktype", "sport", "emergency", "boundary", "admin_level") ++
    (0 until 160).map(i => s"note:$i")
  private val highways = Array("residential", "service", "track", "footway",
    "unclassified", "path", "tertiary", "secondary", "primary", "living_street",
    "steps", "trunk", "cycleway", "motorway", "motorway_link", "pedestrian")
  private val roles = Array("", "outer", "inner", "stop", "platform", "forward",
    "backward", "street", "house", "subarea", "admin_centre", "label")
  private val relTypes = Array("multipolygon", "route", "boundary", "restriction",
    "associatedStreet", "site", "public_transport")
  private val Users = 5000

  /** Deterministic corpus layout for `elements` entities. */
  final case class Layout(seed: Long, elements: Long) {
    val nodes: Long = elements * 890 / 1000
    val relations: Long = math.max(1L, elements * 2 / 1000)
    val ways: Long = elements - nodes - relations
    private def blocks(n: Long) = ((n + BlockSize - 1) / BlockSize).toInt
    val nodeBlocks: Int = blocks(nodes)
    val wayBlocks: Int = blocks(ways)
    val relBlocks: Int = blocks(relations)
    val totalBlocks: Int = nodeBlocks + wayBlocks + relBlocks
  }

  // ids are strictly increasing functions of the element index, so a way
  // can reference node k without materializing the node table
  def nodeId(i: Long): Long = 1L + 2L * i + (mix(i) & 1L)
  def wayId(j: Long): Long = 1L + 3L * j + (mix(j ^ 0x5bd1e995L) % 3L)
  def relId(k: Long): Long = 1L + 2L * k + (mix(k ^ 0x27d4eb2fL) & 1L)

  private def mix(x0: Long): Long = {
    var x = x0 * 0x9E3779B97F4A7C15L
    x ^= x >>> 31; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 29
    x & Long.MaxValue
  }

  /** Per-type column sums and the pbf-query answers. Mergeable, exact. */
  final class Truth {
    val count, ids, tags, tagChars, nds, ndRefs, members, memberRefs,
      versions, changesets, uids, seconds, userChars, latUnits, lonUnits =
      Array.fill(3)(0L)
    var highwayWays, highwayIds, highwayNds = 0L
    var bboxNodes = 0L
    val keyHist: mutable.Map[String, Long] = mutable.HashMap.empty.withDefaultValue(0L)
    var depWays, depWayIds = 0L
    val depRefs: mutable.Set[Long] = mutable.HashSet.empty

    def merge(o: Truth): Unit = {
      Seq(count -> o.count, ids -> o.ids, tags -> o.tags, tagChars -> o.tagChars,
        nds -> o.nds, ndRefs -> o.ndRefs, members -> o.members,
        memberRefs -> o.memberRefs, versions -> o.versions, changesets -> o.changesets,
        uids -> o.uids, seconds -> o.seconds, userChars -> o.userChars,
        latUnits -> o.latUnits, lonUnits -> o.lonUnits).foreach { case (a, b) =>
        for (t <- 0 until 3) a(t) += b(t)
      }
      highwayWays += o.highwayWays; highwayIds += o.highwayIds; highwayNds += o.highwayNds
      bboxNodes += o.bboxNodes
      o.keyHist.foreach { case (k, v) => keyHist(k) += v }
      depWays += o.depWays; depWayIds += o.depWayIds
      depRefs ++= o.depRefs
    }

    /** Column checksums per element type, as the transcode check reads them. */
    def columns: Map[String, Map[String, Long]] =
      Seq("node", "way", "relation").zipWithIndex.map { case (t, i) =>
        t -> Map("rows" -> count(i), "id" -> ids(i), "tags" -> tags(i),
          "tag_chars" -> tagChars(i), "nds" -> nds(i), "nd_refs" -> ndRefs(i),
          "members" -> members(i), "member_refs" -> memberRefs(i),
          "version" -> versions(i), "changeset" -> changesets(i), "uid" -> uids(i),
          "ts_seconds" -> seconds(i), "user_chars" -> userChars(i),
          "lat_units" -> latUnits(i), "lon_units" -> lonUnits(i))
      }.toMap

    def depNodes: Long = depRefs.size.toLong
    def depNodeIds: Long = depRefs.sum
  }

  /** Writes the corpus to `path`; returns the ground truth. */
  def write(path: String, layout: Layout, threads: Int): Truth = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until layout.totalBlocks).map { b =>
        pool.submit(new java.util.concurrent.Callable[(Array[Byte], Truth)] {
          def call(): (Array[Byte], Truth) = {
            val t = new Truth
            (frame("OSMData", zlibBlob(block(layout, b, t))), t)
          }
        })
      }
      val truth = new Truth
      val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
      try {
        out.write(frame("OSMHeader", zlibBlob(header)))
        futures.foreach { f =>
          val (bytes, t) = f.get()
          out.write(bytes)
          truth.merge(t)
        }
      } finally out.close()
      truth
    } finally pool.shutdownNow()
  }

  // ---- wire format -----------------------------------------------------

  /** Minimal protobuf writer. */
  final class Buf(initial: Int = 256) {
    private var a = new Array[Byte](initial)
    var n = 0
    private def ensure(k: Int): Unit =
      if (n + k > a.length) a = java.util.Arrays.copyOf(a, math.max(a.length * 2, n + k))
    def byte(b: Int): Unit = { ensure(1); a(n) = b.toByte; n += 1 }
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0L) { byte(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      byte(v.toInt)
    }
    def sint(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    def tag(field: Int, wire: Int): Unit = varint((field << 3 | wire).toLong)
    def bytes(field: Int, b: Array[Byte], off: Int, len: Int): Unit = {
      tag(field, 2); varint(len.toLong); ensure(len)
      System.arraycopy(b, off, a, n, len); n += len
    }
    def bytes(field: Int, b: Array[Byte]): Unit = bytes(field, b, 0, b.length)
    def msg(field: Int, m: Buf): Unit = bytes(field, m.a, 0, m.n)
    def str(field: Int, s: String): Unit = bytes(field, s.getBytes("UTF-8"))
    def int(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
    def result: Array[Byte] = java.util.Arrays.copyOf(a, n)
  }

  /** Packed field from an accumulated Buf of varints. */
  private def packed(out: Buf, field: Int, body: Buf): Unit =
    if (body.n > 0) out.msg(field, body)

  /** File framing: 4-byte big-endian BlobHeader length, BlobHeader, Blob. */
  private def frame(kind: String, blob: Array[Byte]): Array[Byte] = {
    val h = new Buf(32)
    h.str(1, kind)
    h.int(3, blob.length.toLong)
    val out = java.nio.ByteBuffer.allocate(4 + h.n + blob.length)
    out.putInt(h.n).put(h.result).put(blob)
    out.array()
  }

  private def zlibBlob(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(6)
    d.setInput(raw); d.finish()
    val chunk = new Array[Byte](1 << 16)
    val zb = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    while (!d.finished()) { val k = d.deflate(chunk); zb.write(chunk, 0, k) }
    d.end()
    val z = new Buf(zb.size + 16)
    z.int(2, raw.length.toLong)
    z.bytes(3, zb.toByteArray)
    z.result
  }

  private def header: Array[Byte] = {
    val h = new Buf
    h.str(4, "OsmSchema-V0.6")
    h.str(4, "DenseNodes")
    h.str(16, "perfbench-planetgen")
    h.result
  }

  // ---- content ---------------------------------------------------------

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(r: java.util.SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
  private val keyZipf = new Zipf(keys.length, 1.1)
  private val valueZipf = new Zipf(400, 1.2)
  private val highwayZipf = new Zipf(highways.length, 1.0)
  private val userZipf = new Zipf(Users, 1.2)
  private val T0 = 1199145600L // 2008-01-01
  private val T1 = 1735689600L // 2025-01-01

  private def userName(u: Int): String = s"mapper_${u}_${Integer.toString(u * 7919, 36)}"

  /** One edit: elements of a run share its user, changeset and time. */
  private final class Edit(r: java.util.SplittableRandom) {
    val user: Int = userZipf.draw(r)
    val seconds: Long = T0 + r.nextLong(T1 - T0)
    val changeset: Long = (seconds - T0) / 9 + r.nextInt(1000)
    val version: Int = 1 + (if (r.nextInt(3) == 0) r.nextInt(9) else 0)
    var left: Int = 1 + r.nextInt(60)
  }

  private def value(key: String, r: java.util.SplittableRandom): String = key match {
    case "highway" => highways(highwayZipf.draw(r))
    case "building" => if (r.nextInt(10) < 8) "yes" else s"b${valueZipf.draw(r)}"
    case "name" | "addr:street" =>
      val n = 4 + r.nextInt(12)
      val sb = new StringBuilder
      for (_ <- 0 until n) sb += ('a' + r.nextInt(26)).toChar
      sb.result()
    case "addr:housenumber" => (1 + r.nextInt(300)).toString
    case _ => s"v${valueZipf.draw(r)}"
  }

  /** Block b's PrimitiveBlock bytes; folds its elements into `t`. */
  private def block(l: Layout, b: Int, t: Truth): Array[Byte] = {
    val r = new java.util.SplittableRandom(mix(l.seed * 1000003L + b))
    val strings = new mutable.LinkedHashMap[String, Int]
    strings("") = 0
    def sid(s: String): Int = strings.getOrElseUpdate(s, strings.size)
    var edit = new Edit(r)
    def nextEdit(): Edit = { edit.left -= 1; if (edit.left <= 0) edit = new Edit(r); edit }
    def info(e: Edit, ti: Int): Unit = {
      t.versions(ti) += e.version; t.changesets(ti) += e.changeset
      t.uids(ti) += e.user + 1; t.seconds(ti) += e.seconds
      t.userChars(ti) += userName(e.user).length
    }
    def tagsFor(n: Int, ti: Int, forceHighway: Boolean): Seq[(String, String)] = {
      val kv = mutable.LinkedHashMap.empty[String, String]
      if (forceHighway) kv("highway") = value("highway", r)
      while (kv.size < n) { val k = keys(keyZipf.draw(r)); if (!kv.contains(k)) kv(k) = value(k, r) }
      kv.foreach { case (k, v) =>
        t.tags(ti) += 1; t.tagChars(ti) += k.length + v.length; t.keyHist(k) += 1
      }
      kv.toSeq
    }
    val group = new Buf(1 << 16)
    if (b < l.nodeBlocks) {
      val first = b.toLong * BlockSize
      val n = math.min(BlockSize.toLong, l.nodes - first).toInt
      val ids, lats, lons, kvs = new Buf(n * 4)
      val vers, tss, css, uids, usids = new Buf(n * 2)
      var pid, plat, plon, pts, pcs = 0L
      var puid, pusid = 0L
      var lat = (r.nextInt(1600000000) - 800000000).toLong
      var lon = (r.nextLong(3600000000L) - 1800000000L)
      for (k <- 0 until n) {
        val i = first + k
        val id = nodeId(i)
        lat = math.max(-900000000L, math.min(900000000L, lat + r.nextInt(4001) - 2000))
        lon = math.max(-1800000000L, math.min(1800000000L, lon + r.nextInt(4001) - 2000))
        ids.sint(id - pid); pid = id
        lats.sint(lat - plat); plat = lat
        lons.sint(lon - plon); plon = lon
        val e = nextEdit()
        vers.varint(e.version.toLong)
        tss.sint(e.seconds - pts); pts = e.seconds
        css.sint(e.changeset - pcs); pcs = e.changeset
        uids.sint(e.user + 1 - puid); puid = e.user + 1
        val us = sid(userName(e.user)).toLong
        usids.sint(us - pusid); pusid = us
        if (r.nextInt(100) < 8)
          tagsFor(1 + r.nextInt(3), 0, forceHighway = false).foreach { case (kk, v) =>
            kvs.varint(sid(kk).toLong); kvs.varint(sid(v).toLong)
          }
        kvs.varint(0)
        t.count(0) += 1; t.ids(0) += id; t.latUnits(0) += lat; t.lonUnits(0) += lon
        info(e, 0)
        val dLat = lat * 1e-7; val dLon = lon * 1e-7
        if (dLat > BboxLat._1 && dLat < BboxLat._2 && dLon > BboxLon._1 && dLon < BboxLon._2)
          t.bboxNodes += 1
      }
      val di = new Buf(n * 8)
      packed(di, 1, vers); packed(di, 2, tss); packed(di, 3, css)
      packed(di, 4, uids); packed(di, 5, usids)
      val dense = new Buf(n * 16)
      packed(dense, 1, ids); dense.msg(5, di); packed(dense, 8, lats); packed(dense, 9, lons)
      packed(dense, 10, kvs)
      group.msg(2, dense)
    } else if (b < l.nodeBlocks + l.wayBlocks) {
      val first = (b - l.nodeBlocks).toLong * BlockSize
      val n = math.min(BlockSize.toLong, l.ways - first).toInt
      for (k <- 0 until n) {
        val j = first + k
        val id = wayId(j)
        val w = new Buf(128)
        w.int(1, id)
        val highway = r.nextInt(100) < 45
        val kv = tagsFor(1 + r.nextInt(4), 1, forceHighway = highway)
        val keysB, valsB = new Buf(16)
        kv.foreach { case (kk, v) => keysB.varint(sid(kk).toLong); valsB.varint(sid(v).toLong) }
        packed(w, 2, keysB); packed(w, 3, valsB)
        val e = nextEdit()
        val inf = new Buf(24)
        inf.int(1, e.version.toLong); inf.int(2, e.seconds); inf.int(3, e.changeset)
        inf.int(4, (e.user + 1).toLong); inf.int(5, sid(userName(e.user)).toLong)
        w.msg(4, inf)
        info(e, 1)
        val nRefs =
          if (r.nextInt(100) < 92) 2 + r.nextInt(14) else 16 + r.nextInt(185)
        // ways reference nodes created around the same time: ids near the
        // way's own position in the id space, as in a real planet
        val anchor = j * l.nodes / math.max(l.ways, 1L) + r.nextLong(4L * BlockSize) - 2L * BlockSize
        var node = math.max(0L, math.min(anchor, l.nodes - nRefs - 1L))
        val refs = new Buf(nRefs * 2)
        var prev = 0L
        var refSum = 0L
        val refIds = new Array[Long](nRefs)
        for (q <- 0 until nRefs) {
          val ref = nodeId(math.min(node, l.nodes - 1))
          refs.sint(ref - prev); prev = ref
          refSum += ref; refIds(q) = ref
          node += 1 + (if (r.nextInt(8) == 0) r.nextInt(40) else 0)
        }
        w.msg(8, refs)
        group.msg(3, w)
        t.count(1) += 1; t.ids(1) += id; t.nds(1) += nRefs; t.ndRefs(1) += refSum
        val hw = kv.collectFirst { case ("highway", v) => v }
        if (hw.contains(HighwayValue)) {
          t.highwayWays += 1; t.highwayIds += id; t.highwayNds += nRefs
        }
        if (hw.contains(DepsValue) && id < depsMaxWayId(l)) {
          t.depWays += 1; t.depWayIds += id; refIds.foreach(t.depRefs += _)
        }
      }
    } else {
      val first = (b - l.nodeBlocks - l.wayBlocks).toLong * BlockSize
      val n = math.min(BlockSize.toLong, l.relations - first).toInt
      for (k <- 0 until n) {
        val q = first + k
        val id = relId(q)
        val rel = new Buf(256)
        rel.int(1, id)
        val kv = Seq("type" -> relTypes(r.nextInt(relTypes.length))) ++
          tagsFor(1 + r.nextInt(3), 2, forceHighway = false).filterNot(_._1 == "type")
        t.tags(2) += 1; t.tagChars(2) += 4 + kv.head._2.length; t.keyHist("type") += 1
        val keysB, valsB = new Buf(16)
        kv.foreach { case (kk, v) => keysB.varint(sid(kk).toLong); valsB.varint(sid(v).toLong) }
        packed(rel, 2, keysB); packed(rel, 3, valsB)
        val e = nextEdit()
        val inf = new Buf(24)
        inf.int(1, e.version.toLong); inf.int(2, e.seconds); inf.int(3, e.changeset)
        inf.int(4, (e.user + 1).toLong); inf.int(5, sid(userName(e.user)).toLong)
        rel.msg(4, inf)
        info(e, 2)
        val nMem = 2 + r.nextInt(30)
        val rolesB, memB, typesB = new Buf(nMem * 2)
        var prev = 0L
        for (_ <- 0 until nMem) {
          val u = r.nextInt(100)
          val (mt, ref) =
            if (u < 30) (0, nodeId(r.nextLong(l.nodes)))
            else if (u < 95 || q == 0) (1, wayId(r.nextLong(math.max(1L, l.ways))))
            else (2, relId(r.nextLong(q)))
          rolesB.varint(sid(roles(r.nextInt(roles.length))).toLong)
          memB.sint(ref - prev); prev = ref
          typesB.varint(mt.toLong)
          t.memberRefs(2) += ref
        }
        packed(rel, 8, rolesB); packed(rel, 9, memB); packed(rel, 10, typesB)
        group.msg(4, rel)
        t.count(2) += 1; t.ids(2) += id; t.members(2) += nMem
      }
    }
    val st = new Buf(strings.size * 12)
    strings.keys.foreach(s => st.str(1, s))
    val blk = new Buf(group.n + st.n + 16)
    blk.msg(1, st)
    blk.msg(2, group)
    blk.result
  }
}

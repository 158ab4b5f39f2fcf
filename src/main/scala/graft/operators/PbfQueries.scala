package graft.operators

import graft.sources.pbf.{IndexedPbf, OsmPbf, PbfConfig, PbfWriter}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PBF-native query surface entries (SURVEY.md §2 F-operators over the raw
  * PBF, no transcode): the reference's `read_ways_and_deps` two-pass pruned
  * semi-join (osmpbf/src/indexed.rs:264-330) plus a LocationsOnWays
  * consumer query.
  *
  * Inputs are deterministic synthesized PBFs (the sf tables hold no PBF
  * data). Both entries are FULL oracle rows: each query transcodes its own
  * input PBF to a deterministic parquet path once per JVM, and the DuckDB
  * oracle replays the same semantics over that parquet via `read_parquet`
  * — INDEPENDENT QUERY SEMANTICS over the self-transcoded twin. (The twin
  * comes from this engine's own transcode, so the gate proves PBF-native
  * execution ≡ transcode-then-query; DECODE ground truth is carried
  * separately by the golden-fixture specs over the reference's own PBFs —
  * PbfRoundTripSpec/IndexedPbfSpec.)
  */
object PbfQueries {

  /** Deterministic parquet twins for the DuckDB oracle, transcoded once
    * to CONTENT-FINGERPRINTED paths (the oracle SQL embeds them). The
    * fingerprint covers the input PBF bytes and the transcode output
    * schema, so a stale output from an OLDER code version (different
    * schema or different synthesized input) lands at a different path and
    * can never silently feed the oracle; a completed twin is marked with
    * a sentinel file and never rewritten, so the gate's later DuckDB read
    * can't race a re-transcode's delete+rename commit window. */
  /** Per-user root under /tmp. The user-suffixed NAME alone is not a
    * security boundary (/tmp is world-writable and the fingerprint is
    * computable from public fixture bytes + schema), so
    * [[ensureTranscoded]] additionally VERIFIES OWNERSHIP of the root
    * before trusting any completion sentinel inside it — a squatter's
    * pre-created root fails loudly instead of silently feeding the
    * DuckDB gate attacker-controlled parquet. */
  val OracleRoot: String =
    s"/tmp/graft_oracle-${System.getProperty("user.name", "anon")}"

  private def requireOwnedRoot(): Unit = {
    val p = java.nio.file.Paths.get(OracleRoot)
    java.nio.file.Files.createDirectories(p)
    val owner = java.nio.file.Files.getOwner(p).getName
    val me = System.getProperty("user.name", "anon")
    require(owner == me,
      s"$OracleRoot is owned by '$owner', not '$me' — refusing to trust a " +
        "pre-existing oracle root another user could have planted")
  }

  /** md5(input pbf bytes ++ output schema), 12 hex chars — the twin-path
    * fingerprint. Memoized per path: every gate/bench invocation calls
    * through here, and re-reading + re-hashing the whole PBF per call
    * (under the object lock) is pure repeated I/O — the input fixtures
    * are write-once temp files. */
  private val fpCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def fingerprint(pbf: String): String =
    fpCache.computeIfAbsent(pbf, p => {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      md.update(graft.sources.pbf.OsmSchema.schema.catalogString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.digest().map("%02x".format(_)).mkString.take(12)
    })

  private val CompleteMarker = "_GRAFT_ORACLE_OK"
  private val dumped = scala.collection.mutable.Set[String]()
  private def ensureTranscoded(spark: SparkSession, key: String, pbf: String): String =
    synchronized {
      val out = oraclePath(key, pbf)
      if (!dumped.contains(out)) {
        // `synchronized` serializes threads in THIS JVM; the OS file lock
        // serializes other processes (e.g. a dev Verify run while a
        // Bench warmup runs p01). Under the lock: if a prior run already
        // completed this fingerprint (sentinel present), SKIP — the
        // content is fully determined by the path, so rewriting could
        // only race a concurrent gate read through the commit's
        // delete+rename window. Otherwise transcode and mark complete
        // before releasing the lock.
        requireOwnedRoot() // see OracleRoot: the name alone is squattable
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(OracleRoot, s".$key.lock"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val lock = ch.lock()
          try {
            val marker = java.nio.file.Paths.get(out, CompleteMarker)
            if (!java.nio.file.Files.exists(marker)) {
              OsmPbf.transcode(spark, PbfConfig(input = pbf, output = out),
                onProgress = _ => ())
              java.nio.file.Files.createFile(marker)
            }
          } finally lock.release()
        } finally ch.close()
        dumped += out
      }
      out
    }

  private def oraclePath(key: String, pbf: String): String =
    s"$OracleRoot/$key-${fingerprint(pbf)}"
  private lazy val p01Out = oraclePath("p01", pbfPath)
  private lazy val p02Out = oraclePath("p02", locPbfPath)

  /** 4 disjoint node blocks + 1 way block; only the first node block is
    * referenced by the matching way, so the indexed path must prune 3 of 4
    * node blobs. */
  private lazy val pbfPath: String = {
    import PbfWriter._
    val dir = java.nio.file.Files.createTempDirectory("graft-pbf-q").toString
    val path = s"$dir/ways_deps.osm.pbf"
    def nodeBlock(base: Long): Array[Byte] = primitiveBlock(
      (0 until 500).map(i => DenseNode(base + i, 52000000000L + i * 1000,
        11000000000L + i * 700, Nil, 1, 0L, 1L, 1, "u")))
    val ways = primitiveBlock(Nil,
      Seq(WayData(900001L, Seq(1005L, 1006L, 1007L), Seq("highway" -> "primary")),
          WayData(900002L, Seq(7007L), Seq("note" -> "unmatched"))))
    writeFile(path, Seq(nodeBlock(1000), nodeBlock(2000), nodeBlock(3000),
      nodeBlock(4000), ways))
    path
  }

  def p01_ways_and_deps(spark: SparkSession, sfDir: String): DataFrame = {
    ensureTranscoded(spark, "p01", pbfPath)
    IndexedPbf.readWaysAndDeps(spark, pbfPath,
        col("tags").getItem("highway") === "primary")
      .select("id", "type")
  }

  /** LocationsOnWays consumer input: node blocks plus ways that carry the
    * optional per-ref lat/lon arrays (values = the referenced nodes' own
    * nanodegree coordinates, the feature's contract). One single-ref way
    * pins the zero-segment edge. All coordinates are multiples of the
    * block granularity (100), so decode is exact in both paths. */
  private lazy val locPbfPath: String = {
    import PbfWriter._
    val dir = java.nio.file.Files.createTempDirectory("graft-pbf-loc").toString
    val path = s"$dir/loc_ways.osm.pbf"
    def latOf(id: Long) = 52000000000L + id * 1000
    def lonOf(id: Long) = 11000000000L + id * 700
    def nodeBlock(base: Long): Array[Byte] = primitiveBlock(
      (0 until 300).map(i => DenseNode(base + i, latOf(base + i),
        lonOf(base + i), Nil, 1, 0L, 1L, 1, "u")))
    val ways = (0 until 24).map { w =>
      val base = if (w % 2 == 0) 1000L else 2000L
      val refs = (0 until (if (w == 23) 1 else 3 + w % 9))
        .map(i => base + (w * 7 + i * 3) % 300)
      WayData(800000L + w, refs, Seq("highway" -> "service"),
        locations = Some(refs.map(r => (latOf(r), lonOf(r)))))
    }
    writeFile(path, Seq(nodeBlock(1000), nodeBlock(2000),
      primitiveBlock(Nil, ways)))
    path
  }

  /** p02: way geometry lengths computed DIRECTLY from the LocationsOnWays
    * `node_locations` column — the feature's point: no nodes⋈refs join,
    * no shuffle, a single narrow scan→project stage (at planet scale the
    * join-based construction shuffles the whole node corpus; this reads
    * one column of the ways). Lengths are integer-nanodegree Manhattan
    * sums, so the result is partitioning- and float-order-invariant.
    *
    * The DuckDB oracle computes the SAME lengths the expensive way — by
    * joining each way's `nds` refs to the transcoded node coordinates —
    * proving decode-from-way ≡ join-to-nodes on every row, hash-checked.
    */
  def p02_way_lengths(spark: SparkSession, sfDir: String): DataFrame = {
    ensureTranscoded(spark, "p02", locPbfPath)
    spark.read.format("osmpbf").option("wayLocations", "true").load(locPbfPath)
      .filter(col("type") === "way")
      .select(col("id"),
        expr("""aggregate(
            zip_with(slice(node_locations, 1, size(node_locations) - 1),
                     slice(node_locations, 2, size(node_locations) - 1),
              (a, b) -> abs(cast(round(b.lat * 1e9) as bigint) - cast(round(a.lat * 1e9) as bigint))
                      + abs(cast(round(b.lon * 1e9) as bigint) - cast(round(a.lon * 1e9) as bigint))),
            cast(0 as bigint), (acc, x) -> acc + x)""").as("length_nano"),
        size(col("node_locations")).as("n_points"))
      .orderBy("id")
  }

  /** p03: bbox scan + Z-order (Morton) key derivation over the nodes —
    * the clustering key behind [[graft.functions.ZOrder.zorderWrite]].
    * The DuckDB oracle recomputes the ENTIRE key — quantization double
    * math and the five mask-and-shift spread steps — in SQL over the
    * transcoded twin, so the bit-interleave semantics are hash-checked
    * against an independent engine, not just a Scala twin. The layout
    * payoff (row-group pruning under a bbox filter, z-ordered vs
    * spatially shuffled) is measured in `ZOrderSpec` from parquet footer
    * statistics. */
  def p03_zorder_bbox(spark: SparkSession, sfDir: String): DataFrame = {
    ensureTranscoded(spark, "p01", pbfPath)
    spark.read.format("osmpbf").load(pbfPath)
      .filter(col("type") === "node" &&
        col("lat").between(52.0, 52.0002) && col("lon").between(11.0, 11.00014))
      .select(col("id"),
        graft.functions.ZOrder.mortonKey(col("lat"), col("lon")).as("zkey"))
      .orderBy("id")
  }

  /** p04 input: a deterministic LCG scatter of 20k nodes over lat [52,53)
    * × lon [11,13) — a genuinely 2-D point cloud (p01/p02's corpora lie on
    * a thin diagonal, useless for exercising a spatial join). Coordinates
    * are multiples of the block granularity (100 ne), so decode is exact
    * in both the PBF-native and transcoded paths. */
  private lazy val p04PbfPath: String = {
    import PbfWriter._
    val dir = java.nio.file.Files.createTempDirectory("graft-pbf-scatter").toString
    val path = s"$dir/scatter.osm.pbf"
    var seed = 0x9E3779B97F4A7C15L
    def next(): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      seed >>> 17
    }
    val nodes = (0 until 20000).map { i =>
      DenseNode(1L + i, 52000000000L + (next() % 10000000L) * 100L,
        11000000000L + (next() % 20000000L) * 100L, Nil, 1, 0L, 1L, 1, "u")
    }
    writeFile(path, nodes.grouped(1000).map(g => primitiveBlock(g)).toSeq)
    path
  }
  private lazy val p04Out = oraclePath("p04", p04PbfPath)

  /** p04 query boxes — SINGLE SOURCE OF TRUTH as decimal strings: parsed
    * with `.toDouble` for the Spark side and interpolated verbatim into
    * the oracle SQL (both `strtod` and DuckDB's decimal→double cast
    * correctly round the same rational, so the engines compare against
    * bit-identical bounds). Sizes span near-whole-extent down to
    * ~50-cell slivers so the quadtree covers mix shallow and deep cells. */
  private val p04Boxes: Seq[(Int, String, String, String, String)] = Seq(
    (1, "52.05", "52.95", "11.1", "12.9"),
    (2, "52.2", "52.4", "11.5", "11.9"),
    (3, "52.72", "52.74", "12.3", "12.34"),
    (4, "52.5", "52.5005", "12.0", "12.0008"),
    (5, "52.9995", "53.0", "12.9995", "13.0"),
    (6, "52.0", "53.0", "12.985", "13.0"))

  /** p04: many-boxes × many-points spatial CONTAINMENT JOIN via the
    * z-order cell decomposition ([[graft.functions.ZOrder.bboxCells]]) —
    * the join-side payoff of the Morton clustering (p03 is the scan-side).
    *
    * Scale shape: each box decomposes (driver-side, boxes are
    * dimension-sized) into ≤256 DISJOINT quadtree cells; cell membership
    * is pure (depth, prefix) EQUALITY, so the plan is: pre-filter points
    * by the union-of-boxes z-range predicate (the scan-pruning half) →
    * explode points × the distinct cover depths (a log-bounded handful,
    * NOT per-box) → one hash equi-join against the broadcast cell table →
    * exact lat/lon post-filter. No per-box OR-chain, no
    * BroadcastNestedLoop, no all-pairs: at 100 TB the shuffle-free
    * broadcast join touches ~(matching points × depths) rows. Disjoint
    * cells ⇒ each (point, box) matches at most once — no dedup needed.
    * The DuckDB oracle brute-forces the containment join over the
    * transcoded twin, so the whole decomposition (quantize/spread bit
    * math + cover correctness + join plumbing) is hash-checked. */
  def p04_spatial_join(spark: SparkSession, sfDir: String): DataFrame = {
    ensureTranscoded(spark, "p04", p04PbfPath)
    import graft.functions.ZOrder
    val bits = ZOrder.DefaultBits
    val boxes = p04Boxes.map { case (bid, la0, la1, lo0, lo1) =>
      (bid, la0.toDouble, la1.toDouble, lo0.toDouble, lo1.toDouble)
    }
    val cells = boxes.flatMap { case (bid, la0, la1, lo0, lo1) =>
      ZOrder.bboxCells(la0, la1, lo0, lo1, bits)
        .map { case (d, p) => (bid, d, p, la0, la1, lo0, lo1) }
    }
    val depths = cells.map(_._2).distinct.sorted
    // scan-side pruning, two layers: (1) the boxes' lat/lon ENVELOPE — a
    // 4-comparison filter that reaches the scan (pushdown-able); (2) the
    // union of the per-box z-range covers, evaluated via the codegen'd
    // [[graft.functions.ZRangeContains]] — the morton cascade computed
    // ONCE per row and binary-searched against the constant bounds, so
    // rows in the envelope's dead corners (between the boxes) are dropped
    // before the ×depths explode. (Round 6 emitted the ranges as an
    // OR-of-BETWEENs over the derived key; pushdown substitution inlined
    // the cascade into every comparison and blew janino — the custom
    // expression is the fix, keeping one cascade copy at any range count.)
    val (latLo, latHi) = (boxes.map(_._2).min, boxes.map(_._3).max)
    val (lonLo, lonHi) = (boxes.map(_._4).min, boxes.map(_._5).max)
    val zranges = ZOrder.unionRanges(boxes.flatMap { case (_, la0, la1, lo0, lo1) =>
      ZOrder.bboxRanges(la0, la1, lo0, lo1, bits)
    })
    // the z-range pre-filter only pays when it would DROP a meaningful
    // fraction of envelope survivors; with one dominant box (this query's
    // box 1 covers ~82% of the envelope) it keeps ~99.7% of rows
    // (measured, ZOrderSpec) and is pure per-row overhead. Gate on the
    // driver-side estimate of what the filter can actually reject —
    // the total CELL COUNT of the union-of-ranges, Σ (hi − lo + 1),
    // against the envelope's cells. NOT the Σ-box-areas ratio the
    // round-8 gate used: `bboxRanges` caps each box's cover at 64
    // ranges, and for mid-size unaligned boxes the capped cover
    // OVER-COVERS so much that a 5%-area cover still keeps ~98% of
    // envelope rows — measured in the round-9 crossover probe
    // (COVERAGE.md round 9: grid covers at 5/20/35% area all kept 98-100%
    // and the filter never beat OFF beyond noise; speedup_on 0.74-1.29x
    // across the whole mid-band). The range-cell ratio tracks realized
    // selectivity by construction — it counts exactly the keys the
    // filter passes — and the spec pins it against measured kept
    // fractions on tight, capped, and dominant covers alike.
    val envCells = ZOrder.envelopeCells(latLo, latHi, lonLo, lonHi, bits)
    val rangeCells = zranges.map(r => r._2 - r._1 + 1).sum
    val useZFilter = rangeCells < envCells / 2
    val cellsDf = spark.createDataFrame(cells)
      .toDF("box_id", "depth", "prefix",
        "lat_min", "lat_max", "lon_min", "lon_max")
    val envPts = spark.read.format("osmpbf").load(p04PbfPath)
      .filter(col("type") === "node" &&
        col("lat").between(latLo, latHi) && col("lon").between(lonLo, lonHi))
      .select(col("id"), col("lat"), col("lon"),
        ZOrder.mortonKey(col("lat"), col("lon"), bits).as("zkey"))
    val pts = if (useZFilter)
      envPts.filter(graft.functions.ZRangeContains.zInRanges(spark, col("zkey"), zranges))
    else envPts
    pts
      .withColumn("depth", explode(array(depths.map(lit(_)): _*)))
      .withColumn("prefix", expr(s"shiftrightunsigned(zkey, 2 * ($bits - depth))"))
      .join(broadcast(cellsDf), Seq("depth", "prefix"))
      .filter(col("lat") >= col("lat_min") && col("lat") <= col("lat_max") &&
        col("lon") >= col("lon_min") && col("lon") <= col("lon_max"))
      .groupBy(col("box_id"))
      .agg(count(lit(1)).as("n_pts"), sum(col("id")).as("sum_id"))
      .orderBy(col("box_id"))
  }

  /** p05: cell-blocked SPATIAL kNN over the p04 scatter cloud — for the
    * 10 lowest-id points, the 5 nearest neighbors by EXACT integer
    * nano-degree squared distance among candidates in the query's 3×3
    * cell neighborhood at 2^26-nano granularity (~0.067°; ~44 points per
    * cell on this cloud). Declared approximation at cell reach: a true
    * neighbor farther than one cell away is out of scope — the s02
    * bucket-limited ANN trade transplanted to coordinate space (ring
    * expansion is the exact-path extension; 3×3 is the one-probe form).
    *
    * Scale shape: the query set (with its 9 probe cells) broadcasts; the
    * point cloud is scanned once and joined on the cell key, so work is
    * Σ|probed cell|, never corpus². All distance math is BIGINT
    * (Δ ≤ 2·10⁹ nano → squares ≤ 4·10¹⁸, sum < 2⁶³): no floating point
    * anywhere, so the DuckDB twin is bit-exact by construction — no
    * rounding discipline needed at all.
    */
  def p05_spatial_knn(spark: SparkSession, sfDir: String): DataFrame = {
    ensureTranscoded(spark, "p04", p04PbfPath)
    ringKnn(p04Points(spark), col("id") <= 10, k = 5, fixedRadius = Some(1))
  }

  /** p05b: the RING-EXPANSION exact path p05's scaladoc declares — the
    * same cell-blocked probe, but a query whose 3×3 neighborhood is not
    * provably exact (fewer than k candidates, or a kth distance that an
    * unseen point beyond the searched boundary could still beat) expands
    * to 5×5, 7×7, … until the kth distance is strictly inside the
    * searched region's margin. The result is EXACT kNN — so the oracle
    * is the brute-force all-pairs ranking, the strongest possible twin:
    * the blocking must reproduce brute force, not its own approximation.
    *
    * Scale shape: identical to p05 per round (broadcast probe set, one
    * equi-join on the cell key, Σ|probed cell| work); the expansion loop
    * is a driver-side scalar convergence check (count of unsettled
    * queries — the d07/g02 pattern) and converges in 1 round on this
    * cloud (~44 points/cell ≫ k), with the corner-case tail paying one
    * extra round each. All distance/margin math stays BIGINT.
    */
  def p05b_spatial_knn_ring(spark: SparkSession, sfDir: String): DataFrame = {
    ensureTranscoded(spark, "p04", p04PbfPath)
    ringKnn(p04Points(spark), col("id") <= 10, k = 5)
  }

  private def p04Points(spark: SparkSession): DataFrame =
    spark.read.format("osmpbf").load(p04PbfPath)
      .filter(col("type") === "node")
      .select(col("id"),
        round(col("lat") * 1e9).cast("long").as("latn"),
        round(col("lon") * 1e9).cast("long").as("lonn"))

  /** Cell-blocked integer kNN over (id, latn, lonn) points at 2^26-nano
    * cells. `fixedRadius = Some(r)` is the one-probe approximate form
    * (p05's declared trade); `None` ring-expands until exact: a query is
    * SETTLED once it holds ≥ k candidates whose kth squared distance is
    * strictly below the squared margin to the searched boundary — every
    * unseen point differs by ≥ margin in lat or lon, so nothing outside
    * can displace (or tie-break into) the top k. All queries re-probe
    * together at r+1 (the probe set is broadcast-tiny by contract);
    * termination is guaranteed at the cloud's own cell span. Exposed for
    * [[graft.operators]] specs to drive with crafted clouds. */
  private[operators] def ringKnn(ptsRaw: DataFrame, queryPred: Column, k: Int,
      fixedRadius: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = ptsRaw
      .withColumn("cla", shiftright(col("latn"), 26))
      .withColumn("clo", shiftright(col("lonn"), 26))
    val q0 = pts.filter(queryPred)
      .select(col("id").as("qid"), col("latn").as("qla"), col("lonn").as("qlo"),
        col("cla").as("qcla"), col("clo").as("qclo"))
    def rankedAt(r: Int): DataFrame = {
      // BIGINT-overflow guard, O(1): a candidate lies within ±r cells of
      // its query, so per-axis |delta| < (r+1)·2^26 nanodegrees; d2 =
      // dlat² + dlon² stays under 2^63 only while that bound is ≤
      // ⌊√(2^62)⌋ ≈ 3.037e9 (r ≤ 44 — beyond continent-scale at this
      // cell size). Past it the squares would wrap SILENTLY and the
      // ranking would return garbage neighbors; fail loudly instead.
      require((r + 1L) << 26 <= 3037000499L,
        s"ring radius $r spans > ±2^31.5 nanodegrees per axis — " +
          "squared-distance BIGINT math would overflow; use a coarser cell size")
      val probes = q0
        .withColumn("da", explode(expr(s"sequence(${-r}L, ${r}L)")))
        .withColumn("db", explode(expr(s"sequence(${-r}L, ${r}L)")))
        .select(col("qid"), col("qla"), col("qlo"),
          (col("qcla") + col("da")).as("ca"), (col("qclo") + col("db")).as("co"))
      val cand = pts.join(broadcast(probes),
          col("cla") === col("ca") && col("clo") === col("co") &&
            col("id") =!= col("qid"))
        .withColumn("d2",
          (col("latn") - col("qla")) * (col("latn") - col("qla")) +
            (col("lonn") - col("qlo")) * (col("lonn") - col("qlo")))
      val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("id"))
      cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
    }
    def shape(ranked: DataFrame): DataFrame = ranked
      .select(col("qid"), col("rk"), col("id").as("neighbor"), col("d2"))
      .orderBy(col("qid"), col("rk"))
    fixedRadius match {
      case Some(r) => shape(rankedAt(r))
      case None =>
        // cover-all bound: a region of this radius spans the whole cloud
        // from any in-cloud query cell
        val b = pts.agg(
          (max(col("cla")) - min(col("cla"))).as("sa"),
          (max(col("clo")) - min(col("clo"))).as("so")).head()
        val maxR = math.max(b.getLong(0), b.getLong(1)).toInt + 1
        var r = 1
        // superseded rounds are released as soon as the next round's stage
        // materializes (stage() is eager and each round recomputes from
        // pts/q0, never from the previous iterate) — the PageRank/CC
        // discipline; without it every expansion round pins a stale
        // localCheckpoint in executor storage for the session lifetime
        var prevStage: Option[DataFrame] = None
        while (r < maxR) {
          // staged: the round's ranking feeds the settle count AND (on
          // the settled round) the returned shape — query-set-sized after
          // the top-k filter, so the cut is cheap, unlike the corpus-
          // sized frames the IVF paths deliberately leave un-staged
          val ranked = graft.Checkpoints.stage(rankedAt(r))
          prevStage.foreach(graft.CacheOps.unpersistLocalCheckpoint)
          prevStage = Some(ranked)
          // margin to the searched boundary: region is
          // [(qc−r)·2^26, (qc+r+1)·2^26) on each axis, outside points
          // differ by ≥ this in lat or lon; strict compare guards the
          // equal-distance smaller-id tiebreak
          val m = least(
            col("qla") - shiftleft(col("qcla") - r, 26) + 1,
            shiftleft(col("qcla") + r + 1, 26) - col("qla"),
            col("qlo") - shiftleft(col("qclo") - r, 26) + 1,
            shiftleft(col("qclo") + r + 1, 26) - col("qlo"))
          val stats = ranked.groupBy(col("qid"))
            .agg(count(lit(1)).as("cnt"), max(col("d2")).as("kd2"))
          val unsettled = q0.join(stats, Seq("qid"), "left")
            .filter(coalesce(col("cnt"), lit(0L)) < k ||
              col("kd2") >= m * m).count()
          // the settled round's frame stays persisted — it backs the
          // returned shape; only superseded rounds were ballast
          if (unsettled == 0) return shape(ranked)
          r += 1
        }
        // loop exhausted: the cover-all direct run recomputes from source,
        // so the last staged round is superseded too
        prevStage.foreach(graft.CacheOps.unpersistLocalCheckpoint)
        shape(rankedAt(maxR))
    }
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_ways_and_deps" -> (p01_ways_and_deps(_, _)),
    "p02_way_lengths" -> (p02_way_lengths(_, _)),
    "p03_zorder_bbox" -> (p03_zorder_bbox(_, _)),
    "p04_spatial_join" -> (p04_spatial_join(_, _)),
    "p05_spatial_knn" -> (p05_spatial_knn(_, _)),
    "p05b_spatial_knn_ring" -> (p05b_spatial_knn_ring(_, _)))

  /** DuckDB twins over the transcoded parquet at the fingerprinted
    * [[OracleRoot]] subpaths (dumped by the queries themselves before
    * they return; the paths resolve at dump time, so the SQL always
    * points at the twin THIS code version produced). */
  lazy val oracles: Map[String, String] = Map(
    // p05: same nano recovery as p02, same 2^26 cells, 3×3 probe via two
    // unnested offset tables — all-BIGINT, so equality is bit-exact.
    "p05_spatial_knn" ->
      s"""WITH n AS (
         |  SELECT id, CAST(round(lat * 1e9) AS BIGINT) AS latn,
         |         CAST(round(lon * 1e9) AS BIGINT) AS lonn
         |  FROM read_parquet('$p04Out/type=node/*.parquet')),
         |p AS (
         |  SELECT id, latn, lonn, latn >> 26 AS cla, lonn >> 26 AS clo
         |  FROM n),
         |q AS (
         |  SELECT id AS qid, latn AS qla, lonn AS qlo,
         |         cla + a.da AS ca, clo + b.db AS co
         |  FROM p
         |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS da) a
         |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS db) b
         |  WHERE id <= 10),
         |cand AS (
         |  SELECT q.qid, p.id,
         |    (p.latn - q.qla) * (p.latn - q.qla)
         |    + (p.lonn - q.qlo) * (p.lonn - q.qlo) AS d2
         |  FROM p JOIN q ON p.cla = q.ca AND p.clo = q.co AND p.id != q.qid),
         |r AS (
         |  SELECT qid, id, d2,
         |    row_number() OVER (PARTITION BY qid ORDER BY d2, id) AS rk
         |  FROM cand)
         |SELECT qid, rk, id AS neighbor, d2 FROM r
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    // p05b: ring expansion claims EXACTNESS, so its oracle is the
    // BRUTE-FORCE all-pairs ranking — no cells, no probes: the blocking
    // must reproduce brute force bit-for-bit (all-BIGINT both sides).
    "p05b_spatial_knn_ring" ->
      s"""WITH n AS (
         |  SELECT id, CAST(round(lat * 1e9) AS BIGINT) AS latn,
         |         CAST(round(lon * 1e9) AS BIGINT) AS lonn
         |  FROM read_parquet('$p04Out/type=node/*.parquet')),
         |q AS (
         |  SELECT id AS qid, latn AS qla, lonn AS qlo FROM n WHERE id <= 10),
         |cand AS (
         |  SELECT q.qid, p.id,
         |    (p.latn - q.qla) * (p.latn - q.qla)
         |    + (p.lonn - q.qlo) * (p.lonn - q.qlo) AS d2
         |  FROM n p JOIN q ON p.id != q.qid),
         |r AS (
         |  SELECT qid, id, d2,
         |    row_number() OVER (PARTITION BY qid ORDER BY d2, id) AS rk
         |  FROM cand)
         |SELECT qid, rk, id AS neighbor, d2 FROM r
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    // ways matching the predicate + their dependent nodes (indexed.rs
    // semantics); map value extraction is m[k][1] in DuckDB
    "p01_ways_and_deps" ->
      s"""WITH t AS (
         |  SELECT * FROM read_parquet('$p01Out/type=*/*.parquet',
         |                             hive_partitioning = 1)
         |), w AS (
         |  SELECT * FROM t WHERE type = 'way' AND tags['highway'][1] = 'primary'
         |), r AS (
         |  SELECT DISTINCT unnest(nds).ref AS ref FROM w
         |)
         |SELECT id, CAST(type AS VARCHAR) AS type FROM w
         |UNION ALL
         |SELECT t.id, CAST(t.type AS VARCHAR) AS type
         |FROM t JOIN r ON t.id = r.ref WHERE t.type = 'node'""".stripMargin,
    // join-based way lengths: per-way consecutive ref pairs (positional
    // unnest of the two slices) joined to node coords, integer Manhattan
    "p02_way_lengths" ->
      s"""WITH w AS (
         |  SELECT id, nds FROM read_parquet('$p02Out/type=way/*.parquet')
         |), seg AS (
         |  SELECT id, unnest(nds[1:len(nds)-1]).ref AS a,
         |         unnest(nds[2:len(nds)]).ref AS b
         |  FROM w
         |), n AS (
         |  SELECT id AS nid, CAST(round(lat * 1e9) AS BIGINT) AS latn,
         |         CAST(round(lon * 1e9) AS BIGINT) AS lonn
         |  FROM read_parquet('$p02Out/type=node/*.parquet')
         |), d AS (
         |  SELECT seg.id, abs(nb.latn - na.latn) + abs(nb.lonn - na.lonn) AS m
         |  FROM seg JOIN n na ON seg.a = na.nid JOIN n nb ON seg.b = nb.nid
         |)
         |SELECT w.id, COALESCE(CAST(sum(d.m) AS BIGINT), 0) AS length_nano,
         |       CAST(len(w.nds) AS INTEGER) AS n_points
         |FROM w LEFT JOIN d ON w.id = d.id
         |GROUP BY w.id, len(w.nds)
         |ORDER BY w.id""".stripMargin,
    // Morton key, recomputed from scratch in SQL: identical quantization
    // arithmetic (same operations, same association order, so the IEEE
    // doubles — and therefore the floor cells — are bit-identical), then
    // the same five-step spread cascade on each axis. Masks are the
    // decimal forms of 0x0000FFFF0000FFFF, 0x00FF00FF00FF00FF,
    // 0x0F0F0F0F0F0F0F0F, 0x3333333333333333, 0x5555555555555555.
    "p03_zorder_bbox" ->
      s"""WITH n AS (
         |  SELECT id, lat, lon FROM read_parquet('$p01Out/type=node/*.parquet')
         |  WHERE lat BETWEEN 52.0 AND 52.0002 AND lon BETWEEN 11.0 AND 11.00014
         |), q AS (
         |  SELECT id,
         |    LEAST(67108863, GREATEST(0,
         |      CAST(floor((lat - -90.0) / 180.0 * 67108864.0) AS BIGINT))) AS y,
         |    LEAST(67108863, GREATEST(0,
         |      CAST(floor((lon - -180.0) / 360.0 * 67108864.0) AS BIGINT))) AS x
         |  FROM n
         |), s1 AS (
         |  SELECT id, (y | (y << 16)) & 281470681808895 AS y,
         |             (x | (x << 16)) & 281470681808895 AS x FROM q
         |), s2 AS (
         |  SELECT id, (y | (y << 8)) & 71777214294589695 AS y,
         |             (x | (x << 8)) & 71777214294589695 AS x FROM s1
         |), s3 AS (
         |  SELECT id, (y | (y << 4)) & 1085102592571150095 AS y,
         |             (x | (x << 4)) & 1085102592571150095 AS x FROM s2
         |), s4 AS (
         |  SELECT id, (y | (y << 2)) & 3689348814741910323 AS y,
         |             (x | (x << 2)) & 3689348814741910323 AS x FROM s3
         |), s5 AS (
         |  SELECT id, (y | (y << 1)) & 6148914691236517205 AS y,
         |             (x | (x << 1)) & 6148914691236517205 AS x FROM s4
         |)
         |SELECT id, (y << 1) | x AS zkey FROM s5 ORDER BY id""".stripMargin,
    // brute-force containment join over the twin — hash-equality proves
    // the quadtree cover + prefix-join reproduce exact box semantics
    "p04_spatial_join" ->
      s"""WITH b(box_id, lat_min, lat_max, lon_min, lon_max) AS (VALUES
         |  ${p04Boxes.map { case (i, la0, la1, lo0, lo1) =>
             s"($i, CAST($la0 AS DOUBLE), CAST($la1 AS DOUBLE), " +
               s"CAST($lo0 AS DOUBLE), CAST($lo1 AS DOUBLE))"
           }.mkString(",\n  ")}
         |)
         |SELECT box_id, count(*) AS n_pts, CAST(sum(id) AS BIGINT) AS sum_id
         |FROM read_parquet('$p04Out/type=node/*.parquet') n JOIN b
         |  ON n.lat BETWEEN b.lat_min AND b.lat_max
         | AND n.lon BETWEEN b.lon_min AND b.lon_max
         |GROUP BY box_id ORDER BY box_id""".stripMargin,
  )
}

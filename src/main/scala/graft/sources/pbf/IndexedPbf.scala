package graft.sources.pbf

import org.apache.hadoop.fs.Path
import org.apache.spark.{HashPartitioner, SparkContext, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}

/** The per-file blob catalog, and the PBF-native indexed query path built
  * on it — the Spark re-expression of the reference's `IndexedReader`
  * (osmpbf/src/indexed.rs:145-222, 264-330): answer a query directly over
  * the PBF, without transcoding first, touching only the blobs that can
  * contain relevant elements.
  *
  * Architecture (each reference idea re-expressed distributed):
  *  - **catalog** ([[index]]): one distributed job runs the scan's own
  *    decoder ([[BlockDecoder.idRanges]]: `decode` of `id`, `lat` and
  *    `lon` only) over every data blob into a [[ZoneMap]]: per-type
  *    min/max ids (indexed.rs:174-225 records the same ranges from the
  *    decode that reads the blob) and the lat/lon box of the blob's nodes.
  *    So an entry bounds exactly the rows the scan emits, and a blob the
  *    scan of those columns fails on fails the catalog build typed. It
  *    splits like the scan ([[OsmPbf.planSplits]]): [[OsmPbf.DefaultSplitMb]]
  *    is a per-task cap, and a small file fans out to ~2 tasks per core.
  *    It runs on [[OsmPbf.runSpanGroups]], as the transcode does. The
  *    catalog is ~100 bytes/blob, held in the planning JVM and cached per
  *    (path, mtime, length), like the reference's in-memory `Vec<BlobInfo>`.
  *    Two readers share it: the `osmpbf` scan, whose pushed `id` / `lat`
  *    / `lon` comparisons, with its pushed `type`, drop blobs at planning
  *    ([[Pushdown]], [[prune]]), and [[readWaysAndDeps]].
  *  - **pass 1** (the call's one job): scan ONLY blobs whose zone map has
  *    ways (`ways_available() != No`, indexed.rs:275-278), with the
  *    way-type group pushdown; filter with the caller's predicate Column,
  *    whose pushed `id` comparisons drop further way blobs in the scan.
  *    The way blobs are listed here, not left to the scan, because a
  *    predicate without a pushable range leaves the scan unpruned. The
  *    matching ways are checkpointed, and the same tasks binary-search
  *    their `nds.ref` against the broadcast node-blob ranges and return a
  *    bitset of the node-blob ordinals hit; the driver ORs them (blob
  *    pruning — the reference walks a driver-side BTreeSet of needed ids
  *    against each blob's range, indexed.rs:303-310).
  *  - **pass 2** (run by the first action, in its one job): the needed
  *    node blobs are split into groups as a scan of them would be
  *    ([[OsmPbf.planSplits]]). Each way's refs are keyed by the group(s)
  *    whose blob ranges hold them, deduplicated per task, and shuffled to
  *    one partition per group: the only shuffle, and it moves refs, never
  *    node rows. Each group's task reads its blobs and decodes their nodes
  *    through an id filter ([[BlockDecoder.rowsWithIds]]), so only the
  *    referenced nodes become rows — an exact semi-join without a join.
  *    The driver holds one bit per node blob and the group plan, never an
  *    id set, so a non-selective predicate can't OOM the driver at planet
  *    scale.
  */
object IndexedPbf {

  /** Zone map for one data blob (indexed.rs:36-52): its id ranges and node
    * box. `rawSize` rides along so pruned scans keep the decoded-size task
    * weighting. */
  final case class ZoneMap(offset: Long, length: Int, ids: BlockDecoder.BlobIdRanges,
                           rawSize: Int = -1) {
    def span: Blobs.BlobSpan =
      Blobs.BlobSpan(offset, length, Blobs.TypeOsmData, rawSize)
  }

  // keyed by (path, mtime, length): a file replaced in place gets a fresh
  // catalog instead of stale offsets/ranges pruning the wrong blobs
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Seq[ZoneMap]]()

  /** Builds (or returns the cached) blob catalog: distributed id-and-coord
    * decode of every data blob; an unknown blob type fails it typed
    * ([[OsmPbf.dataSpans]]). Equivalent of create_index + the
    * lazily-recorded id ranges (indexed.rs:145-172, 174-225), but paid
    * up-front in one parallel pass instead of piggybacked on the first
    * query. `rebuild` replaces a cached catalog found stale. */
  def index(spark: SparkSession, path: String, rebuild: Boolean = false): Seq[ZoneMap] = {
    val sc = spark.sparkContext
    val fsPath = new Path(path)
    val status = fsPath.getFileSystem(sc.hadoopConfiguration).getFileStatus(fsPath)
    val key = (path, status.getModificationTime, status.getLen)
    val cached = indexCache.get(key)
    if (cached != null && !rebuild) return cached
    // a replaced file gets a fresh entry — drop the unreachable old
    // generation(s) so a long-lived session can't accumulate dead indexes
    indexCache.keySet.removeIf(k => k._1 == path && k != key)
    val groups = OsmPbf.planSplits(OsmPbf.dataSpans(spark, path), OsmPbf.DefaultSplitMb.toLong << 20,
      sc.defaultParallelism)
    val built = OsmPbf.runSpanGroups(sc, sc.hadoopConfiguration, path, groups) { (_, in, group) =>
      group.map(s => ZoneMap(s.offset, s.length, BlockDecoder.idRanges(in.read(s)), s.rawSize))
    }.flatten.sortBy(_.offset).toSeq
    indexCache.put(key, built)
    built
  }

  /** What a scan's pushed filters let a blob hold: the wanted element
    * types, and the `id` / `lat` / `lon` comparisons ([[prunable]]) that
    * every row must meet. A lat/lon comparison rejects null, so under one
    * only nodes with coordinates can pass. */
  final case class Pushdown(types: Set[String], ranges: Seq[Filter]) {
    private val (coordRanges, idRanges) = ranges.partition(f => operand(f)._1 != "id")

    /** False only for a blob none of whose rows can pass. */
    def keeps(z: ZoneMap): Boolean = {
      val r = z.ids
      def ids(lo: Long, hi: Long) = lo <= hi &&
        idRanges.forall(f => meets(f, lo, hi, operand(f)._2.asInstanceOf[Long])(Ordering.Long))
      def coords = r.hasCoords && coordRanges.forall { f =>
        val (attr, v) = operand(f)
        val (lo, hi) = if (attr == "lat") (r.latMin, r.latMax) else (r.lonMin, r.lonMax)
        meets(f, lo, hi, v.asInstanceOf[Double])(Ordering.Double.IeeeOrdering)
      }
      (types(OsmSchema.TypeNode) && ids(r.nodeMin, r.nodeMax) && (coordRanges.isEmpty || coords)) ||
        (coordRanges.isEmpty &&
          (types(OsmSchema.TypeWay) && ids(r.wayMin, r.wayMax) ||
            types(OsmSchema.TypeRelation) && ids(r.relMin, r.relMax)))
    }
  }

  private def operand(f: Filter): (String, Any) = f match {
    case EqualTo(a, v) => (a, v)
    case LessThan(a, v) => (a, v)
    case LessThanOrEqual(a, v) => (a, v)
    case GreaterThan(a, v) => (a, v)
    case GreaterThanOrEqual(a, v) => (a, v)
    case _ => (null, null)
  }

  /** A comparison the catalog can prune on: `=`, `<`, `<=`, `>`, `>=` of
    * `id` with a Long, or of `lat` / `lon` with a non-NaN Double. Any
    * other literal (null, NaN — which Spark ranks above every double — an
    * Int, a decimal) never prunes. */
  def prunable(f: Filter): Boolean = operand(f) match {
    case ("id", _: Long) => true
    case ("lat" | "lon", v: Double) => !v.isNaN
    case _ => false
  }

  /** Whether some value in [lo, hi] passes the comparison `f` with `v`. */
  private def meets[T](f: Filter, lo: T, hi: T, v: T)(o: Ordering[T]): Boolean = f match {
    case _: EqualTo => o.lteq(lo, v) && o.lteq(v, hi)
    case _: LessThan => o.lt(lo, v)
    case _: LessThanOrEqual => o.lteq(lo, v)
    case _: GreaterThan => o.gt(hi, v)
    case _ => o.gteq(hi, v)
  }

  /** The spans of `spans` that may hold a row passing `p`, by the catalog
    * of `path`. Only a scan with a pushed range prunes: it builds the
    * catalog if none is cached, so a `type`-only scan plans the same blobs
    * whatever ran before it. A span the catalog does not hold at the same
    * offset and length means the file changed under an unchanged (mtime,
    * length): the catalog is rebuilt once, and a span still unmatched is
    * kept. */
  def prune(spark: SparkSession, path: String, spans: Seq[Blobs.BlobSpan],
            p: Pushdown): Seq[Blobs.BlobSpan] =
    if (spans.isEmpty || p.ranges.isEmpty) spans
    else {
      def byOffset(c: Seq[ZoneMap]) = c.iterator.map(z => z.offset -> z).toMap
      def holds(m: Map[Long, ZoneMap], s: Blobs.BlobSpan) = m.get(s.offset).exists(_.length == s.length)
      val cached = byOffset(index(spark, path))
      val catalog =
        if (spans.forall(holds(cached, _))) cached else byOffset(index(spark, path, rebuild = true))
      spans.filter(s => !holds(catalog, s) || p.keeps(catalog(s.offset)))
    }

  /** Scan restricted to an explicit span subset (the pruned read): the
    * osmpbf DSv2 source accepts pre-planned spans so no re-enumeration or
    * full-file scan happens. */
  def readSpans(spark: SparkSession, path: String,
                spans: Seq[Blobs.BlobSpan]): DataFrame =
    spark.read.format("osmpbf")
      .option("spans",
        spans.map(s => s"${s.offset}:${s.length}:${s.rawSize}").mkString(","))
      .load(path)

  /** Node-id ranges of node blobs, sorted by min id, that refs map onto
    * (indexed.rs:88-106, 303-310). Bounded by the blob count. */
  private[pbf] final case class NodeBlobRanges(mins: Array[Long], maxs: Array[Long]) {
    // prefix-max of maxs: pmaxs(i) = max(maxs(0..i)). The left walk can
    // stop exactly when pmaxs(i) < ref — no blob at or before i can contain
    // ref — which is correct even for NESTED ranges ([0,1000] followed by
    // [100,150]): stopping on the first non-overlapping maxs(i) alone would
    // hide the wide earlier range.
    private val pmaxs = maxs.scanLeft(Long.MinValue)(math.max).drop(1)

    /** Calls `f` with the ordinal of every blob whose range holds `ref`,
      * highest ordinal first. */
    def foreachHit(ref: Long)(f: Int => Unit): Unit = {
      // last blob with min <= ref, then walk left while any earlier
      // blob can still reach ref (prefix max)
      var lo = 0; var hi = mins.length - 1; var ub = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (mins(mid) <= ref) { ub = mid; lo = mid + 1 } else hi = mid - 1
      }
      var i = ub
      while (i >= 0 && pmaxs(i) >= ref) {
        if (mins(i) <= ref && ref <= maxs(i)) f(i)
        i -= 1
      }
    }

    /** Sets the ordinal of every blob whose range holds one of `refs` (an
      * array of longs; null or empty sets nothing). */
    def addHits(refs: ArrayData, hits: java.util.BitSet): Unit =
      if (refs != null) {
        var k = 0
        while (k < refs.numElements()) { foreachHit(refs.getLong(k))(hits.set(_)); k += 1 }
      }
  }

  private[pbf] object NodeBlobRanges {
    def of(blobs: Seq[ZoneMap]): NodeBlobRanges =
      NodeBlobRanges(blobs.map(_.ids.nodeMin).toArray, blobs.map(_.ids.nodeMax).toArray)
  }

  private val Nds = OsmSchema.schema.fieldIndex("nds")

  /** Calls `f` with each `nds.ref` of a way row; a null `nds` has none. */
  private def foreachRef(way: InternalRow)(f: Long => Unit): Unit =
    if (!way.isNullAt(Nds)) {
      val nds = way.getArray(Nds)
      var k = 0
      while (k < nds.numElements()) { f(nds.getStruct(k, 1).getLong(0)); k += 1 }
    }

  /** Sorts `a` in place and returns its distinct values. */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, n)
  }

  /** The group plan of pass 2: the needed node blobs' ranges in min-id
    * order, the group each of them is read by, and each group's spans. */
  private[pbf] final case class NodeGroups(ranges: NodeBlobRanges, groupOf: Array[Int],
                                           groups: Array[Array[Blobs.BlobSpan]]) {

    /** The (group, ref) keys of some way rows: each `nds.ref` is keyed by
      * every group that reads a blob whose range holds it. Deduplicated, in
      * group then ref order. */
    def keys(ways: Iterator[InternalRow]): Iterator[(Int, Long)] = {
      val refs = Array.fill(groups.length)(new scala.collection.mutable.ArrayBuilder.ofLong)
      ways.foreach(way => foreachRef(way) { ref =>
        // hits come highest ordinal first and groups are runs of ordinals,
        // so a ref's repeated group is always the previous one
        var last = -1
        ranges.foreachHit(ref) { i =>
          if (groupOf(i) != last) { last = groupOf(i); refs(last) += ref }
        }
      })
      refs.iterator.zipWithIndex.flatMap { case (b, g) => sortedDistinct(b.result()).iterator.map(g -> _) }
    }
  }

  private[pbf] object NodeGroups {
    /** Groups `blobs` (sorted by min id) as [[OsmPbf.planSplits]] splits a
      * scan of them. */
    def plan(blobs: Seq[ZoneMap], parallelism: Int): NodeGroups = {
      val groups = OsmPbf.planSplits(blobs.map(_.span), OsmPbf.DefaultSplitMb.toLong << 20, parallelism)
      NodeGroups(NodeBlobRanges.of(blobs),
        groups.zipWithIndex.flatMap { case (g, i) => Seq.fill(g.length)(i) }.toArray, groups.toArray)
    }
  }

  private val NodeRows = BlockDecoder.Projection(types = Set(OsmSchema.TypeNode))

  /** Prune accounting of the most recent [[readWaysAndDeps]] in this JVM:
    * way-blobs scanned pass-1, node-blobs scanned pass-2, and the totals
    * they were pruned from — read by the specs. Written on every call; a
    * handful of longs. */
  private[graft] val lastPrune =
    new java.util.concurrent.atomic.AtomicReference[Map[String, Long]](Map.empty)

  /** `read_ways_and_deps`: DataFrame of the matching ways plus their
    * dependent nodes, in [[OsmSchema.schema]]. The call runs pass 1; the
    * first action runs pass 2 (see the object's header).
    *
    * The pass-1 ways feed the pass-2 keys and the output, so
    * they are materialized ONCE via `localCheckpoint`: a local
    * checkpoint's blocks are dropped by the ContextCleaner as soon as the
    * returned DataFrame becomes unreachable — repeated calls don't
    * accumulate session-lifetime cache, as a `Dataset.persist` would.
    * Tradeoff (documented): local checkpoints are not executor-loss
    * tolerant; losing one fails the job and the caller re-runs —
    * acceptable for a bounded pruned subset.
    */
  def readWaysAndDeps(spark: SparkSession, path: String, wayPredicate: Column): DataFrame = {
    val sc = spark.sparkContext
    val idx = index(spark, path)

    // Pass 1: way-bearing blobs only (indexed.rs:275-278), way groups
    // only; its tasks also map their ways' refs onto node blobs.
    val wayBlobs = idx.filter(_.ids.hasWays).map(_.span)
    val ways = readSpans(spark, path, wayBlobs)
      .filter(col("type") === OsmSchema.TypeWay)
      .filter(wayPredicate)
      .queryExecution.toRdd.map(_.copy()).localCheckpoint()
    val nodeBlobs = idx.filter(_.ids.hasNodes).sortBy(_.ids.nodeMin)
    val ranges = sc.broadcast(NodeBlobRanges.of(nodeBlobs))
    val needed = new java.util.BitSet(nodeBlobs.size)
    // the job that fills the checkpoint returns each task's hits; the
    // ranges are not needed after it, so the broadcast goes at once
    // rather than with the next GC
    try sc.runJob(ways, (rows: Iterator[InternalRow]) => {
      val r = ranges.value
      val hits = new java.util.BitSet()
      rows.foreach(foreachRef(_)(r.foreachHit(_)(hits.set(_))))
      hits
    }).foreach(needed.or)
    finally ranges.destroy()

    val neededBlobs = needed.stream().toArray.toSeq.map(nodeBlobs(_))
    lastPrune.set(Map(
      "way_blobs_scanned" -> wayBlobs.size.toLong,
      "data_blobs_total" -> idx.size.toLong,
      "node_blobs_scanned" -> neededBlobs.size.toLong,
      "node_blobs_total" -> nodeBlobs.size.toLong))
    val nodes =
      if (neededBlobs.isEmpty) sc.emptyRDD[InternalRow]
      else readNodes(sc, path, ways, NodeGroups.plan(neededBlobs, sc.defaultParallelism))
    GraftBridge.internalCreateDataFrame(spark, ways.union(nodes), OsmSchema.schema)
  }

  /** Pass 2: the nodes of the groups' blobs whose ids the ways reference,
    * as one shuffle of the (group, ref) keys and one task per group. */
  private def readNodes(sc: SparkContext, path: String, ways: RDD[InternalRow],
                        plan: NodeGroups): RDD[InternalRow] = {
    val p = sc.broadcast(plan)
    val hconf = OsmPbf.broadcastConf(sc, sc.hadoopConfiguration)
    // an Int key k in [0, n) goes to partition k: one partition per group
    new ShuffledRDD[Int, Long, Long](ways.mapPartitions(rows => p.value.keys(rows)),
        new HashPartitioner(plan.groups.length))
      .mapPartitionsWithIndex { (g, keyed) =>
        val refs = sortedDistinct(keyed.map(_._2).toArray)
        val in = new SpanReader(path, hconf.value.value)
        val ctx = TaskContext.get()
        ctx.addTaskCompletionListener[Unit] { _ =>
          GraftBridge.addBytesRead(ctx, in.compressedBytes)
          in.close()
        }
        p.value.groups(g).iterator.flatMap(s =>
          BlockDecoder.rowsWithIds(in.read(s), NodeRows, OsmSchema.schema, refs))
      }
  }
}

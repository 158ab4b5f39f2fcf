package graft.sources.pbf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** PBF-native indexed query path — the Spark re-expression of the
  * reference's `IndexedReader.read_ways_and_deps` (osmpbf/src/indexed.rs:
  * 145-222, 264-330): answer "ways matching P, plus their dependent nodes"
  * directly over the PBF, without transcoding first, touching only the
  * blobs that can contain relevant elements.
  *
  * Architecture (each reference idea re-expressed distributed):
  *  - **index**: one distributed job decodes only element ids per blob
  *    into (type, min/max id) zone maps (indexed.rs:174-225 builds the
  *    same ranges lazily). It splits like every PBF read
  *    ([[OsmPbf.planSplits]]): the 64MB `splitMb` default is a per-task
  *    cap, and a small file fans out to ~2 tasks per core. The index is
  *    ~56 bytes/blob — driver-held and cached per path, like the
  *    reference's in-memory `Vec<BlobInfo>`.
  *  - **pass 1**: scan ONLY blobs whose zone map has ways
  *    (`ways_available() != No`, indexed.rs:275-278), with the way-type
  *    group pushdown; filter with the caller's predicate Column.
  *  - **pass 2**: the reference walks a driver-side BTreeSet of needed
  *    node ids against each blob's range (indexed.rs:303-310). The
  *    distributed analog is one job over the pass-1 ways: each task
  *    binary-searches its ways' `nds.ref` against the broadcast node-blob
  *    ranges and returns a bitset of the node-blob ordinals hit, and the
  *    driver ORs the bitsets (blob pruning). An exact semi-join
  *    (`id IN refs`), which Catalyst/AQE executes broadcast when the ref
  *    set is small, then keeps only the needed nodes. The driver holds
  *    one bit per node blob and never an id set, so a non-selective
  *    predicate can't OOM the driver at planet scale.
  */
object IndexedPbf {

  /** Zone map for one data blob (indexed.rs:36-52). `rawSize` rides along
    * so pruned scans keep the decoded-size task weighting. */
  final case class ZoneMap(offset: Long, length: Int, ids: BlockDecoder.BlobIdRanges,
                           rawSize: Int = -1) {
    def span: Blobs.BlobSpan =
      Blobs.BlobSpan(offset, length, Blobs.TypeOsmData, rawSize)
  }

  // keyed by (path, mtime, length): a file replaced in place gets a fresh
  // index instead of stale offsets/ranges pruning the wrong blobs
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Seq[ZoneMap]]()

  /** Builds (or returns the cached) blob index: distributed id-only decode
    * of every data blob. Equivalent of create_index + the lazily-recorded
    * id ranges (indexed.rs:145-172, 174-225), but paid up-front in one
    * parallel pass instead of piggybacked on the first query. */
  def index(spark: SparkSession, path: String): Seq[ZoneMap] = {
    val sc = spark.sparkContext
    val fsPath = new Path(path)
    val status = fsPath.getFileSystem(sc.hadoopConfiguration).getFileStatus(fsPath)
    val key = (path, status.getModificationTime, status.getLen)
    val cached = indexCache.get(key)
    if (cached != null) return cached
    // a replaced file gets a fresh entry — drop the unreachable old
    // generation(s) so a long-lived session can't accumulate dead indexes
    indexCache.keySet.removeIf(k => k._1 == path && k != key)
    val spans = OsmPbf.blobSpans(spark, path).filter(_.blobType == Blobs.TypeOsmData)
    val groups = OsmPbf.planSplits(spans, OsmPbf.DefaultSplitMb.toLong << 20,
      sc.defaultParallelism)
    val hconf = OsmPbf.broadcastConf(sc, sc.hadoopConfiguration)
    val built = try sc.parallelize(groups, math.max(groups.size, 1))
      .mapPartitions { it =>
        val fsPath = new Path(path)
        val fs = fsPath.getFileSystem(hconf.value.value)
        val in = fs.open(fsPath)
        val out = scala.collection.mutable.ArrayBuffer.empty[ZoneMap]
        try it.foreach(_.foreach { span =>
          in.seek(span.offset)
          val buf = new Array[Byte](span.length)
          in.readFully(buf)
          out += ZoneMap(span.offset, span.length,
            BlockDecoder.idRanges(Blobs.decode(buf)), span.rawSize)
        }) finally in.close()
        out.iterator
      }.collect().sortBy(_.offset).toSeq
    finally hconf.destroy()
    indexCache.put(key, built)
    built
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

  /** Node-id ranges of the node blobs, sorted by min id, that pass 2 maps
    * refs onto (indexed.rs:88-106, 303-310). Bounded by the blob count. */
  private[pbf] final case class NodeBlobRanges(mins: Array[Long], maxs: Array[Long]) {
    // prefix-max of maxs: pmaxs(i) = max(maxs(0..i)). The left walk can
    // stop exactly when pmaxs(i) < ref — no blob at or before i can contain
    // ref — which is correct even for NESTED ranges ([0,1000] followed by
    // [100,150]): stopping on the first non-overlapping maxs(i) alone would
    // hide the wide earlier range.
    private val pmaxs = maxs.scanLeft(Long.MinValue)(math.max).drop(1)

    /** Sets the ordinal of every blob whose range holds one of `refs` (one
      * way's `nds.ref`; null or empty sets nothing). */
    def addHits(refs: ArrayData, hits: java.util.BitSet): Unit =
      if (refs != null) {
        var k = 0
        while (k < refs.numElements()) {
          val ref = refs.getLong(k)
          // last blob with min <= ref, then walk left while any earlier
          // blob can still reach ref (prefix max)
          var lo = 0; var hi = mins.length - 1; var ub = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (mins(mid) <= ref) { ub = mid; lo = mid + 1 } else hi = mid - 1
          }
          var i = ub
          while (i >= 0 && pmaxs(i) >= ref) {
            if (mins(i) <= ref && ref <= maxs(i)) hits.set(i)
            i -= 1
          }
          k += 1
        }
      }
  }

  /** Prune accounting of the most recent [[readWaysAndDeps]] in this JVM:
    * way-blobs scanned pass-1, node-blobs scanned pass-2, and the totals
    * they were pruned from — read by the specs. Written on every call; a
    * handful of longs. */
  private[graft] val lastPrune =
    new java.util.concurrent.atomic.AtomicReference[Map[String, Long]](Map.empty)

  /** `read_ways_and_deps`: DataFrame of the matching ways plus their
    * dependent nodes, in [[OsmSchema.schema]].
    *
    * The pass-1 ways feed three consumers (the node-blob ordinal job, the
    * pass-2 semi-join, the output union), so they are materialized ONCE via
    * `localCheckpoint`: unlike `Dataset.persist`, whose cache entry lives
    * in the session's CacheManager until explicitly unpersisted, a local
    * checkpoint's blocks are dropped by the ContextCleaner as soon as the
    * returned DataFrame becomes unreachable — repeated calls don't
    * accumulate session-lifetime cache. Tradeoff (documented): local
    * checkpoints are not executor-loss tolerant; losing one fails the job
    * and the caller re-runs — acceptable for a bounded pruned subset.
    */
  def readWaysAndDeps(spark: SparkSession, path: String, wayPredicate: Column): DataFrame = {
    val idx = index(spark, path)

    // Pass 1: way-bearing blobs only (indexed.rs:275-278), way groups only.
    val wayBlobs = idx.filter(_.ids.hasWays).map(_.span)
    val ways = readSpans(spark, path, wayBlobs)
      .filter(col("type") === OsmSchema.TypeWay)
      .filter(wayPredicate)
      .localCheckpoint(eager = true)

    val refs = ways.select(explode(col("nds.ref")).as("ref")).distinct()

    // Zone-map pruning in one job: each task maps its ways' refs to the
    // node blobs that can hold them; the driver ORs the per-task bitsets.
    val nodeBlobs = idx.filter(_.ids.hasNodes).sortBy(_.ids.nodeMin)
    val ranges = spark.sparkContext.broadcast(NodeBlobRanges(
      nodeBlobs.map(_.ids.nodeMin).toArray, nodeBlobs.map(_.ids.nodeMax).toArray))
    val needed = new java.util.BitSet(nodeBlobs.size)
    // the ranges broadcast is consumed ENTIRELY by this collect — destroy
    // it deterministically rather than waiting for GC + ContextCleaner
    // (the method's own no-session-lifetime-accumulation rationale; a
    // long-lived session issuing many queries would otherwise accumulate
    // dead broadcast blocks on the driver and executors)
    try ways.select(col("nds.ref")).queryExecution.toRdd
      .mapPartitions { rows =>
        val r = ranges.value
        val hits = new java.util.BitSet()
        rows.foreach(row => r.addHits(row.getArray(0), hits))
        Iterator.single(hits)
      }.collect().foreach(needed.or)
    finally ranges.destroy()

    // Pass 2: pruned node blobs, node groups only, exact id semi-join.
    val nodeSpans = needed.stream().toArray.toSeq.map(nodeBlobs(_).span)
    lastPrune.set(Map(
      "way_blobs_scanned" -> wayBlobs.size.toLong,
      "data_blobs_total" -> idx.size.toLong,
      "node_blobs_scanned" -> nodeSpans.size.toLong,
      "node_blobs_total" -> nodeBlobs.size.toLong))
    val nodes =
      if (nodeSpans.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], OsmSchema.schema)
      else
        readSpans(spark, path, nodeSpans)
          .filter(col("type") === OsmSchema.TypeNode)
          .join(refs, col("id") === col("ref"), "left_semi")

    ways.unionByName(nodes)
  }
}

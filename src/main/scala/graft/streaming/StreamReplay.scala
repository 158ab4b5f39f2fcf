package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Driver-checkable STREAMING correctness entries: replay the batch
  * `events` table through Spark's FILE streaming source into the stateful
  * streaming operators and return the settled result as a DataFrame — so
  * the DuckDB oracle gate exercises the streaming code paths themselves,
  * not just their batch twins (a05/a06 prove the semantics; these prove
  * the `flatMapGroupsWithState` implementations compute them).
  *
  * Replay protocol (the standard event-time test harness):
  *   1. stage the events table's parquet file(s) into a scratch dir and
  *      start `readStream.format("parquet")` over it with
  *      `maxFilesPerTrigger` = the staged file count — the whole table
  *      lands in micro-batch 1. The watermark only advances between
  *      batches, so nothing is ever late-dropped and each user's full
  *      history reaches one state invocation (the documented batch-parity
  *      case of the streaming operators). The `st03b`/`st07b` gate
  *      entries instead stage the table as 8 event-time-RANGED chunk
  *      files consumed one per micro-batch ([[Chunks]] in [[replayFiles]]) —
  *      the cross-batch state-carry case, same oracle hashes;
  *   2. append two tiny far-future watermark TICK FILES (one row each) —
  *      the first advances the watermark past every window close, the
  *      second gives Spark a batch in which those event-time timeouts
  *      actually fire.
  *
  * The ingest-gate entries (st16–st19) replay the `documents` table
  * through the same harness ([[Documents]]): doc_id-ranged chunks, no
  * watermark, no ticks.
  *
  * This is the production replay shape scaled down: a file-source stream
  * with bounded files-per-trigger is exactly how a 100 TB events corpus
  * would be replayed (no driver materialization anywhere — the old
  * harness fed MemoryStream from a driver-side collect, which OOMs the
  * driver at ~100× while the operators under test would have been fine).
  * The only driver-side value is the scalar max event time, computed by a
  * distributed aggregate. Production deployments point the SAME
  * transforms at kafka/file sources — see
  * [[EventStreams.streamEventsToMemory]].
  */
object StreamReplay {
  private type Q = (SparkSession, String) => DataFrame
  private val sinkId = new AtomicLong(0)

  /** Optional state-store provider override for the replay sessions:
    * `-Dgraft.stateStore=rocksdb` (or env GRAFT_STATE_STORE) swaps the
    * default HDFS-backed in-memory provider for RocksDB — at 100× state
    * the executor heap is the bound, and RocksDB moves state off-heap to
    * local disk. The default stays HDFS: at sf scale the in-memory
    * provider is faster and the semantics are identical (pinned by
    * StreamReplaySpec's "RocksDB state store provider" test). */
  private[streaming] def stateStoreOverride: Option[String] =
    resolveStateStore(
      sys.props.get("graft.stateStore").orElse(sys.env.get("GRAFT_STATE_STORE")))

  /** Replay-session shuffle/state partition count, **4** (r20, measured):
    * a replay micro-batch carries 10²–10⁴ rows, so the per-batch cost is
    * dominated by the PER-PARTITION state-store commit envelope (store
    * load/flush/checkpoint files × partitions × batches), not by data
    * parallelism — clean-window A/B runs (OPTIMIZATION_r20.md §knobs,
    * SOAK_r20_gateknobs.json): st03 3.83→2.74 s, st18 addBatch
    * 3.47→2.64, st10 wall ~−40% at 4 vs the previous 8; 2–3 partitions
    * measured within noise of 4 (curve flat below 4, and 4 keeps real
    * parallelism in the batch). Results are partition-count-invariant by
    * design (min-owner rule, ordered outputs — the oracle gate
    * re-verified under 4). */
  private val ReplayShufflePartitions = "4"

  /** Short provider name → provider class (None = keep Spark's default
    * HDFS-backed provider). Shared by the sys-prop path and the explicit
    * `stateStore` parameter of [[replayFiles]]. */
  private[streaming] def resolveStateStore(name: Option[String]): Option[String] =
    name.map(_.toLowerCase) match {
      case Some("rocksdb") => Some(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      case Some("hdfs") | None => None
      case Some(other) => throw new IllegalArgumentException(
        s"unknown graft.stateStore '$other' (expected rocksdb or hdfs)")
    }

  /** Settle telemetry of the MOST RECENT replay in this JVM, read by
    * [[graft.Bench]] around each solo entry run (a field in the bench
    * artifact answers a warmed-sweep flag on a streaming entry, not a
    * fresh-JVM re-run). Keys: `settle_signal` — which signal settled the
    * run (-1 = `processAllAvailable` quiesced, 0 = progress accounting,
    * 1 = throttled sink count, 2 = deadline-path final count),
    * `settle_count_jobs` — fallback count() jobs run, and
    * `settle_residual_wait_sec` — the sink-full → settle-detection
    * residual (see [[awaitSinkRows]]). Per-batch engine durations are
    * the query's own progress `durationMs`. */
  private[graft] val lastFloor =
    new java.util.concurrent.atomic.AtomicReference[Map[String, Double]](Map.empty)

  /** Settle-time row-total reconciliation (IngestAudit.reconcileRowTotal,
    * the r18 verdict's #2 ask): the rows the progress history accounts as
    * READ from the source must equal the rows STAGED — the harness-layer
    * close of the one seen-files-log corruption sub-class the log's own
    * structure cannot witness (silent re-ingestion inflates the read
    * side). Guarded on full progress coverage: if retention evicted any
    * batch (never at replay scale — the settle loop latches a fallback on
    * the same condition), the sum is short and the check would be a false
    * alarm, so it is skipped rather than mis-fired. The staged count is a
    * footer-metadata job (no column reads).
    *
    * SCOPE: single-scan transforms only. A stream-stream SELF-join scans
    * the one source from both sides, and its observed numInputRows
    * multiplicity is PLAN-DEPENDENT, not a fixed 2x (exchange/scan reuse
    * collapses one side in some micro-batches — measured: 2.0x on a
    * single-batch st05, ~1.3x on the chunked variant), so no declared
    * factor can make the equality sound. Those entries pass
    * `multiScan = true` to skip this check; their ingestion is still
    * guarded by the file-set audit (every staged file in exactly one
    * batch) and their OUTPUT by the DuckDB hash gate. */
  private def reconcileStagedRows(s: SparkSession,
      query: StreamingQuery,
      ckpt: String, stage: Path,
      stagedSchema: StructType): Unit = {
    val ps = query.recentProgress
    if (ps.isEmpty) return
    val bids = ps.map(_.batchId)
    if (bids.min != 0L || bids.distinct.length.toLong != bids.max + 1) return
    // the contiguity guard above cannot see a missing TAIL: a trailing
    // batch planned after the settle target was reached (e.g. a final
    // chunk whose rows all dedup away and add no sink rows) would leave
    // 0..k-1 contiguous while its input rows are missing from the sum —
    // a false loud on a correct run. The checkpoint's own sources log
    // knows what was planned — but in ITS OWN id space: sources batch
    // file ids are the file source's logOffsets, which advance only on
    // batches that ingest new files, while progress batchIds count every
    // batch (no-data/timer batches included), so comparing the two
    // spaces goes inert once any zero-new-file batch is observed. The
    // last observed progress entry carries the source's endOffset in the
    // SAME logOffset space: the history is complete iff it reached the
    // log's maximum. Unparsable offset → completeness unprovable → skip
    // (ingestion stays guarded by the file-set audit).
    val observedMaxOffset: Option[Long] = Option(ps.maxBy(_.batchId).sources)
      .toSeq.flatten.headOption.flatMap(sp => Option(sp.endOffset))
      .flatMap(o => "-?\\d+".r.findFirstIn(o)).map(_.toLong)
    val plannedMax = IngestAudit.maxSourcesBatchId(ckpt)
    if (plannedMax.exists(p => !observedMaxOffset.exists(_ >= p))) return
    val ingested = ps.map(p =>
      Option(p.sources).toSeq.flatten.map(_.numInputRows).sum).sum
    // explicit schema: the count is footer-metadata-only, but a
    // schemaless read pays a full inference pass first (~80-120ms)
    val staged = s.read.schema(stagedSchema).parquet(stage.toString).count()
    IngestAudit.reconcileRowTotal(ckpt, staged, ingested,
      "the progress history's source input rows")
  }

  /** Everything a caller can need from a replay: the settled sink
    * contents, the max real event-time millis, the number of
    * micro-batches the query executed (the multi-batch spec asserts on
    * it), and two progress-history sums over the stateful operators:
    * rows dropped as WATERMARK-LATE (`lateDropped` — the multi-batch
    * variants assert 0: time-ranged chunking must never make a row
    * late) and rows dropped as state-hit DUPLICATES (`dupDropped`, the
    * dedup execs' `numDroppedDuplicateRows` custom metric — the
    * cross-batch dedup spec asserts it equals the full re-sent copy,
    * proving every id probed state across the batch boundary). */
  private[streaming] final case class Replayed(df: DataFrame, maxTs: Long,
                                               batches: Long,
                                               lateDropped: Long = 0L,
                                               dupDropped: Long = 0L)

  /** The table a replay streams, the column its [[Chunks]] are ranged
    * by, and the transform the stream runs through. */
  private[streaming] sealed trait Source {
    def table: String
    def key: String
    /** Append the watermark tick files once the data has settled. */
    def ticks: Boolean
    /** The file-source schema, read off a staged data file. */
    def fileSchema(s: SparkSession, staged: Path): StructType
    /** The transform applied to the raw file stream. */
    def start(raw: DataFrame): DataFrame
  }

  /** `events.parquet` as a typed `Dataset[Event]`, chunks ranged by
    * `ts`. `ticks` appends the two far-future watermark tick files once
    * the data has settled (see [[replayFiles]]); operators that emit
    * eagerly rather than at watermark close skip them — each tick batch
    * costs a full state-machine pass across every partition. */
  private[streaming] final case class Events(
      transform: Dataset[EventStreams.Event] => DataFrame,
      ticks: Boolean = true) extends Source {
    def table: String = "events"
    def key: String = "ts"

    // file-source schema = the staged DATA-FILE footer schema (ts int64
    // ns for the sf tables); the ns→µs conversion in `start` mirrors
    // Tables.events exactly. Read a staged file, NOT the source dir: a
    // hive-partitioned source derives partition columns from directory
    // names, which the flattened staging drops — a consumed column
    // living only in the partitioning would silently null-fill under a
    // dir-derived schema. Fail fast instead.
    // zoneless timestamp[us] data files infer as TimestampNTZType; the
    // file-source schema instead DECLARES ts TimestampType, so the scan
    // surfaces raw micros as session-UTC timestamps directly — no
    // per-micro-batch cast Project (the cast path measured ~20-25%
    // slower on st05; see the Tables.events scaladoc)
    def fileSchema(s: SparkSession, staged: Path): StructType = {
      val inferred = s.read.parquet(staged.toString).schema
      val schema = StructType(inferred.map {
        case f if f.name == "ts" && f.dataType == TimestampNTZType =>
          f.copy(dataType = TimestampType)
        case f => f
      })
      val missing = Seq("event_id", "ts", "user_id", "event_type", "value")
        .filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"staged event data files lack consumed column(s) ${missing.mkString(", ")}" +
          " — is the source hive-partitioned by a consumed column?")
      schema
    }

    def start(raw: DataFrame): DataFrame = {
      import raw.sparkSession.implicits._
      val converted = raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
        case _ => raw // TimestampType — NTZ already re-declared above
      }
      transform(converted
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventStreams.Event])
    }
  }

  /** `documents.parquet` as read, chunks ranged by `doc_id` — the
    * ingest-gate entries' source. No watermark, no ticks: the gate
    * processors emit per batch, so there is nothing for a tick to
    * close. */
  private[streaming] final case class Documents(
      transform: DataFrame => DataFrame) extends Source {
    def table: String = "documents"
    def key: String = "doc_id"
    def ticks: Boolean = false
    def fileSchema(s: SparkSession, staged: Path): StructType =
      s.read.parquet(staged.toString).schema
    def start(raw: DataFrame): DataFrame = transform(raw)
  }

  /** How a replay stages the source table and feeds it to the stream. */
  private[streaming] sealed trait Staging

  /** The whole table, delivered in micro-batch 1 — the batch-parity
    * case. */
  private[streaming] case object Whole extends Staging

  /** MULTI-BATCH: the table range-partitioned by the source key into `n`
    * key-ordered files (chunk k's min key >= chunk k-1's max key),
    * staged with strictly increasing modification times —
    * `FileStreamSource` orders new files by mod time ascending — and
    * consumed with `maxFilesPerTrigger=1`, one chunk per micro-batch. On
    * `ts` the watermark then genuinely advances BETWEEN batches,
    * exercising cross-batch state carry (session extension, timeout
    * re-arming) rather than the batch-parity case; because the split
    * respects event time, no row is ever watermark-late and the settled
    * result is hash-identical to the single-batch replay's oracle. On
    * `doc_id`, lower ids never arrive later (the replay leg of the gate's
    * min-owner rule). */
  private[streaming] final case class Chunks(n: Int) extends Staging

  /** `k` copies of the whole table. In ONE batch every row arrives as an
    * exact duplicate, so every id probes existing dedup state (st06).
    * With `batchPerCopy`, each copy is its own micro-batch
    * (`maxFilesPerTrigger` = the per-copy file count; copies are staged
    * copy-major with strictly increasing mtimes, so `FileStreamSource`'s
    * mtime-ordered pickup yields copy c exactly in batch c+1) — the
    * cross-batch dedup variant's shape: batch 1 populates the key state,
    * batch 2 re-sends every row so each id must probe state ACROSS the
    * batch boundary. */
  private[streaming] final case class Copies(k: Int, batchPerCopy: Boolean)
      extends Staging

  /** Writes one far-future tick event as a single-file parquet batch into
    * the staged stream dir, schema-identical to the real files (ts stays
    * raw nanosecond int64 when the table is ns-precision on disk). The
    * part file is written to a side dir and MOVED in so the stream never
    * lists a half-written file. */
  private def addTickFile(s: SparkSession, fileSchema: StructType,
                          stage: Path, n: Int, tsMs: Long): Unit = {
    val vals: IndexedSeq[Any] = fileSchema.fields.toIndexedSeq.map { f =>
      (f.name, f.dataType) match {
        case ("event_id", _) => -n.toLong
        case ("ts", LongType) => tsMs * 1000000L // raw ns, like the table
        case ("ts", TimestampNTZType) => // zoneless files: NTZ rows are LocalDateTime
          java.time.LocalDateTime.ofInstant(
            java.time.Instant.ofEpochMilli(tsMs), java.time.ZoneOffset.UTC)
        case ("ts", _) => new java.sql.Timestamp(tsMs)
        case ("user_id", _) => -n.toLong
        case ("event_type", _) => "view"
        case ("value", _) => 0.0
        case _ => null
      }
    }
    val tmp = Files.createTempDirectory(stage.getParent, "tick")
    try {
      s.createDataFrame(java.util.Collections.singletonList(Row(vals: _*)), fileSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
      Files.move(part.toPath, stage.resolve(s"tick-$n.parquet"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  /** Recursive data-file listing of a parquet table path (file or
    * dir): a partitioned/nested table dir is a valid batch-read layout,
    * and a non-recursive listing would silently stage a SUBSET of a
    * mixed layout (partial corpus into the stream, full corpus into the
    * oracle). Staging flattens the names — partition-dir values are not
    * consumed by any replay. */
  private def listParquetFiles(src: java.io.File): Seq[java.io.File] =
    if (src.isDirectory) {
      val walk = Files.walk(src.toPath)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.map(_.toFile)
          .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
            !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .toSeq.sortBy(_.getAbsolutePath)
      } finally walk.close()
    } else Seq(src)

  /** [[Chunks]] staging: range-partition the table by `key` and write
    * one file per range. One distributed sort; no driver
    * materialization; part index = range index = delivery order. */
  private def stageChunks(s: SparkSession, base: Path, stage: Path,
      srcPath: String, chunks: Int, key: String, what: String): Seq[Path] = {
    val tmp = Files.createTempDirectory(base, "chunkwrite")
    // cached-schema read (Tables.cached): the source path is immutable
    // within a process and every chunked replay re-stages it — a raw
    // read would re-infer the schema per entry invocation
    graft.Tables.cached(s, srcPath)
      .repartitionByRange(chunks, col(key))
      .write.mode("overwrite").parquet(tmp.toString)
    val parts = tmp.toFile.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.length > 1,
      s"multi-batch $what replay needs >1 chunk files, got ${parts.length}")
    parts.toSeq.zipWithIndex.map { case (f, i) =>
      Files.move(f.toPath, stage.resolve(f"chunk-$i%05d.parquet"))
    }
  }

  /** FileStreamSource orders new files by modification time ascending:
    * pin strictly increasing mtimes (in the recent past, so tick files
    * appended later always sort after) — staged order IS delivery
    * order, and same-mtime ties can't reorder the copy case. */
  private def pinMtimes(staged: Seq[Path]): Unit = {
    val mt0 = System.currentTimeMillis() - staged.size * 2000L
    staged.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mt0 + i * 1000L))
    }
  }

  /** How a run settled — see [[lastFloor]] for the fields. */
  private final case class Settled(signal: Int, countJobs: Long, residualSec: Double) {
    def floor: Map[String, Double] = Map(
      "settle_signal" -> signal.toDouble,
      "settle_count_jobs" -> countJobs.toDouble,
      "settle_residual_wait_sec" -> residualSec)
  }

  /** Settles `query` on its memory sink `sink` holding `n` rows.
    * ProcessingTime-mode `transformWithState` reports
    * shouldRunAnotherBatch = true UNCONDITIONALLY (the engine must keep
    * running batches so TTL/timers can fire), so `processAllAvailable`
    * never converges and `Trigger.AvailableNow` does not terminate
    * either: termination = the sink holding every expected output row,
    * a count known up front. A query failure (state-store error, bad
    * config) must surface IMMEDIATELY, not as a generic stuck-below-n
    * timeout ten minutes later.
    *
    * Settlement reads CUMULATIVE sink.numOutputRows off the progress
    * events, not `s.table(sink).count()`: the r17 floor itemization
    * (SOAK_r17_replayfloor.json) measured the count polls at 2.4s of
    * driver-side jobs COMPETING with batch execution for cores — ~40% of
    * st18's settle phase spent re-scanning the memory sink ~30 times.
    * Progress accounting is free; batches are sequential and the poll
    * cadence (100ms) cannot realistically miss the 100-entry progress
    * retention window — and the three ways it could still under-count
    * are all guarded: a sink that stops reporting commit rows
    * (numOutputRows = -1) flips the loop to sink-count settlement, a
    * batchId GAP in recentProgress (entries evicted past the retention
    * window between polls — a batch storm) latches the same fallback
    * IMMEDIATELY instead of stalling to the deadline, and the deadline
    * path believes one final sink count before declaring the run
    * stuck. */
  private def awaitSinkRows(s: SparkSession, query: StreamingQuery,
      sink: String, n: Long): Settled = {
    val deadline = System.currentTimeMillis() + 10 * 60 * 1000L
    var acc = 0L
    var lastBatch = -1L
    var settled = false
    // WHICH signal settled the run (0=progress accounting, 1=throttled
    // sink count, 2=deadline-path final count) and how many fallback
    // count() jobs ran
    var settleSignal = 0
    var countJobs = 0L
    // a sink/Spark version that stops reporting per-batch commit
    // rows (SinkProgress.numOutputRows = -1) would make progress
    // accounting permanently under-count — fall back to the
    // (job-costing) sink count for the rest of the run instead of
    // dying at the deadline with the sink actually full
    var useCount = false
    // once useCount latches, the count() job is throttled to 1s
    // cadence: running it every 100ms poll would reintroduce the
    // driver-job contention the progress accounting was measured
    // to remove (SOAK_r17_replayfloor). 0 ⇒ first count runs
    // immediately on latch.
    var lastCountMs = 0L
    while (!settled) {
      val newer = query.recentProgress.filter(_.batchId > lastBatch)
        .sortBy(_.batchId)
      // eviction detection: the oldest retained entry skipping
      // past lastBatch+1 means batches fell out of the retention
      // window un-counted — acc is permanently short; latch the
      // sink-count fallback now rather than ride to the deadline
      if (newer.nonEmpty && newer.head.batchId > lastBatch + 1)
        useCount = true
      newer.foreach { p =>
        val rows = Option(p.sink).map(_.numOutputRows).getOrElse(-1L)
        if (rows < 0) useCount = true else acc += rows
        lastBatch = p.batchId
      }
      // acc keeps accumulating the batches that DO report, so it
      // stays the free fast path even after a -1 latched useCount —
      // the count() job only runs while neither signal has settled
      settled = acc >= n || (useCount && {
        val now = System.currentTimeMillis()
        if (now - lastCountMs >= 1000L) {
          lastCountMs = now
          countJobs += 1
          val full = s.table(sink).count() >= n
          if (full) settleSignal = 1
          full
        } else false
      })
      if (!settled) {
        query.exception.foreach(throw _)
        if (!query.isActive)
          sys.error(s"replay: query for $sink terminated " +
            s"at ${s.table(sink).count()} of $n rows with no exception")
        if (System.currentTimeMillis() > deadline) {
          // belt-and-suspenders against any progress-accounting
          // blind spot (e.g. retention eviction under an extreme
          // batch storm): believe the sink itself before dying
          countJobs += 1
          if (s.table(sink).count() >= n) { settled = true; settleSignal = 2 }
          else sys.error(s"replay: sink $sink stuck below $n rows " +
            s"(progress-counted $acc, sink ${s.table(sink).count()})")
        }
        Thread.sleep(100)
      }
    }
    // residual wait: detection instant minus the last batch's
    // COMMIT END, estimated from its progress timestamp (trigger
    // start) + triggerExecution duration — the moment the sink
    // actually filled for the normal sequential-batch case. A
    // lower-bound estimate when extra (post-fill) batches
    // committed before detection; exact enough to adjudicate a
    // warmed-sweep flag against the 1s count throttle.
    val detectMs = System.currentTimeMillis()
    val lastCommitEndMs = query.recentProgress.map { p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli +
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    }.maxOption.getOrElse(detectMs)
    Settled(settleSignal, countJobs, math.max(0L, detectMs - lastCommitEndMs) / 1e3)
  }

  /** The replay harness every streaming entry runs on: stage `source`'s
    * parquet files into a scratch dir per `staging`, stream them through
    * the source's transform on an isolated session, settle, audit the
    * ingest, and return the result detached (localCheckpoint) so
    * concurrent/later runs can't disturb it.
    *
    *  - sink: the memory sink, or the `foreachBatch` body (the caller
    *    then reads its own target; `df` is empty);
    *  - settle: `processAllAvailable`, or with `awaitRows` the memory
    *    sink holding exactly that many rows ([[awaitSinkRows]]);
    *  - result: the sink's contents, or `extract(session, checkpoint)`
    *    read after the query stops (the persisted state, st19);
    *  - `stateStore` defaults to the process-level [[stateStoreOverride]];
    *    specs thread an explicit value instead of mutating the global
    *    system property (which would race under parallel suites);
    *  - `multiScan` skips the row reconciliation ([[reconcileStagedRows]]).
    */
  private[streaming] def replayFiles(outer: SparkSession, dir: String,
                     mode: OutputMode, source: Source,
                     staging: Staging = Whole,
                     foreachBatch: Option[(DataFrame, Long) => Unit] = None,
                     awaitRows: Option[Long] = None,
                     extract: Option[(SparkSession, String) => DataFrame] = None,
                     stateStore: Option[String] = None,
                     multiScan: Boolean = false): Replayed = {
    // an isolated session (shared context, own SQLConf/catalog):
    // stateful streaming cost is dominated by per-partition state-store
    // commits (shuffle.partitions × batches), so the replay scopes a
    // small partition count ([[ReplayShufflePartitions]]) — and a tmpfs
    // scratch/checkpoint where available — to its own session state
    // instead of mutating the caller's conf under concurrently running
    // queries
    val s: SparkSession = outer.newSession()
    s.conf.set("spark.sql.shuffle.partitions", ReplayShufflePartitions)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // None = inherit the process-level override (-Dgraft.stateStore /
    // GRAFT_STATE_STORE); an explicit name resolves through the same
    // table (Some("hdfs") forces the default provider). No null
    // sentinel: an innocently-forwarded None must not silently disable
    // the override a run was launched under.
    (stateStore.fold(stateStoreOverride)(n => resolveStateStore(Some(n))))
      .foreach(s.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    // the one driver-side scalar: max real event time, via a distributed
    // aggregate (NOT a table collect); null on an empty table → epoch 0.
    // Computed ONLY when the tick protocol needs it (r20, guide §1.2
    // "don't compute things you throw away"): every `.maxTs` consumer
    // runs with ticks on; tick-less callers must not read maxTs, it is 0
    // there.
    val maxTs =
      if (!source.ticks) 0L
      else Option(graft.Tables.events(s, dir).agg(max(col("ts")))
        .head().getTimestamp(0)).map(_.getTime).getOrElse(0L)

    val base = graft.Scratch.tempDir("graftreplay")
    val stage = Files.createDirectory(base.resolve("in"))
    val ckpt = base.resolve("ckpt").toString
    val src = new java.io.File(s"$dir/${source.table}.parquet")
    val srcFiles: Seq[java.io.File] = listParquetFiles(src)
    require(srcFiles.nonEmpty, s"no parquet files found under $src")
    val sink = s"graft_replay_${sinkId.incrementAndGet()}"
    try {
      def copies(k: Int): Seq[Path] =
        for { c <- 0 until k; (f, i) <- srcFiles.zipWithIndex }
          yield Files.copy(f.toPath, stage.resolve(f"real-$c%02d-$i%05d.parquet"))
      val (stagedFiles, maxFilesPerTrigger) = staging match {
        case Whole => (copies(1), srcFiles.size)
        case Chunks(n) =>
          (stageChunks(s, base, stage, src.getAbsolutePath, n, source.key, source.table), 1)
        case Copies(k, batchPerCopy) =>
          (copies(k), if (batchPerCopy) srcFiles.size else srcFiles.size * k)
      }
      pinMtimes(stagedFiles)
      val fileSchema = source.fileSchema(s, stagedFiles.head)
      val raw = s.readStream.schema(fileSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .parquet(stage.toString)
      val writer = source.start(raw)
        .writeStream.outputMode(mode)
        .option("checkpointLocation", ckpt)
      val query = foreachBatch match {
        case Some(fn) => writer.foreachBatch(fn).start()
        case None => writer.format("memory").queryName(sink).start()
      }
      try {
        val settled = awaitRows match {
          case Some(n) => awaitSinkRows(s, query, sink, n)
          case None => query.processAllAvailable(); Settled(-1, 0L, 0.0)
        }
        // Watermark ticks use event_type "view" — an event type every
        // operator's own filter KEEPS. A made-up type would be cleaner,
        // but the optimizer pushes `filter(event_type isin …)` BELOW the
        // EventTimeWatermark node (PushPredicateThroughNonJoin), so a
        // filtered-out tick would never reach the watermark statistics
        // and the protocol would be a silent no-op: windows ending
        // inside the last watermark-delay of real event time would
        // simply never close. Negative user ids (real ids are
        // non-negative) keep tick state inert — an unclaimed view
        // candidate emits nothing (funnelWindow) and is dropped by the
        // operator-side user_id >= 0 filter (st02).
        if (source.ticks) {
          addTickFile(s, fileSchema, stage, 1, maxTs + 365L * 86400000L)
          query.processAllAvailable()
          addTickFile(s, fileSchema, stage, 2, maxTs + 366L * 86400000L)
          query.processAllAvailable()
        }
        // settle-time ingest audit (see IngestAudit): the checkpoint's
        // own source log must record exactly the stage dir's visible
        // files, each once — the engine-layer guard that converts the
        // seen-files-log corruption class from silent duplicates to loud
        IngestAudit.audit(ckpt, stage)
        // row reconciliation only when the progress history is KNOWN
        // complete: a sink-count/deadline settle (signal 1/2) can detect
        // fullness between the final batch's addBatch and its progress
        // event, and the coverage guard inside reconcileStagedRows cannot
        // see a missing TAIL entry — the sum would be short and the
        // check would false-loud a passing replay. Signal 0 (the crossing
        // progress event itself was read) and -1 (processAllAvailable ran
        // to quiescence) are both complete.
        if (!multiScan && settled.signal <= 0)
          reconcileStagedRows(s, query, ckpt, stage, fileSchema)
        val batches = Option(query.lastProgress).map(_.batchId + 1).getOrElse(0L)
        // recentProgress retains (by default) far more batches than any
        // replay here runs, so these sums cover the whole query's
        // history, not a window of it
        val stateProgress = query.recentProgress
          .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        val lateDropped = stateProgress.map(_.numRowsDroppedByWatermark).sum
        val dupDropped = stateProgress
          .flatMap(so => Option(so.customMetrics.get("numDroppedDuplicateRows")))
          .map(_.longValue).sum
        val df = (extract, foreachBatch) match {
          case (Some(ex), _) =>
            // the entry under test is the persisted STATE, not the sink:
            // stop first so the state source reads a quiesced checkpoint
            // at its last committed batch, then materialize before the
            // temp dir (checkpoint included) is torn down below
            query.stop()
            ex(s, ckpt).localCheckpoint()
          case (None, Some(_)) => s.emptyDataFrame // caller reads its target
          case _ => s.table(sink).localCheckpoint()
        }
        lastFloor.set(settled.floor)
        Replayed(df, maxTs, batches, lateDropped, dupDropped)
      } finally {
        query.stop()
        s.catalog.dropTempView(sink)
      }
    } finally {
      // outer finally: the scratch (staged input + checkpoint) exists
      // even when start() throws before the inner try begins
      try org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
      catch { case _: java.io.IOException => () }
    }
  }

  /** st01: the streaming windowed funnel (EventStreams.funnelWindow) run
    * over the replayed events table, rolled up to the a06-shaped one-row
    * conversion report. The oracle is a06's SQL transposed to
    * MILLISECOND precision — funnelWindow's declared working unit
    * (`ts.getTime`); the micros-native batch twin a06 stays separately
    * green, so both precisions are pinned.
    */
  val st01_funnel_stream: Q = (s, dir) =>
    replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.funnelWindow(ds).toDF())).df
      .agg(count(col("signup_ms")).as("n_signup"),
        count(col("view_ms")).as("n_view_24h"),
        count(col("purchase_ms")).as("n_purchase_24h"))

  /** st02: the streaming cohort tracker (EventStreams.cohortUpdates →
    * cohortCounts) over the replayed events table, Complete-mode memory
    * sink — exercising the aggregation-after-flatMapGroupsWithState
    * path. Week arithmetic in ms matches a05's micros exactly
    * (floor(floor(us/1000)/wk_ms) == floor(us/wk_us)), so the oracle is
    * a05's SQL verbatim.
    */
  val st02_cohort_stream: Q = (s, dir) => st02Shaped(s, dir, Whole)

  /** st02b: the cohort tracker replayed MULTI-BATCH. Cross-batch parity
    * holds by construction: chunks are event-time-ordered, so the first
    * batch containing a user holds their earliest week — the cohort fixes
    * to the same minimum as the batch formulation, and later batches emit
    * exactly the fresh (cohort, k) hits. Same oracle SQL as st02. */
  val st02b_cohort_multibatch: Q = (s, dir) => st02Shaped(s, dir, Chunks(8))

  private def st02Shaped(s: SparkSession, dir: String, staging: Staging): DataFrame =
    replayFiles(s, dir, OutputMode.Complete(),
      // cohortUpdates tracks EVERY event type, so tick rows would need
      // dropping here anyway (they are the only negative user ids) —
      // but its state function uses GroupStateTimeout.NoTimeout, so the
      // ticks have NOTHING to fire and each would cost a full state
      // pass + Complete-mode sink rewrite (the st05 lesson): skip them
      Events(ds => EventStreams.cohortCounts(ds.filter(_.user_id >= 0L)),
        ticks = false), staging).df
      .orderBy(col("cohort_week"), col("k"))

  /** st03: the WINDOWED-AGGREGATION state path (EventStreams
    * .windowedCounts — watermarked tumbling windows in append mode, a
    * different streaming runtime path from st01/st02's
    * flatMapGroupsWithState) over the replayed events table. Append mode
    * emits a window exactly once when the watermark passes its end, so
    * the ticks both close the real windows and aggregate into their own
    * far-future buckets — stripped by the `> maxTs` filter. Oracle =
    * q23's tumbling-window SQL verbatim (same epoch-second shaping as
    * the batch twin).
    */
  val st03_windowed_stream: Q = (s, dir) => st03Shaped(s, dir, Whole)

  /** st03b: the SAME windowed aggregation replayed MULTI-BATCH — the
    * events table staged as 8 event-time-ranged chunk files consumed one
    * per micro-batch (`maxFilesPerTrigger=1`), so the watermark advances
    * between real batches and windows close progressively against live
    * state, not in the single batch-parity pass. Same oracle SQL as st03:
    * the settled result must be hash-identical. */
  val st03b_windowed_multibatch: Q = (s, dir) => st03Shaped(s, dir, Chunks(8))

  private def st03Shaped(s: SparkSession, dir: String, staging: Staging): DataFrame = {
    val r = replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.windowedCounts(ds.toDF())), staging)
    r.df.filter(col("bucket_start") <= timestamp_millis(lit(r.maxTs)))
      .select(unix_timestamp(col("bucket_start")).as("bucket_start"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("bucket_start"), col("event_type"))
  }

  /** st04: the streaming windowed TOP-K (EventStreams.topKPerWindow — the
    * streaming twin of the q29/TopKPerKey custom operator) over the
    * replayed events table: per tumbling hour, the 3 most frequent event
    * types, emitted once at watermark close from per-window keyed state.
    * Ticks form their own far-future windows (the first closes and
    * emits) — stripped by the `> maxTs` filter like st03. Ranking is
    * deterministic (count desc, type asc), so the DuckDB row_number
    * oracle matches exactly.
    */
  val st04_topk_stream: Q = (s, dir) => st04Shaped(s, dir, Whole)

  /** st04b: the windowed top-k replayed MULTI-BATCH — per-window count
    * maps accumulate across batches and each window's ranking emits once
    * when a LATER batch's watermark passes its end (not at the final
    * ticks). Same oracle SQL as st04. */
  val st04b_topk_multibatch: Q = (s, dir) => st04Shaped(s, dir, Chunks(8))

  private def st04Shaped(s: SparkSession, dir: String, staging: Staging): DataFrame = {
    val r = replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.topKPerWindow(ds).toDF()), staging)
    r.df.filter(col("window_start_ms") <= r.maxTs)
      .select(col("window_start_ms"), col("rank"), col("event_type"), col("n"))
      .orderBy(col("window_start_ms"), col("rank"))
  }

  /** st05: the STREAM-STREAM interval join (EventStreams.clickViewJoin —
    * each click matched to the same user's views in the preceding hour)
    * over the replayed events table. Inner joins emit eagerly as matches
    * arrive (the watermark only bounds buffered state), so the whole
    * result materializes in batch 1; no tick files are appended — each
    * tick batch would cost a full state pass and the join result is
    * already settled. Timestamps are emitted as epoch MICROS and the
    * oracle joins in the same µs-truncated domain — the events table is
    * nanosecond-precision on disk, and comparing at different precisions
    * would flip boundary rows.
    */
  val st05_interval_join_stream: Q = (s, dir) => st05Shaped(s, dir, Whole)

  /** st05b: the stream-stream interval join replayed MULTI-BATCH — view
    * state buffered in earlier batches must survive until the join
    * condition's reach (1h + watermark delay) allows eviction, so clicks
    * arriving batches later still find their preceding-hour views. Same
    * oracle SQL as st05. */
  val st05b_interval_join_multibatch: Q = (s, dir) => st05Shaped(s, dir, Chunks(8))

  private def st05Shaped(s: SparkSession, dir: String, staging: Staging): DataFrame =
    replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.clickViewJoin(ds.toDF()), ticks = false),
      staging, multiScan = true).df
      .select(col("user_id"), col("click_id"), col("view_id"),
        unix_micros(col("c_ts")).as("c_us"), unix_micros(col("v_ts")).as("v_us"))
      .orderBy(col("click_id"), col("view_id"))

  /** st10: the stream-stream interval join LEFT OUTER
    * (EventStreams.clickViewJoinOuter) — the state path st05 cannot
    * reach: matched rows still emit eagerly, but every UNMATCHED click
    * must be held in state until the watermark passes its join reach
    * (c_ts + 1h + delay) and only then emits null-padded. The ticks are
    * therefore load-bearing here (st05 skips them): they advance BOTH
    * sides' watermarks past the data so the join settles completely, and
    * their negative-user rows (admitted into the clicks branch by the
    * operator — see its scaladoc) are stripped by `user_id >= 0`.
    * Oracle = the batch LEFT JOIN twin in the µs-truncated domain.
    */
  val st10_interval_join_outer: Q = (s, dir) =>
    replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.clickViewJoinOuter(ds.toDF())),
      multiScan = true).df
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("click_id"), col("view_id"),
        unix_micros(col("c_ts")).as("c_us"), unix_micros(col("v_ts")).as("v_us"))
      .orderBy(col("click_id"), col("view_id"))

  /** st06: STREAMING EXACT DEDUP (EventStreams.dedupeStream —
    * `dropDuplicatesWithinWatermark`, the remaining stateful runtime path
    * not yet in the gate). The whole table is staged TWICE into batch 1,
    * so every event_id arrives exactly twice and the second occurrence is
    * dropped by a dedup-state HIT (not by chance uniqueness of the input:
    * the harness guarantees each id actually probes existing state). The
    * first-seen row is emitted immediately in append mode — no ticks
    * needed (the watermark only bounds state retention). Oracle = the
    * distinct events table, i.e. dedup must reconstruct the input
    * exactly.
    */
  val st06_dedup_stream: Q = (s, dir) =>
    replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.dedupeStream(ds.toDF()), ticks = false),
      Copies(2, batchPerCopy = false)).df
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  /** st06c: streaming exact dedup with the duplicate copy arriving in a
    * LATER micro-batch (`Copies(2, batchPerCopy = true)`): batch 1
    * delivers the whole table and populates the dedup key state, batch 2
    * re-sends every row, so each id must hit state that was committed a batch earlier —
    * the cross-batch seam st06's single-batch doubled staging cannot
    * reach. The watermark delay is widened to the table's full event-time
    * span (+ slack) because `dropDuplicatesWithinWatermark` only
    * GUARANTEES dedup of events within the delay of each other: after
    * batch 1 advances the watermark, a re-sent row older than
    * (watermark − delay) sits outside the contract and may be re-emitted
    * or state-evicted depending on eviction timing — the widened delay
    * keeps every batch-2 row inside the guarantee. The spec asserts the
    * dedup exec's `numDroppedDuplicateRows` equals the full table size:
    * every re-sent id was dropped by a state HIT across the batch
    * boundary (not late-filtered — this operator never drops late input,
    * `lateDropped` stays 0). st06 keeps the tight default delay, so
    * bounded-state retention stays covered there. Oracle = st06's (the
    * distinct events table). */
  val st06c_dedup_crossbatch: Q = (s, dir) => {
    val mm = graft.Tables.events(s, dir)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val spanMin =
      if (mm.isNullAt(0)) 10L
      else (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 60000L + 11L
    replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.dedupeStream(ds.toDF(), watermark = s"$spanMin minutes"),
        ticks = false),
      Copies(2, batchPerCopy = true)).df
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  /** st07: EVENT-TIME SESSIONIZATION (EventStreams.sessionize — keyed
    * custom state with gap-based closure, the batch twin of a03) over the
    * replayed events table. The full history lands in batch 1, so the
    * state function's intra-batch gap walk produces exactly the batch
    * sessionization; the two far-future ticks close each user's final
    * open session via the event-time timeout. Tick rows build their own
    * sessions for the negative tick user ids — the first closes and
    * emits (user -1) — stripped by the `user_id >= 0` OUTPUT filter
    * (an input-side filter would sit below the watermark node and starve
    * it, see the tick-protocol comment in [[replayFiles]]). Oracle = a03's
    * gap-split logic transposed to the MILLISECOND domain
    * (`sessionize` works on `ts.getTime`) and shaped to SessionOut;
    * total_value rounds to 2dp on both sides (the q23/st03 convention —
    * a float sum's exact bits depend on summation order).
    */
  val st07_session_stream: Q = (s, dir) => st07Shaped(s, dir, Whole)

  /** st07b: sessionization replayed MULTI-BATCH (8 event-time-ranged
    * chunks, one per micro-batch) — sessions genuinely extend across
    * batch boundaries, event-time timeouts re-arm as the watermark
    * advances between batches, and open-session state carries from batch
    * k to k+1. The round-5 intra-batch st07 bug is exactly the class of
    * defect this protocol surfaces from the other side (cross-batch
    * instead of intra-batch). Same oracle SQL as st07. */
  val st07b_session_multibatch: Q = (s, dir) => st07Shaped(s, dir, Chunks(8))

  private def st07Shaped(s: SparkSession, dir: String, staging: Staging): DataFrame =
    replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.sessionize(ds).toDF()), staging).df
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("n_events"),
        col("total_value"), col("duration_ms")) // exact cents/100.0 from the fold
      .orderBy(col("user_id"), col("n_events"), col("duration_ms"))

  /** st13: `transformWithState` (Spark 4's arbitrary-state successor to
    * flatMapGroupsWithState — named/encoded state variables + explicit
    * timer registry): per-user lifetime profile maintained in a
    * ValueState, emitted exactly once when the event-time timer at
    * lastSeen+40d fires (ticks move the watermark there) — each batch
    * REPLACES the pending timer, so multi-batch replay emits no
    * duplicates. Oracle = the plain per-user batch aggregate: however
    * the stream chunks, the settled profile must equal GROUP BY.
    */
  val st13_profile_tws: Q = (s, dir) => st13Shaped(s, dir, Whole)

  /** st13b: the same processor over 8 event-time chunks — state folds
    * and timer replacement genuinely cross batch boundaries. */
  val st13b_profile_tws_multibatch: Q = (s, dir) => st13Shaped(s, dir, Chunks(8))

  /** st14: `transformWithState` with TWO state variables (ListState +
    * ValueState) — per-user LAST-3 events kept in a ListState, merged
    * deterministically per batch and emitted as ranked rows when the
    * replaced event-time timer fires (see
    * [[EventStreams.RecentEventsProcessor]]). Oracle = the per-user
    * batch row_number top-3 by (ms desc, event_id desc): batch count
    * must be invisible.
    */
  val st14_recent_tws: Q = (s, dir) => st14Shaped(s, dir, Whole)

  /** st14b: the same processor over 8 event-time chunks — the kept list
    * genuinely merges ACROSS batches (a batch-3 event can evict a
    * batch-1 entry, and a user silent after batch 2 must still carry
    * batch-1/2 entries to the timer). */
  val st14b_recent_tws_multibatch: Q = (s, dir) => st14Shaped(s, dir, Chunks(8))

  private def st14Shaped(s: SparkSession, dir: String, staging: Staging): DataFrame =
    replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.recentEvents(ds).toDF()), staging,
      stateStore = Some("rocksdb")).df
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("rk"), col("event_id"), col("ms"))
      .orderBy(col("user_id"), col("rk"))

  /** st15: `transformWithState` MAPSTATE — the per-user event-type
    * histogram maintained by point-updates ([[EventStreams.TypeHistogramProcessor]];
    * with st13's ValueState and st14's ListState this covers all three
    * TWS state shapes). Oracle = the plain GROUP BY user_id, event_type.
    */
  val st15_type_histogram_tws: Q = (s, dir) => st15Shaped(s, dir, Whole)

  /** st15b: 8 event-time chunks — map entries accumulate ACROSS batches
    * (a type first seen in batch 1 must still count its batch-7
    * arrivals). */
  val st15b_type_histogram_multibatch: Q = (s, dir) => st15Shaped(s, dir, Chunks(8))

  private def st15Shaped(s: SparkSession, dir: String, staging: Staging): DataFrame =
    replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.typeHistogram(ds).toDF()), staging,
      stateStore = Some("rocksdb")).df
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("event_type"), col("n"))
      .orderBy(col("user_id"), col("event_type"))

  /** st16: STREAMING NEAR-DUP INGEST GATE — d02's MinHash+LSH blocking
    * as an admission filter: each arriving document is flagged near-dup
    * iff a lower-doc_id document seen so far shares one of its four LSH
    * band values, with per-(band, value) minimum owners as
    * `transformWithState` ValueState (see [[DocStreams]] for the
    * min-owner determinism argument and the stateless per-row signature).
    * The settled per-(doc, band) flags fold to a per-doc verdict and
    * LEFT-join the doc scaffold so shingle-less documents (< 3 tokens —
    * no signature, same as d02) report 0 — that fold is display-side
    * batch work over the sink; the stateful cross-batch owner tracking
    * is the streaming surface under test. Oracle recomputes the rule
    * from d02's own signature CTEs: stream ≡ batch blocking, the
    * ingest-gate-equals-retroactive-dedup guarantee.
    */
  val st16_neardup_ingest: Q = (s, dir) => st16Shaped(s, dir, Whole)

  /** st16b: the ingest gate replayed MULTI-BATCH — the documents table
    * staged as 8 doc_id-RANGED chunk files consumed one per micro-batch
    * (lower ids never arrive later, the replay leg of the min-owner
    * rule), so every cross-chunk duplicate must be caught by a state
    * HIT across the batch boundary, not by same-batch comparison. Same
    * oracle as st16. */
  val st16b_neardup_multibatch: Q = (s, dir) => st16Shaped(s, dir, Chunks(8))

  /** st18: the ingest gate under STATE TTL — [[DocStreams.nearDupFlagsTtl]]
    * with a 1-hour TTL, replayed multi-batch like st16b. At gate cadence
    * (batches ms–s apart) no owner can expire, so the output must EQUAL
    * st16's — same oracle — while the executed path is the TTL'd one:
    * processing-time mode, TTL bookkeeping on every state read/write,
    * refresh-on-update. The recall loss the knob exists for (a duplicate
    * arriving after the owner aged out is admitted) is wall-clock by
    * nature, so it is pinned deterministically in `TtlIngestGateSpec`
    * with a short TTL and controlled batch gaps; at 100 TB the TTL is
    * what bounds the owner map to the traffic of one TTL horizon instead
    * of the full corpus history. Trigger adjudication (r13, SOAK_r13b):
    * the replay measures ZERO empty batches — settlement stops the query
    * first — so `Trigger.ProcessingTime` pacing changes nothing the gate
    * can observe (replay walls differ only within run noise) and the
    * gate stays unthrottled; the linger probe in the same artifact
    * measures the LIVE-gap regime the deployment note's trigger advice
    * is actually for (unthrottled: one empty RocksDB commit every
    * ~330ms, self-limited by commit cost; an ingest-cadence trigger
    * cuts the churn proportionally). */
  val st18_neardup_ingest_ttl: Q = (s, dir) =>
    st16Shaped(s, dir, Chunks(8), ttlMillis = Some(3600L * 1000))

  /** st19: the ingest gate's PERSISTED STATE read back out of the
    * checkpoint — Spark 4's state data source
    * (`spark.read.format("statestore")`) over the transformWithState
    * store after the same 8-chunk replay as st16b. Every (band, value)
    * bucket's ValueState owner ([[DocStreams.ownerState]]) is emitted as
    * one row; the oracle recomputes the min-owner table batch-side from
    * d02's own signature CTEs (`SELECT band, h, min(doc_id) FROM bands
    * GROUP BY 1, 2` — the `own` CTE of st16's oracle, promoted to the
    * output). This pins the STATE, not just the emitted flags, equal to
    * the batch rule — and it is the production debugging surface for a
    * 100 TB gate: read who owns a bucket straight from the checkpoint,
    * no replay, no stream instrumentation, partition-parallel. The
    * zone-map audit discipline of the reference's index path
    * (osm-pbf-parquet/src/indexed.rs:175-222 — verify the derived
    * structure against the data it summarizes) applied to streaming
    * state. */
  val st19_gate_state_reader: Q = (s, dir) =>
    replayFiles(s, dir, OutputMode.Append(),
      Documents(docs => DocStreams.nearDupFlags(docs)), Chunks(8),
      extract = Some((sess, ckpt) => DocStreams.ownerState(sess, ckpt)
        // the no-TTL checkpoint has no expiry; the gate pins the domain
        // columns (the TTL'd layout's expires_ms is spec-covered)
        .select(col("band"), col("h"), col("owner"))),
      stateStore = Some("rocksdb")).df
      .orderBy(col("band"), col("h"))

  private def st16Shaped(s: SparkSession, dir: String, staging: Staging,
      ttlMillis: Option[Long] = None): DataFrame = {
    val gate: DataFrame => DataFrame = ttlMillis match {
      case Some(ttl) => docs => DocStreams.nearDupFlagsTtl(docs, ttl)
      case None => docs => DocStreams.nearDupFlags(docs)
    }
    // the TTL'd gate runs in processing-time mode and never quiesces, so
    // its replay awaits the EXACT total output size, known up front (one
    // row per input band row, whatever the batch boundaries) — see
    // awaitSinkRows. transformWithState is RocksDB-only in Spark 4 (the
    // st13 note), so every gate replay pins the provider.
    // Trigger choice, MEASURED (SOAK_r13b): at replay cadence the gate
    // commits zero empty batches either way — settlement detection stops
    // the query before the first post-data batch — so a
    // Trigger.ProcessingTime here changes nothing observable (replay
    // walls differ only within run noise). The replay therefore stays
    // UNTHROTTLED; the trigger's real job is the LIVE regime with gaps
    // between arrivals, where the unthrottled engine loops empty RocksDB
    // commits back-to-back (shouldRunAnotherBatch is unconditionally
    // true in processing-time mode) — SOAK_r13b's linger probe
    // quantifies that rate and the ingest-cadence throttle's effect.
    val awaitRows = ttlMillis.map(_ =>
      DocStreams.expectedBandRows(graft.Tables.documents(s, dir)))
    val flags = replayFiles(s, dir, OutputMode.Append(), Documents(gate), staging,
      awaitRows = awaitRows, stateStore = Some("rocksdb")).df
      .groupBy(col("doc_id")).agg(max(col("dup")).as("near_dup"))
    graft.Tables.documents(s, dir).select(col("doc_id"))
      .join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("near_dup"), lit(0L)).as("near_dup"))
      .orderBy(col("doc_id"))
  }

  private def st13Shaped(s: SparkSession, dir: String, staging: Staging): DataFrame =
    // transformWithState is RocksDB-only in Spark 4 — pin the provider
    // for this replay regardless of the process-level default
    replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.runningProfile(ds).toDF()), staging,
      stateStore = Some("rocksdb")).df
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("n_events"), col("n_purchases"), col("total_value"))
      .orderBy(col("user_id"))

  /** st12: NATIVE session-window aggregation as a stream — the SAME
    * function a09 runs as a batch query ([[EventStreams.sessionWindowAgg]];
    * `withWatermark` is a no-op in batch and the state-eviction contract
    * here). Spark's merging session state emits each (user, session) when
    * the watermark passes the window end; the far-future ticks close the
    * final open sessions. Tick rows session on their negative user ids
    * and are stripped by the output filter. Oracle = the half-open-gap
    * session SQL a09 declares (split at gap ≥ 30min, end = last + gap).
    */
  val st12_session_window_stream: Q = (s, dir) => st12Shaped(s, dir, Whole)

  /** st12b: the same merging-session aggregate replayed MULTI-BATCH (8
    * event-time-ranged chunks) — sessions spanning a chunk boundary are
    * merged BY THE STATE STORE across micro-batches (the built-in's
    * session-merge path that single-batch replay never exercises), and
    * the settled output must still equal the batch oracle. */
  val st12b_session_window_multibatch: Q = (s, dir) => st12Shaped(s, dir, Chunks(8))

  private def st12Shaped(s: SparkSession, dir: String, staging: Staging): DataFrame =
    replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.sessionWindowAgg(ds.toDF())), staging).df
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** st11: STREAMING SCD2 ([[EventStreams.scd2]] — the streaming twin of
    * the batch a08 interval build): closed dimension versions emit the
    * moment the state-change event arrives; the open version emits as
    * `is_current` when the event-time timeout fires at `lastTs + 40d`
    * (horizon > the 30-day corpus span, so within the replay only the
    * far-future ticks can fire it — "end of history"). Tick rows build
    * their own single-version state for negative user ids, stripped by
    * the OUTPUT-side filter like st07. Oracle = a08's lag/lead SQL
    * transposed to the ms domain over ALL users.
    */
  val st11_scd2_stream: Q = (s, dir) => st11Shaped(s, dir, Whole)

  /** st11b: SCD2 replayed MULTI-BATCH (8 event-time-ranged chunks):
    * version counters and the open version's state genuinely carry
    * across batch boundaries — a change in batch k closes a version
    * opened in batch j<k with the exact valid_from the earlier batch
    * recorded — and the settled result stays hash-identical to the
    * batch oracle because time-ranged chunking delivers each user's
    * events in event-time order and the 40-day horizon keeps every
    * timeout behind the in-stream watermark. */
  val st11b_scd2_multibatch: Q = (s, dir) => st11Shaped(s, dir, Chunks(8))

  private def st11Shaped(s: SparkSession, dir: String, staging: Staging): DataFrame =
    replayFiles(s, dir, OutputMode.Append(),
      Events(ds => EventStreams.scd2(ds).toDF()), staging).df
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("version"), col("state"),
        col("valid_from_ms"), col("valid_to_ms"), col("is_current"))
      .orderBy(col("user_id"), col("version"))

  /** st08: STREAM-STATIC ENRICHMENT — every micro-batch of the event
    * stream inner-joins a static broadcast dimension (customer, keyed by
    * user_id = c_custkey) inside the streaming query itself, the standard
    * "attach reference data on ingest" pipeline shape. The static side is
    * planned as a broadcast hash join per micro-batch: no stream-side
    * shuffle, no state store — at 100 TB/day of events the per-batch cost
    * is the scan plus a hash probe, and the dimension refreshes on
    * re-plan, not via state. Replayed MULTI-BATCH (4 event-time-ranged
    * chunks) because a stateless join is batch-count-invariant by
    * construction — the gate pins that invariance against the batch
    * oracle. Ticks are skipped (nothing closes on watermark), and the
    * enriched rows are rolled up post-sink by market segment; oracle =
    * the plain batch join+group SQL.
    */
  val st08_enrich_stream: Q = (s, dir) => {
    val cust = graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    replayFiles(s, dir, OutputMode.Append(),
      Events(ds => ds.toDF().join(broadcast(cust), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("value"), col("c_mktsegment")), ticks = false),
      Chunks(4)).df
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        (sum(floor(col("value") * 100 + lit(0.5))) / lit(100.0)).as("total_value"))
      .orderBy(col("c_mktsegment"))
  }

  /** st09: the EXACTLY-ONCE PARQUET SINK in the gate — st03's windowed
    * aggregation delivered through the `foreachBatch` idempotent-
    * overwrite recipe ([[EventStreams.writeBatchIdempotent]]) instead of
    * the memory sink, replayed MULTI-BATCH (4 event-time-ranged chunks —
    * enough that several `batch_id=` partitions genuinely commit, at
    * half the per-batch state/sink cost of the 8-chunk protocol
    * variants). After the stream settles, the LAST
    * batch is re-delivered through the same public body — Spark's
    * at-least-once `foreachBatch` contract means a recovery replays a
    * committed batch — and the final result is read from the parquet
    * FILES. Hash-equality vs st03's oracle therefore pins sink-path
    * delivery AND retry idempotence in one row: an append-duplicating
    * sink would double the retried batch's windows and hash-mismatch.
    * (The retry rows are localCheckpointed first — a live lineage onto
    * the same path would make the overwrite read its own target.) */
  val st09_exactly_once_sink: Q = (s, dir) => {
    val out = graft.Scratch.tempDir("graft-st09-sink").toString
    try {
      val r = replayFiles(s, dir, OutputMode.Append(),
        Events(ds => EventStreams.windowedCounts(ds.toDF())), Chunks(4),
        foreachBatch = Some((b: DataFrame, id: Long) =>
          EventStreams.writeBatchIdempotent(b, id, out)))
      val delivered = s.read.parquet(out)
      val maxBatch = delivered.agg(max(col("batch_id").cast("long")))
        .head().getLong(0)
      EventStreams.writeBatchIdempotent(
        delivered.filter(col("batch_id").cast("long") === maxBatch)
          .drop("batch_id").localCheckpoint(),
        maxBatch, out)
      s.read.parquet(out)
        .filter(col("bucket_start") <= timestamp_millis(lit(r.maxTs)))
        .select(unix_timestamp(col("bucket_start")).as("bucket_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("bucket_start"), col("event_type"))
        .localCheckpoint()
    } finally {
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      catch { case _: java.io.IOException => () }
    }
  }

  /** st17: STREAMING CDC APPLY — the exactly-once READ-MODIFY-WRITE sink
    * (see [[EventStreams.applyChangeset]] for the versioned-snapshot
    * protocol): 8 event-time chunks each MERGE into a queryable per-user
    * profile TABLE (state in the table, not the state store — the
    * pattern deployed when downstream must query the maintained state).
    * After the stream settles, the LAST batch is re-delivered through
    * the same public body with a deliberately WRONG payload (the whole
    * events table) — the `_SUCCESS` guard must skip on batchId alone; a
    * guard failure would catastrophically inflate the last version and
    * hash-mismatch, so retry idempotence is pinned by the gate itself,
    * harder than st09's benign-payload retry. Oracle = the plain
    * per-user recompute over the whole table: maintain ≡ recompute (the
    * q39 rule), now across a STREAMED apply loop. No ticks: the stream
    * side is stateless (the merge state lives in the table), so nothing
    * event-timed needs closing. */
  val st17_cdc_apply: Q = (s, dir) => {
    val target = graft.Scratch.tempDir("graft-st17-target").toString
    try {
      replayFiles(s, dir, OutputMode.Append(),
        Events(ds => ds.toDF(), ticks = false), Chunks(8),
        foreachBatch = Some((b: DataFrame, id: Long) =>
          EventStreams.applyChangeset(b, id, target)))
      val lastId = EventStreams.latestVersion(target)
        .map(p => new org.apache.hadoop.fs.Path(p).getName.drop(1).toLong)
        .getOrElse(sys.error(s"no committed version under $target"))
      EventStreams.applyChangeset( // at-least-once retry, hostile payload
        graft.Tables.events(s, dir), lastId, target)
      EventStreams.snapshotAt(s, target)
        .orderBy(col("user_id"))
        .localCheckpoint()
    } finally {
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(target))
      catch { case _: java.io.IOException => () }
    }
  }

  /** st20: TIME-TRAVEL READ over the CDC snapshot store — the read-side
    * twin of st17's apply loop. Eight changesets (deterministic
    * event-time buckets: `((ms − min) · 8) div (span+1)`, a rule the
    * oracle can recompute exactly, unlike the sampled range boundaries
    * the streamed replay stages by) build versions v0..v7, then the
    * entry reads the snapshot AS OF batch 4 via
    * [[EventStreams.snapshotAt]] — the store's
    * versioned dirs make every historical state directly queryable, the
    * audit/debug read a deployment does after the fact ("what did the
    * profile table say before Tuesday's batch?"). Oracle = the per-user
    * recompute over changesets ≤ 4 only: maintain-then-rewind ≡
    * filtered recompute. Versions ABOVE the pin exist and are committed
    * — the read proves version selection, not just latest-wins. */
  val st20_time_travel_read: Q = (s, dir) => {
    val K = 8L
    val asOf = 4L
    // stage the projected events frame ONCE (r20, guide §1.2): the K
    // changeset filters below each re-scanned the full table and
    // re-derived unix_millis — 9 scans per entry invocation where the
    // checkpointed 3-column frame serves all of them (the min/max agg
    // included). Same rows, same oracle.
    withStagedStore("graft-st20-target", eventsMs(s, dir))() { (target, ev) =>
      val mm = ev.agg(min(col("ms")), max(col("ms"))).head()
      require(!mm.isNullAt(0), "events table is empty — nothing to replay")
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val span = mx - mn + 1
      (0L until K).foreach { i =>
        EventStreams.applyChangeset(
          ev.filter(expr(s"((ms - $mn) * $K) div $span") === i)
            .select(col("user_id"), col("value")),
          i, target)
      }
      EventStreams.snapshotAt(s, target, asOf)
        .orderBy(col("user_id"))
        .localCheckpoint()
    }
  }

  /** st21: the BUCKET-PRUNED CDC apply under its design regime —
    * SKEWED changesets, live in the gate (SOAK_r14 measures the same
    * path's wall). Four changesets partition the events table by USER
    * bucket-pair (`pmod(hash(user_id), 8) div 2`), so each batch is
    * maximally clustered: batch 0 seeds the store (fallback full
    * apply), batches 1–3 each touch exactly 2 of the 8 buckets and run
    * [[EventStreams.applyChangesetPruned]]'s real pruning —
    * touched-bucket-only decode plus byte-copy-forward of the other 6
    * (CdcApplySpec pins the carried files byte-identical; the gate pins
    * the answer). The last batch is then re-delivered with a hostile
    * payload — the `_SUCCESS` guard must skip on batchId alone, same
    * discipline as st17. The batch split rule never reaches the oracle:
    * the merge is associative (count/cents sums), so the settled store
    * equals the plain per-user recompute over ALL events regardless of
    * how the batches sliced them — st17's oracle, reused verbatim. */
  val st21_cdc_apply_pruned: Q = (s, dir) => {
    val B = 8
    val prefix = s"graft_st21_${sinkId.incrementAndGet()}" // per-run: concurrent same-entry runs must not collide in the shared catalog
    val layout = EventStreams.Bucketed(prefix, B)
    // staged once (the st20 move): 4 changeset filters + the hostile
    // retry all read the same 2-column projection
    withStagedStore("graft-st21-target",
        graft.Tables.events(s, dir).select(col("user_id"), col("value")))(
        (0 until 4).foreach { i =>
          s.sql(s"DROP TABLE IF EXISTS ${prefix}_v$i")
          s.sql(s"DROP TABLE IF EXISTS ${prefix}_stage_v$i")
        }) { (target, ev) =>
      (0 until 4).foreach { i =>
        EventStreams.applyChangesetPruned(
          ev.filter(expr(s"pmod(hash(user_id), $B) div 2") === i),
          i.toLong, target, layout)
      }
      // hostile retry: same WRONG payload class as before (every row of
      // the table — the pruned apply consumes only user_id/value, so the
      // staged projection is observationally identical); the _SUCCESS
      // guard must skip on batchId alone
      EventStreams.applyChangesetPruned(ev, 3L, target, layout)
      EventStreams.snapshotAt(s, target)
        .orderBy(col("user_id"))
        .localCheckpoint()
    }
  }

  /** st22: VERSION DIFF over the BUCKETED snapshot store — the audit
    * read after st20's time-travel: not "what was the state at v3" but
    * "what changed between v3 and v7". Batch assignment is
    * `greatest(user_id mod 8, event-time-bucket)` — deterministic,
    * disjoint, SQL-recomputable, and chosen so the diff exercises BOTH
    * live classes: a user with `user_id mod 8 > 3` has NO events before
    * batch 4 (their earliest possible batch is their own mod), so v3
    * doesn't know them → `added`; a user with mod ≤ 3 is present at v3
    * with only their tb ≤ 3 events → `changed`. (`removed` needs a
    * delete-bearing merge — this store's is append-only; stated, not
    * hidden.) The store is the BUCKETED one, so the diff's full-outer
    * join runs as a zero-Exchange zero-Sort SMJ over the two versions'
    * co-bucketed catalog tables — [[EventStreams.versionDiff]]'s scale
    * contract, exercised by the gate on its own plan. Oracle: both
    * pins recomputed from the raw table under the same batch rule,
    * full-outer diffed in SQL — maintain-then-diff ≡ recompute-and-diff. */
  val st22_version_diff: Q = (s, dir) => {
    val K = 8L
    val prefix = s"graft_st22_${sinkId.incrementAndGet()}"
    val layout = EventStreams.Bucketed(prefix, 8)
    // staged once (the st20 move): one scan serves the min/max agg and
    // all 8 changeset filters
    withStagedStore("graft-st22-target", eventsMs(s, dir))(
        (0L until K).foreach(i => s.sql(s"DROP TABLE IF EXISTS ${prefix}_v$i"))) {
        (target, ev) =>
      val mm = ev.agg(min(col("ms")), max(col("ms"))).head()
      require(!mm.isNullAt(0), "events table is empty — nothing to replay")
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val span = mx - mn + 1
      (0L until K).foreach { i =>
        EventStreams.applyChangeset(
          ev.filter(greatest(pmod(col("user_id"), lit(K)),
              expr(s"((ms - $mn) * $K) div $span")) === i)
            .select(col("user_id"), col("value")),
          i, target, layout)
      }
      EventStreams.versionDiff(s, target, fromV = 3L, toV = 7L, layout)
        .orderBy(col("user_id"))
        .localCheckpoint()
    }
  }

  /** st23: DELETE-BEARING APPLY + the diff's `removed` class — the
    * right-to-be-forgotten flow end-to-end ON THE BUCKETED STORE: four
    * event-time changesets build the per-user store (v0..v3 cover the
    * whole table), then a TOMBSTONE batch
    * ([[EventStreams.applyDeletes]] — broadcast anti-join over
    * the bucketed prior preserves partition≡bucket, so the delete
    * rewrite plans with ZERO Exchange and the diff below stays a
    * co-bucketed SMJ) removes every user with
    * `user_id mod 10 = 3` as v4, with a hostile re-delivery (empty
    * tombstone set, same batchId) probing the `_SUCCESS` guard — a guard
    * failure would resurrect nothing but WOULD rewrite v4 from v3 and
    * un-delete everyone, hash-mismatching loudly. The gated result is
    * [[EventStreams.versionDiff]](3 → 4): exactly the tombstoned users,
    * classified `removed`, old state populated, new state null — the
    * third diff class st22's append-only store can't produce, proven
    * live. Oracle: the per-user recompute for the tombstoned ids with
    * the removed/NULL shape written directly in SQL. */
  val st23_cdc_delete: Q = (s, dir) => {
    val K = 4L
    val prefix = s"graft_st23_${sinkId.incrementAndGet()}"
    val layout = EventStreams.Bucketed(prefix, 8)
    // staged once (the st20 move): min/max agg, 4 changeset filters and
    // the tombstone projection all read the one checkpointed frame
    withStagedStore("graft-st23-target", eventsMs(s, dir))(
        (0L to K).foreach(i => s.sql(s"DROP TABLE IF EXISTS ${prefix}_v$i"))) {
        (target, ev) =>
      val mm = ev.agg(min(col("ms")), max(col("ms"))).head()
      require(!mm.isNullAt(0), "events table is empty — nothing to replay")
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      val span = mx - mn + 1
      (0L until K).foreach { i =>
        EventStreams.applyChangeset(
          ev.filter(expr(s"((ms - $mn) * $K) div $span") === i)
            .select(col("user_id"), col("value")),
          i, target, layout)
      }
      val tomb = ev
        .select(col("user_id")).filter(col("user_id") % 10 === 3)
      EventStreams.applyDeletes(tomb, K, target, layout)
      EventStreams.applyDeletes( // hostile retry: must skip on batchId
        tomb.limit(0), K, target, layout)
      EventStreams.versionDiff(s, target, fromV = K - 1, toV = K, layout)
        .orderBy(col("user_id"))
        .localCheckpoint()
    }
  }

  /** The events table projected to the snapshot-store entries' columns,
    * with `ts` as epoch millis. */
  private def eventsMs(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir)
      .select(col("user_id"), col("value"), unix_millis(col("ts")).as("ms"))

  /** Runs `body` over a fresh scratch snapshot-store dir and the staged
    * (checkpointed) `frame`, then unpersists the frame, runs `dropTables`
    * and deletes the dir. Staging happens INSIDE the try: a frame that
    * fails to stage (e.g. a missing events table) must not leak the dir
    * or skip the table drops. */
  private def withStagedStore[T](dirPrefix: String, frame: => DataFrame)(
      dropTables: => Unit = ())(body: (String, DataFrame) => T): T = {
    val target = graft.Scratch.tempDir(dirPrefix).toString
    var staged: Option[DataFrame] = None
    try {
      staged = Some(graft.Checkpoints.stage(frame))
      body(target, staged.get)
    } finally {
      staged.foreach(graft.CacheOps.unpersistLocalCheckpoint)
      dropTables
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(target))
      catch { case _: java.io.IOException => () }
    }
  }

  /** Multi-batch (`b`) variants exist for every stateful path where
    * cross-batch replay is hash-parity with the batch oracle: st02b/
    * st03b/st04b/st05b/st07b. st01 has NO b-variant by design — the
    * funnel's declared EPISODE semantics mean a signup arriving after a
    * prior window of the same user already closed (which multi-batch
    * watermark advancement makes real) legitimately emits a fresh
    * episode row, diverging from the single-episode batch oracle. st06's
    * doubled-staging protocol (every id must probe existing state) is
    * incompatible with time-chunked staging — its cross-batch coverage
    * comes from st06c instead, which feeds the two table copies as two
    * consecutive micro-batches (`Copies(2, batchPerCopy = true)`). */
  val all: Map[String, Q] = Map(
    "st01_funnel_stream" -> st01_funnel_stream,
    "st02_cohort_stream" -> st02_cohort_stream,
    "st02b_cohort_multibatch" -> st02b_cohort_multibatch,
    "st03_windowed_stream" -> st03_windowed_stream,
    "st03b_windowed_multibatch" -> st03b_windowed_multibatch,
    "st04_topk_stream" -> st04_topk_stream,
    "st04b_topk_multibatch" -> st04b_topk_multibatch,
    "st05_interval_join_stream" -> st05_interval_join_stream,
    "st05b_interval_join_multibatch" -> st05b_interval_join_multibatch,
    "st10_interval_join_outer" -> st10_interval_join_outer,
    "st06_dedup_stream" -> st06_dedup_stream,
    "st06c_dedup_crossbatch" -> st06c_dedup_crossbatch,
    "st07_session_stream" -> st07_session_stream,
    "st07b_session_multibatch" -> st07b_session_multibatch,
    "st08_enrich_stream" -> st08_enrich_stream,
    "st09_exactly_once_sink" -> st09_exactly_once_sink,
    "st11_scd2_stream" -> st11_scd2_stream,
    "st11b_scd2_multibatch" -> st11b_scd2_multibatch,
    "st12_session_window_stream" -> st12_session_window_stream,
    "st12b_session_window_multibatch" -> st12b_session_window_multibatch,
    "st13_profile_tws" -> st13_profile_tws,
    "st13b_profile_tws_multibatch" -> st13b_profile_tws_multibatch,
    "st14_recent_tws" -> st14_recent_tws,
    "st14b_recent_tws_multibatch" -> st14b_recent_tws_multibatch,
    "st15_type_histogram_tws" -> st15_type_histogram_tws,
    "st15b_type_histogram_multibatch" -> st15b_type_histogram_multibatch,
    "st16_neardup_ingest" -> st16_neardup_ingest,
    "st16b_neardup_multibatch" -> st16b_neardup_multibatch,
    "st17_cdc_apply" -> st17_cdc_apply,
    "st18_neardup_ingest_ttl" -> st18_neardup_ingest_ttl,
    "st21_cdc_apply_pruned" -> st21_cdc_apply_pruned,
    "st22_version_diff" -> st22_version_diff,
    "st23_cdc_delete" -> st23_cdc_delete,
    "st19_gate_state_reader" -> st19_gate_state_reader,
    "st20_time_travel_read" -> st20_time_travel_read,
  )

  /** st13/st13b twin: the plain per-user batch aggregate. Spend sums
    * per-event integer CENTS (mirroring ProfileState's fold) so the
    * arbitrary-order SUM here and the sequential stream fold are the
    * same exact integer; / 100.0 is then one IEEE division both sides. */
  private val profileOracle: String =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_purchases,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
      |    AS total_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** st14/st14b twin: per-user batch top-3 by (ms desc, event_id desc). */
  private val recentOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms FROM events),
      |r AS (
      |  SELECT user_id, event_id, ms,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY ms DESC, event_id DESC) AS INT) AS rk
      |  FROM e)
      |SELECT user_id, rk, event_id, CAST(ms AS BIGINT) AS ms
      |FROM r WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin

  /** st16/st16b twin: near-dup iff a lower doc_id shares a band value —
    * over the SAME 16-hash / 4-band signature CTEs as d02's oracle. */
  private val nearDupOracle: String =
    s"""WITH ${graft.operators.TrainingOracles.minhashCte},
       |own AS (SELECT band, h, min(doc_id) AS owner FROM bands GROUP BY 1, 2),
       |flag AS (
       |  SELECT b.doc_id,
       |    max(CASE WHEN o.owner < b.doc_id THEN 1 ELSE 0 END) AS nd
       |  FROM bands b JOIN own o ON b.band = o.band AND b.h = o.h
       |  GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(f.nd, 0) AS BIGINT) AS near_dup
       |FROM documents d LEFT JOIN flag f ON d.doc_id = f.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** st15/st15b twin: the per-user event-type histogram. */
  private val histogramOracle: String =
    """SELECT user_id, event_type, count(*) AS n
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  private val baseOracles: Map[String, String] = Map(
    // a08's SCD2 lag-collapse/lead-interval SQL transposed to the ms
    // domain over all users; the streaming side's timeout row IS the
    // NULL-lead current row here
    "st11_scd2_stream" ->
      """WITH f AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000 AS ms, event_type
        |  FROM events),
        |ch AS (
        |  SELECT *, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY ms, event_id) AS prev
        |  FROM f),
        |k AS (SELECT * FROM ch WHERE prev IS NULL OR prev != event_type)
        |SELECT user_id,
        |  row_number() OVER w AS version,
        |  event_type AS state,
        |  ms AS valid_from_ms,
        |  lead(ms) OVER w AS valid_to_ms,
        |  CASE WHEN lead(ms) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
        |FROM k WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
        |ORDER BY user_id, version""".stripMargin,
    // a03's >30min-gap session split in the ms domain, shaped to
    // (n_events, total_value, duration_ms); rows sort fully by the driver
    "st07_session_stream" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) // 1000 AS ms
        |  FROM events
        |), o AS (
        |  SELECT user_id, event_id, value, ms,
        |    CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
        |), s AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS sn
        |  FROM o
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS total_value,
        |  CAST(max(ms) - min(ms) AS BIGINT) AS duration_ms
        |FROM s GROUP BY user_id, sn
        |ORDER BY user_id, n_events, duration_ms""".stripMargin,
    // the doubled replay must collapse back to exactly the events table
    // (µs-truncated ts domain, like st05)
    "st06_dedup_stream" ->
      """SELECT event_id, epoch_ns(ts) // 1000 AS us, user_id, event_type, value
        |FROM events
        |ORDER BY event_id""".stripMargin,
    // a06's chained-min funnel at ms precision (funnelWindow's unit)
    "st01_funnel_stream" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) // 1000 AS ms FROM events
        |), s AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ms END) AS s1
        |  FROM e GROUP BY user_id
        |), v AS (
        |  SELECT e.user_id, s.s1, min(e.ms) AS v1
        |  FROM e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'view' AND e.ms >= s.s1
        |    AND e.ms <= s.s1 + 86400000
        |  GROUP BY e.user_id, s.s1
        |), p AS (
        |  SELECT e.user_id, min(e.ms) AS p1
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.ms >= v.v1
        |    AND e.ms <= v.s1 + 86400000
        |  GROUP BY e.user_id
        |)
        |SELECT count(s.s1) AS n_signup,
        |  (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view_24h,
        |  (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchase_24h
        |FROM s WHERE s.s1 IS NOT NULL""".stripMargin,
    // q23's tumbling-window aggregate verbatim (the batch twin's oracle)
    "st03_windowed_stream" ->
      """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY bucket_start, event_type""".stripMargin,
    // clicks ⋈ same-user views within the preceding hour, joined in the
    // µs-truncated domain Spark reads (events.parquet is ns on disk)
    "st05_interval_join_stream" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events)
        |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
        |  c.us AS c_us, v.us AS v_us
        |FROM e c JOIN e v
        |  ON c.user_id = v.user_id
        |  AND v.us <= c.us AND v.us >= c.us - 3600000000
        |WHERE c.event_type = 'click' AND v.event_type = 'view'
        |ORDER BY click_id, view_id""".stripMargin,
    // hourly top-3 event types; ms window index × 3 600 000 matches
    // topKPerWindow's floorDiv window key exactly for epoch-positive ts
    "st04_topk_stream" ->
      """WITH c AS (
        |  SELECT (epoch_us(ts) // 1000 // 3600000) * 3600000 AS window_start_ms,
        |    event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT window_start_ms, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY window_start_ms
        |      ORDER BY n DESC, event_type) AS INTEGER) AS rank
        |  FROM c)
        |SELECT window_start_ms, rank, event_type, n
        |FROM r WHERE rank <= 3
        |ORDER BY window_start_ms, rank""".stripMargin,
    // a05's retention triangle verbatim (week arithmetic is equal in
    // ms and micros — see scaladoc)
    "st02_cohort_stream" ->
      """WITH w AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
        |  FROM events
        |), c AS (
        |  SELECT user_id, min(wk) AS cohort_week FROM w GROUP BY user_id
        |)
        |SELECT c.cohort_week, w.wk - c.cohort_week AS k,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM w JOIN c ON w.user_id = c.user_id
        |GROUP BY c.cohort_week, w.wk - c.cohort_week
        |ORDER BY cohort_week, k""".stripMargin,
  )

  /** The multi-batch variants must settle to results hash-identical to
    * their single-batch twins — same oracle SQL by construction. */
  val oracles: Map[String, String] = baseOracles ++ Map(
    "st02b_cohort_multibatch" -> baseOracles("st02_cohort_stream"),
    "st03b_windowed_multibatch" -> baseOracles("st03_windowed_stream"),
    "st04b_topk_multibatch" -> baseOracles("st04_topk_stream"),
    "st05b_interval_join_multibatch" -> baseOracles("st05_interval_join_stream"),
    "st06c_dedup_crossbatch" -> baseOracles("st06_dedup_stream"),
    "st07b_session_multibatch" -> baseOracles("st07_session_stream"),
    "st11b_scd2_multibatch" -> baseOracles("st11_scd2_stream"),
    // st13: the settled profile must equal the plain batch aggregate,
    // however the stream was chunked
    "st13_profile_tws" -> profileOracle,
    "st13b_profile_tws_multibatch" -> profileOracle,
    // st14: the settled last-3 list must equal the batch top-3 window
    // (ms desc, event_id desc — the processor's merge order verbatim)
    "st14_recent_tws" -> recentOracle,
    "st14b_recent_tws_multibatch" -> recentOracle,
    // st15: the settled histogram must equal the plain batch GROUP BY
    "st15_type_histogram_tws" -> histogramOracle,
    "st15b_type_histogram_multibatch" -> histogramOracle,
    // st16: the ingest gate must equal the BATCH blocking rule — the
    // oracle recomputes min-owner flags from d02's own signature CTEs
    // (the unreferenced `pairs` CTE in the shared prelude is inert)
    "st16_neardup_ingest" -> nearDupOracle,
    "st16b_neardup_multibatch" -> nearDupOracle,
    // st18: at gate cadence nothing expires within the 1-hour TTL, so
    // the TTL'd gate must equal the unbounded one — same oracle
    "st18_neardup_ingest_ttl" -> nearDupOracle,
    // st19: the checkpoint's persisted owner state must equal the
    // batch-derived min-owner table — nearDupOracle's `own` CTE promoted
    // to the output shape
    "st19_gate_state_reader" ->
      s"""WITH ${graft.operators.TrainingOracles.minhashCte}
         |SELECT CAST(band AS INT) AS band, h, min(doc_id) AS owner
         |FROM bands GROUP BY 1, 2 ORDER BY band, h""".stripMargin,
    // st20: the as-of-batch-4 snapshot must equal the recompute over
    // the first five deterministic event-time-bucket changesets only —
    // the same bucket rule, re-derived in SQL
    "st20_time_travel_read" ->
      """WITH b AS (
        |  SELECT user_id, value, epoch_us(ts) // 1000 AS ms FROM events),
        |m AS (SELECT min(ms) AS mn, max(ms) AS mx FROM b)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM b, m
        |WHERE ((ms - mn) * 8) // (mx - mn + 1) <= 4
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // st22: both pins recomputed from the raw table under the same
    // greatest(user mod, time-bucket) batch rule, then full-outer
    // diffed — maintain-then-diff ≡ recompute-and-diff. Unchanged keys
    // filtered exactly as the engine filters them.
    "st22_version_diff" ->
      """WITH b AS (
        |  SELECT user_id, value, epoch_us(ts) // 1000 AS ms FROM events),
        |m AS (SELECT min(ms) AS mn, max(ms) AS mx FROM b),
        |t AS (
        |  SELECT user_id, value,
        |    greatest(user_id % 8, ((ms - mn) * 8) // (mx - mn + 1)) AS bkt
        |  FROM b, m),
        |o AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
        |  FROM t WHERE bkt <= 3 GROUP BY user_id),
        |n2 AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
        |  FROM t GROUP BY user_id)
        |SELECT coalesce(o.user_id, n2.user_id) AS user_id,
        |  CASE WHEN o.user_id IS NULL THEN 'added'
        |       WHEN n2.user_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change,
        |  o.n AS n_old, o.c AS cents_old, n2.n AS n_new, n2.c AS cents_new
        |FROM o FULL JOIN n2 ON o.user_id = n2.user_id
        |WHERE o.user_id IS NULL OR n2.user_id IS NULL
        |   OR o.n <> n2.n OR o.c <> n2.c
        |ORDER BY user_id""".stripMargin,
    // st23: the tombstoned users' full per-user state, in the diff's
    // removed/NULL shape — v0..v3 cover every event, so "old" is the
    // plain recompute and "new" is gone
    "st23_cdc_delete" ->
      """SELECT user_id, 'removed' AS change,
        |  CAST(count(*) AS BIGINT) AS n_old,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents_old,
        |  CAST(NULL AS BIGINT) AS n_new, CAST(NULL AS BIGINT) AS cents_new
        |FROM events WHERE user_id % 10 = 3
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // st17: maintain ≡ recompute across the streamed apply loop — the
    // oracle recomputes the per-user profile from the raw table; integer
    // cents make the equality exact whatever the chunking
    "st17_cdc_apply" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // st21: associative merges make the settled pruned store equal the
    // same full recompute, whatever the (skewed) batch slicing was
    "st21_cdc_apply_pruned" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // st12: the stream IS a09's function — so is its oracle
    "st12_session_window_stream" ->
      graft.operators.EventJoins.oracles("a09_session_window"),
    "st12b_session_window_multibatch" ->
      graft.operators.EventJoins.oracles("a09_session_window"),
    "st08_enrich_stream" ->
      """SELECT c_mktsegment, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    // the sink path must deliver exactly st03's windows, retry included
    "st09_exactly_once_sink" -> baseOracles("st03_windowed_stream"),
    // every click exactly once: matched rows as st05, unmatched clicks
    // null-padded (the watermark-closure emission path)
    "st10_interval_join_outer" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events)
        |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
        |  c.us AS c_us, v.us AS v_us
        |FROM (SELECT * FROM e WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM e WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        |  AND v.us <= c.us AND v.us >= c.us - 3600000000
        |ORDER BY click_id, view_id""".stripMargin)
}

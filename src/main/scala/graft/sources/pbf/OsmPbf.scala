package graft.sources.pbf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.SerializableConfiguration


/** Spark-native OSM PBF source: `.osm.pbf` → DataFrame(OsmSchema.schema).
  *
  * Architecture (the Spark re-expression of the reference's pipeline,
  * osm-pbf-parquet/src/pbf.rs:51-98):
  *
  *  1. Driver enumerates blob spans with a header-only skip-scan
  *     ([[Blobs.enumerate]]) — cheap metadata pass, same as
  *     osmpbf/src/blob.rs:426-448 / indexed.rs:145-172.
  *  2. Spans are grouped into tasks by [[planSplits]] — at most the
  *     per-task cap of decoded input each (`splitMb` on the scan), and ~2
  *     tasks per core for a small file — so task count scales with decode
  *     work, not blob count. Each task is a narrow partition: seek → read
  *     → inflate → decode → rows. No shuffle anywhere — scan→project→write
  *     is one stage, like the reference.
  *  3. IO goes through the Hadoop FileSystem API, so `file:`, `hdfs:` and
  *     `s3a:` paths all work — the reference's local/S3 split
  *     (pbf.rs:24-49) for free, with ranged reads on object stores.
  *
  * Dense-node delta chains are sequential *within* a blob, so the blob is
  * the minimum parallelism unit — identical to the reference's per-blob
  * task spawn (pbf.rs:79).
  */
object OsmPbf {

  /** Default per-task cap on decoded input for PBF reads (`splitMb`). */
  final val DefaultSplitMb = 64

  /** Ships a Hadoop conf to the tasks of a PBF read or write. A task
    * closure that holds a [[SerializableConfiguration]] deserializes the
    * whole conf (~1,000 properties, ~110 KB) again in every task; a
    * broadcast is fetched and deserialized once per executor and read
    * through `.value`, as Spark's own file sources do. The conf is copied
    * first, so tasks read a snapshot taken now, in local mode too, rather
    * than the session's live, mutable one. */
  private[pbf] def broadcastConf(sc: SparkContext, conf: Configuration): Broadcast[SerializableConfiguration] =
    sc.broadcast(new SerializableConfiguration(new Configuration(conf)))

  /** Driver-side plan: spans of every blob in the file. */
  def blobSpans(spark: SparkSession, path: String,
                stopAt: Blobs.BlobSpan => Boolean = _ => false): Seq[Blobs.BlobSpan] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try Blobs.enumerate(in, stopAt)
    finally in.close()
  }

  /** File header metadata (bbox, features, replication info) — the
    * reference's S6 operator (osmpbf/src/block.rs:15-86). One blob read —
    * enumeration stops at the first OSMHeader instead of skip-scanning
    * every blob header in the file. */
  def header(spark: SparkSession, path: String): Option[OsmHeader] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    blobSpans(spark, path, stopAt = _.blobType == Blobs.TypeOsmHeader)
      .find(_.blobType == Blobs.TypeOsmHeader).map { span =>
      val in = fs.open(p)
      try {
        in.seek(span.offset)
        val buf = new Array[Byte](span.length)
        in.readFully(buf)
        BlockDecoder.decodeHeader(Blobs.decode(buf))
      } finally in.close()
    }
  }

  /** Full scan → DataFrame via the DataSourceV2 connector
    * ([[OsmPbfDataSource]]): the decoder emits Catalyst InternalRows
    * straight into the scan (no external-Row conversion layer) and the
    * connector adds column pruning + type-predicate pushdown.
    * `splitTargetBytes` caps one task's decoded input: at planet scale
    * (~10k blobs of ~4-16MB) the 64MB cap keeps task count ~= a few
    * thousand, without scheduler pressure; a file too small to fill
    * 2 tasks per core at the cap fans out to ~2 tasks per core instead
    * ([[planSplits]]).
    */
  def read(spark: SparkSession, path: String,
           splitTargetBytes: Long = DefaultSplitMb.toLong << 20): DataFrame = {
    // the scan option is MB-granular with a 1MB floor — reject a value
    // the option cannot represent instead of silently reinterpreting it
    require(splitTargetBytes >= (1L << 20) && (splitTargetBytes & ((1L << 20) - 1)) == 0,
      s"splitTargetBytes must be a whole number of MB >= 1MB, got $splitTargetBytes")
    spark.read.format("osmpbf")
      .option("splitMb", (splitTargetBytes >> 20).toString)
      .load(path)
  }

  /** Typed view: same scan (pruning/pushdown included — the typed fields
    * Catalyst sees unused still prune), `Dataset[OsmElement]` on top. */
  def readTyped(spark: SparkSession, path: String,
                splitTargetBytes: Long = DefaultSplitMb.toLong << 20): org.apache.spark.sql.Dataset[OsmElement] = {
    import spark.implicits._
    read(spark, path, splitTargetBytes).as[OsmElement]
  }

  /** The generation the `_CURRENT` pointer names, if a pointer-committed
    * output lives at `outPath`. (graft-visible: the proof tools and specs
    * inspect the live generation directly.) */
  private[graft] def currentGenToken(fs: FileSystem, outPath: Path): Option[String] = {
    val ptr = new Path(outPath, "_CURRENT")
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      val tok = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(tok.startsWith("_gen-") && !tok.contains('/') && tok.length < 64,
        s"corrupt _CURRENT pointer under $outPath: '$tok'")
      Some(tok)
    }
  }

  /** Relative file paths of a generation `_MANIFEST` — THE one
    * interpreter of the manifest format (readCommitted, the object-store
    * proof, and the commit spec all parse through it), header-checked so
    * a format drift fails loudly everywhere at once. */
  def manifestEntries(lines: Seq[String], where: String): Seq[String] = {
    require(lines.headOption.exists(_.startsWith("v")),
      s"generation manifest $where lacks a version header")
    lines.drop(1).filter(_.nonEmpty)
  }

  /** Committed-generation read for transcode outputs, either protocol:
    * a pointer-committed output (`_CURRENT` present) resolves the live
    * generation and loads EXACTLY the manifest's files (zombie-attempt
    * files sitting in the generation dir are never read; the hive
    * `type=` partition column comes back via `basePath`); a
    * rename-committed output is read whole, GATED on `_SUCCESS` — the
    * marker that excludes the between-swaps window. An ungated
    * `spark.read.parquet(out)` stays available for rename-mode outputs,
    * same as any committer-based pipeline; this entry point is the
    * gated discipline. */
  def readCommitted(spark: SparkSession, out: String): DataFrame = {
    val rawOut = new Path(out.stripSuffix("/"))
    val fs = rawOut.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val outPath = fs.makeQualified(rawOut)
    // a committed-but-EMPTY output (header-only PBF: zero data blobs
    // commit zero files) has nothing to infer a schema from —
    // spark.read.parquet() with no paths throws. Committed means
    // readable: return an empty frame with the engine's schema (the
    // default 13-column shape; LocationsOnWays adds its trailing column
    // only via rows, so an empty output has none to carry).
    def emptyCommitted: DataFrame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), OsmSchema.schema)
    currentGenToken(fs, outPath) match {
      case Some(tok) =>
        val gen = new Path(outPath, tok)
        val mf = new Path(gen, "_MANIFEST")
        val in = fs.open(mf)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toVector finally in.close()
        val files = manifestEntries(lines, mf.toString)
          .map(rel => new Path(gen, rel).toString)
        if (files.isEmpty) emptyCommitted
        else spark.read.option("basePath", gen.toString).parquet(files: _*)
      case None =>
        val marker = new Path(outPath, "_SUCCESS")
        require(fs.exists(marker),
          s"no _CURRENT pointer and no _SUCCESS marker under $outPath — " +
            "refusing an ungated read of a possibly mid-commit output")
        // the marker carries the committed part-file count (this
        // engine's rename commit writes it) — a point-lookup signal
        // that stays consistent where the LIST a parquet read relies on
        // can lag, so "committed empty", "nothing listable yet", and
        // "partially listed" are all distinguishable. Version-stable
        // empty-inference classification via the error condition.
        def inferFailed(e: org.apache.spark.sql.AnalysisException): Boolean =
          Option(e.getCondition).exists(_.startsWith("UNABLE_TO_INFER_SCHEMA")) ||
            Option(e.getMessage).exists(
              _.toLowerCase.contains("unable to infer schema"))
        val recorded: Option[Long] = {
          val in = fs.open(marker)
          val txt = try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim finally in.close()
          scala.util.Try(txt.toLong).toOption
        }
        recorded match {
          case Some(0L) => emptyCommitted
          case Some(nFiles) =>
            val df =
              try spark.read.parquet(outPath.toString)
              catch {
                case e: org.apache.spark.sql.AnalysisException if inferFailed(e) =>
                  throw new java.io.IOException(
                    s"$nFiles committed part files under $outPath but parquet " +
                      "discovery found none — lagging listing or lost files", e)
              }
            val seen = df.inputFiles.length
            if (seen < nFiles)
              throw new java.io.IOException(
                s"committed $nFiles part files under $outPath but discovery " +
                  s"lists only $seen — lagging listing or lost files")
            df
          case None =>
            // a marker without a count (foreign committer): attempt the
            // read and treat only a failed schema inference as empty
            try spark.read.parquet(outPath.toString)
            catch {
              case e: org.apache.spark.sql.AnalysisException if inferFailed(e) =>
                emptyCommitted
            }
        }
    }
  }

  /** Decode-work weight of one blob: decoded payload bytes when known,
    * else the format's 32MB worst case. */
  def spanWeight(s: Blobs.BlobSpan): Long =
    if (s.rawSize >= 0) math.max(s.rawSize, s.length).toLong
    else Blobs.MaxBodyBytes.toLong

  /** Groups data-blob spans into ~`targetBytes` chunks of DECODED input so
    * task count scales with decode work, not blob count. The packing step
    * of [[planSplits]].
    *
    * Each blob is weighted by its decoded payload size (`Blob.raw_size`,
    * captured during enumeration): compressed bytes under-measure decode
    * work when blobs compress extremely well (delta-coded dense nodes can
    * zlib 100:1+), which previously forced a blobs-per-group cap that
    * serialized many-tiny-blob files into undersized tasks. A blob with
    * unknown raw_size is weighted at the format's worst case. A group
    * never splits a single blob, so a many-huge-blob file still fans out
    * to one task per blob, the reference's own parallelism unit
    * (pbf.rs:79).
    */
  def groupSpans(spans: Seq[Blobs.BlobSpan], targetBytes: Long): Seq[Array[Blobs.BlobSpan]] = {
    def weight(s: Blobs.BlobSpan): Long = spanWeight(s)
    val groups = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[Blobs.BlobSpan]]
    var acc = 0L
    spans.foreach { s =>
      if (groups.isEmpty || acc + weight(s) > targetBytes) {
        groups += scala.collection.mutable.ArrayBuffer(s); acc = weight(s)
      } else { groups.last += s; acc += weight(s) }
    }
    groups.map(_.toArray).toSeq
  }

  /** The split plan of every PBF read — the `osmpbf` scan (full and
    * pre-planned span scans), the zone-map index build and the transcode.
    * `capBytes` is the CEILING on one task's decoded input (its memory
    * bound); a smaller input shrinks the split toward ~2 tasks per core,
    * with a 1MB floor, so a modest file still uses the whole cluster
    * instead of one task. The same rule as Spark's own file sources
    * (`FilePartition.maxSplitBytes`). `parallelism` is the session's
    * `defaultParallelism`.
    */
  def planSplits(spans: Seq[Blobs.BlobSpan], capBytes: Long,
                 parallelism: Int): Seq[Array[Blobs.BlobSpan]] = {
    val totalWeight = spans.iterator.map(spanWeight).sum
    val autoTarget = math.max(1L << 20, totalWeight / (2L * math.max(parallelism, 1)))
    groupSpans(spans, math.min(capBytes, autoTarget))
  }

  /** Estimate of parquet bytes/row from a sample of decoded rows: measure
    * their UnsafeRow footprint and apply a conservative on-disk factor
    * (columnar encoding + zstd typically lands well under in-memory row
    * size). Used to turn the reference's byte-targeted file rotation
    * (--file-target-mb, sink.rs:82-105) into `maxRecordsPerFile` — Spark's
    * writer counts rows, not bytes (SURVEY.md §2.3 K4).
    */
  def estimateRowBytes(spark: SparkSession, path: String, sampleRows: Int = 10000): Double = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val span = blobSpans(spark, path, stopAt = _.blobType == Blobs.TypeOsmData)
      .find(_.blobType == Blobs.TypeOsmData)
      .getOrElse(throw new PbfFormatException(s"no data blobs in $path"))
    val in = fs.open(p)
    val rows = try {
      in.seek(span.offset)
      val buf = new Array[Byte](span.length)
      in.readFully(buf)
      BlockDecoder.decodeBlockInternal(Blobs.decode(buf), BlockDecoder.FullProjection)
        .take(sampleRows).toSeq
    } finally in.close()
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(OsmSchema.schema)
    val memBytes = rows.map(r => proj(r).getSizeInBytes.toLong).sum
    val onDiskFactor = 0.35 // columnar + zstd vs UnsafeRow, conservative
    math.max(memBytes.toDouble / math.max(rows.size, 1) * onDiskFactor, 8.0)
  }

  /** Progress snapshot surfaced by the transcode monitor (the reference's
    * 60s element-counter tick, pbf.rs:100-126 / util.rs:20). One final
    * event always fires at job end so short jobs still report. */
  final case class TranscodeProgress(elements: Long, inputBytes: Long, seconds: Double)

  private def defaultProgressLog(p: TranscodeProgress): Unit = {
    val e = if (p.elements >= 1000000000L) f"${p.elements / 1e9}%.2fB"
      else if (p.elements >= 1000000L) f"${p.elements / 1e6}%.2fM"
      else p.elements.toString
    System.err.println(f"[graft.transcode] processed $e elements " +
      f"(${p.inputBytes >> 20} MB compressed input) in ${p.seconds}%.0f s")
  }

  /** The reference's whole CLI pipeline (main.rs → pbf_driver → parquet):
    * transcode a PBF into hive-partitioned zstd parquet,
    * `type=node/way/relation` (sink.rs:166-179 path layout).
    *
    * Single pass, task-owned columnar writers — the Spark re-expression of
    * the reference's worker→sink-pool architecture (pbf.rs:51-98,
    * sink.rs:29-44):
    *  - ONE narrow job over blob-span groups: each task seeks, inflates and
    *    decodes its blobs exactly once and routes rows by type to up to 3
    *    parquet-mr writers it owns ([[DirectParquet.RotatingWriter]]). No
    *    shuffle, no dynamic-partition sort, no re-inflation per type.
    *  - the decoder's InternalRows feed the column buffers of
    *    [[DirectParquet.ColumnarWriter]] directly — no DataFrame-writer
    *    conversion layer (the round-1 throughput floor).
    *  - file rotation is byte-accurate from the writer's own size feedback
    *    (`--file-target-mb`, default 500 like util.rs:62-63), replacing the
    *    sampled bytes/row heuristic. It applies within one task: each task
    *    writes its own files, and a task's input is capped at
    *    `inputBufferSizeMb` of decoded blobs, so files end far below the
    *    target on inputs of any size.
    *  - the `type` column stays directory-only, exactly like the reference
    *    (osm_arrow.rs:52-54) — readers get it back via partition discovery.
    *  - PBF files sort nodes→ways→relations, so almost every task opens a
    *    single writer; only type-boundary tasks hold 2-3.
    *
    * Returns per-type element counts (the reference's A1 global counter,
    * util.rs:20 / pbf.rs:192-210). `onProgress` is invoked every
    * `progressIntervalMs` from a driver-side monitor (C4 parity) and once
    * at completion.
    */
  def transcode(spark: SparkSession, config: PbfConfig,
                onProgress: TranscodeProgress => Unit = defaultProgressLog,
                progressIntervalMs: Long = 60000L): Map[String, Long] = {
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    config.validate()
    val sc = spark.sparkContext
    // Lightweight task-commit protocol: every ATTEMPT writes files whose
    // names carry its globally-unique taskAttemptId, and returns the list
    // of names it wrote. Exactly one successful attempt per partition
    // reaches collect(), so job commit renames precisely the files the
    // winning attempts named into the live type= dirs, file by file — a
    // zombie attempt (executor presumed lost but still writing:
    // heartbeat-timeout relaunch, or speculation) cannot publish anything:
    // it can't collide on a filename (attempt-unique tags), and a file it
    // writes at ANY point — even after commit begins — sits in `_staging`
    // until the final recursive delete, never renamed. Exercised by a
    // REAL task retry in OsmPbfSparkSpec via the fail-once seam below.
    // Speculation is still refused: its duplicate work buys nothing on
    // this one-stage job.
    require(!sc.getConf.getBoolean("spark.speculation", defaultValue = false),
      "transcode requires spark.speculation=false: duplicate speculative " +
        "attempts only duplicate decode work on this one-stage sink")
    val allSpans = blobSpans(spark, config.input)
    // unknown blob types fail typed, matching pbf.rs:85-87
    allSpans.find(s => s.blobType != Blobs.TypeOsmData && s.blobType != Blobs.TypeOsmHeader)
      .foreach(s => throw new PbfFormatException(
        s"unknown blob type '${s.blobType}' at offset ${s.offset}"))
    val dataSpans = allSpans.filter(_.blobType == Blobs.TypeOsmData)
    // the configured buffer size is the per-task cap
    val groups = planSplits(dataSpans, config.inputBufferSizeMb.toLong << 20, sc.defaultParallelism)

    val hc = new Configuration(sc.hadoopConfiguration)
    // parquet-mr codec-level knob; 1-22 like the reference (util.rs:100-104)
    hc.setInt("parquet.compression.codec.zstd.level", math.max(config.compression, 1))
    val codec = if (config.compression == 0) CompressionCodecName.UNCOMPRESSED
      else CompressionCodecName.ZSTD

    val types = Seq(OsmSchema.TypeNode, OsmSchema.TypeWay, OsmSchema.TypeRelation)
    // QUALIFIED on the driver: a relative output (the default "./parquet")
    // would otherwise resolve against each EXECUTOR's working directory in
    // the tasks while the staging/commit logic resolves against the
    // driver's — part files landing in executor-local scratch, an empty
    // committed output, and nonzero returned counts (silent data loss;
    // Spark's own sinks makeQualified for exactly this reason)
    val rawOut = new Path(config.output.stripSuffix("/"))
    val ofs = rawOut.getFileSystem(hc)
    val outPath = ofs.makeQualified(rawOut)
    val outRoot = outPath.toString
    // Two commit protocols (see PbfConfig.commitMode):
    //  - "rename" (default, HDFS-class stores): tasks write into a
    //    `_staging` dir (underscore-prefixed: invisible to parquet
    //    partition discovery even if a crashed run leaves it behind);
    //    type= dirs swap into place only after the job SUCCEEDS. Two
    //    invariants fall out: a mid-run failure leaves the previous good
    //    output untouched, and a re-run with fewer tasks can't inherit
    //    stale deterministic-named part files from a wider previous run.
    //  - "pointer" (object stores — S3-class, no atomic rename): tasks
    //    write ONCE into a fresh `_gen-<token>` generation dir and the
    //    commit never renames anything; see the commit branch below.
    val pointerMode = config.commitMode == PbfConfig.CommitPointer
    val genToken = s"_gen-${java.util.UUID.randomUUID().toString.take(12)}"
    val staging = new Path(outPath, if (pointerMode) genToken else "_staging")
    // GC stale generations from PREVIOUS runs (everything except the one
    // `_CURRENT` names) — deferred to run START rather than done at the
    // superseding commit, so readers of the last-committed generation
    // keep a full inter-run grace window (a commit never races a reader
    // that resolved the pointer moments earlier; production would widen
    // this to a TTL). Runs in BOTH modes: a rename commit retires the
    // pointer but leaves its generation for this grace window, so the
    // next run of either protocol is what reclaims it.
    locally {
      val current = currentGenToken(ofs, outPath)
      Option(ofs.globStatus(new Path(outPath, "_gen-*"))).getOrElse(Array.empty)
        .filter(st => st.isDirectory && !current.contains(st.getPath.getName))
        .foreach(st => ofs.delete(st.getPath, true))
      // a live `_CURRENT` also marks any rename-mode root remnants
      // (type= dirs, `_SUCCESS`) as superseded — a crash between a
      // pointer commit's PUT and its post-flip retirement can leave
      // them; sweep them here with the same start-of-run timing
      if (current.nonEmpty) {
        val m = new Path(outPath, "_SUCCESS")
        if (ofs.exists(m)) ofs.delete(m, false)
        types.foreach { t =>
          val d = new Path(outPath, s"type=$t")
          if (ofs.exists(d)) ofs.delete(d, true)
        }
      }
    }
    if (!pointerMode && ofs.exists(staging)) ofs.delete(staging, true)
    types.foreach(t => ofs.mkdirs(new Path(staging, s"type=$t")))
    val writeSub = staging.getName

    val elemAcc = sc.longAccumulator("graft.transcode.elements")
    val byteAcc = sc.longAccumulator("graft.transcode.inputBytes")
    val t0 = System.nanoTime()
    @volatile var running = true
    val monitor = new Thread(() => {
      while (running) {
        try Thread.sleep(progressIntervalMs)
        catch { case _: InterruptedException => () }
        if (running)
          // a throwing callback must not kill the monitor mid-job (a
          // multi-hour transcode would silently stop reporting)
          try onProgress(TranscodeProgress(elemAcc.value, byteAcc.value, (System.nanoTime() - t0) / 1e9))
          catch { case e: Exception =>
            System.err.println(s"[graft.transcode] progress callback failed: $e")
          }
      }
    }, "graft-transcode-monitor")
    monitor.setDaemon(true)
    monitor.start()

    val input = config.input
    val fileTargetBytes = config.fileTargetMb.getOrElse(500).toLong << 20
    val maxRecords = config.maxRecordsPerFile
    val rowGroupBytes = config.rowGroupTargetMb.toLong << 20
    val rowGroupRows = config.maxRowGroupRows
    val hconf = broadcastConf(sc, hc)
    try {
      // valid empty PBF (header-only): zero data blobs must commit empty
      // type= dirs and return zero counts, not crash parallelize(_, 0)
      val perTask = if (groups.isEmpty) Array.empty[(Array[Long], Seq[String])]
      else sc.parallelize(groups, groups.size).mapPartitions { groupIter =>
        val conf = hconf.value.value
        val tc = org.apache.spark.TaskContext.get()
        val taskId = tc.partitionId()
        // attempt-unique file tag: no two attempts of a partition ever
        // share a staging filename (see the commit-protocol note above)
        val attemptTag = s"$taskId-a${tc.taskAttemptId()}"
        val fsPath = new Path(input)
        val fs = fsPath.getFileSystem(conf)
        val in = fs.open(fsPath)
        val nodeU = org.apache.spark.unsafe.types.UTF8String.fromString(OsmSchema.TypeNode)
        val wayU = org.apache.spark.unsafe.types.UTF8String.fromString(OsmSchema.TypeWay)
        val writers = new Array[DirectParquet.RotatingWriter](3)
        def writerFor(i: Int, t: String): DirectParquet.RotatingWriter = {
          if (writers(i) == null)
            writers(i) = new DirectParquet.RotatingWriter(
              new Path(s"$outRoot/$writeSub/type=$t"), conf, codec, attemptTag,
              fileTargetBytes, maxRecords, rowGroupBytes, rowGroupRows)
          writers(i)
        }
        try {
          var batched = 0L
          groupIter.foreach { group =>
            group.foreach { span =>
              in.seek(span.offset)
              val buf = new Array[Byte](span.length)
              in.readFully(buf)
              byteAcc.add(span.length)
              // reuseDense: the write loop consumes each row before the
              // next is produced, so dense-node rows arrive through one
              // refilled SpecificInternalRow — no per-element row
              // allocation or boxing on the 89%-of-planet path
              BlockDecoder.decodeBlockInternal(Blobs.decode(buf), BlockDecoder.FullProjection,
                  reuseDense = true)
                .foreach { row =>
                  val t = row.getUTF8String(12)
                  val w =
                    if (t.equals(nodeU)) writerFor(0, OsmSchema.TypeNode)
                    else if (t.equals(wayU)) writerFor(1, OsmSchema.TypeWay)
                    else writerFor(2, OsmSchema.TypeRelation)
                  w.write(row)
                  batched += 1
                }
              elemAcc.add(batched); batched = 0L
            }
          }
        } finally {
          // close EVERY resource even when an earlier close throws — a
          // first-writer flush failure (disk full) must not leak the
          // remaining writers' compressor buffers or the input stream on
          // a long-lived executor that will retry this task
          var closeErr: Throwable = null
          (writers.iterator.filter(_ != null).map(w => () => w.close()) ++
            Iterator(() => in.close())).foreach { c =>
            try c()
            catch { case t: Throwable =>
              if (closeErr == null) closeErr = t else closeErr.addSuppressed(t)
            }
          }
          if (closeErr != null) throw closeErr
        }
        // TEST SEAM (retry-commit pin): attempt 0 of the named partition
        // dies HERE — after its staging files are closed and durable, the
        // exact state a lost-executor relaunch leaves behind — so the spec
        // can drive Spark's real task retry through the commit protocol
        // and assert the loser's completed files are never published.
        // Inert in production: the key is unset.
        if (conf.getInt("graft.test.transcode.failPartitionOnce", -1) == taskId &&
            tc.attemptNumber() == 0)
          throw new RuntimeException(
            s"graft.test: injected post-write failure, partition $taskId attempt 0")
        Iterator.single((Array(
          if (writers(0) != null) writers(0).total else 0L,
          if (writers(1) != null) writers(1).total else 0L,
          if (writers(2) != null) writers(2).total else 0L),
          writers.iterator.filter(_ != null).flatMap(w => w.fileNames.map(n =>
            s"${w.typeName}/$n")).toSeq))
      }.collect()
      // job succeeded: publish EXACTLY the files the winning attempts
      // reported. Two hazards shape the protocol:
      //  - ZOMBIE attempts (executor presumed lost but still writing):
      //    publishing the whole task-staging dir (sweep + dir-rename, the
      //    pre-r17 protocol) left a window where a zombie could open a NEW
      //    staging file after the sweep and ride the dir rename into
      //    committed output as duplicate rows. So only MANIFEST-NAMED
      //    files are ever moved — and they are moved into a fresh
      //    `_staging/_publish/type=` dir that no task ever writes to
      //    (writers are constructed on `_staging/type=` only).
      //  - PARTIAL publication: renaming files one-by-one straight into
      //    the live dir would, on a mid-loop failure, leave a readable
      //    live dir holding a SUBSET of rows after the previous output was
      //    already destroyed — a silent-partial read for any later
      //    consumer. So the per-file moves all happen under `_staging`
      //    (invisible to parquet discovery), and each type= goes live in
      //    ONE dir rename: a type dir is always old-complete,
      //    new-complete, or absent. What per-type renames CANNOT make
      //    atomic is the set of three swaps itself — a crash between them
      //    leaves a root read (`spark.read.parquet(out)`) mixing
      //    generations or missing a type via partition discovery. That
      //    residual window gets the industry-standard marker: `_SUCCESS`
      //    is deleted before the first swap and recreated only after all
      //    three complete, so any consumer that gates on it (as every
      //    committer-based pipeline does) reads only fully-committed
      //    generations.
      // Hadoop FileSystem.rename reports failure by returning false, not
      // throwing — a silently-ignored false would report success while
      // committed files are missing.
      val expected = perTask.iterator.flatMap(_._2).toSet
      if (pointerMode) {
        // RENAME-FREE object-store commit (the reference never renames
        // either: multipart PUT via object_store::BufWriter,
        // sink.rs:119-132). Data files were written ONCE into the
        // generation dir — PUT-visible, so a dying writer leaves no
        // partial object on a real store. Publication is two small
        // writes: a `_MANIFEST` naming exactly the winning attempts'
        // files, then ONE `_CURRENT` pointer PUT — a single-object
        // overwrite, which every object store makes atomic. A crash
        // anywhere before the pointer PUT leaves the previous generation
        // fully live — whether that generation is pointer-committed or a
        // rename-committed root (its marker and dirs are retired only
        // AFTER the flip, below); after it, the new one; no
        // readCommitted reader can observe a mix and no rename-atomicity
        // is assumed anywhere. Zombie attempts
        // can drop files into the generation dir at ANY point, but
        // readCommitted loads only manifest-named files, so they are
        // never read — logged here, reclaimed with the generation by a
        // later run's GC.
        val manifest = new Path(staging, "_MANIFEST")
        val mo = ofs.create(manifest, true)
        try mo.write(("v1\n" + expected.toSeq.sorted.mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally mo.close()
        val listed = scala.collection.mutable.HashSet[String]()
        types.foreach { t =>
          ofs.listStatus(new Path(staging, s"type=$t")).foreach { st =>
            if (st.isFile && !st.getPath.getName.startsWith(".")) {
              val rel = s"type=$t/${st.getPath.getName}"
              listed += rel
              if (!expected.contains(rel))
                System.err.println("[graft.transcode] non-winning generation " +
                  s"file never published: $rel")
            }
          }
        }
        // commit-time missing-winning-file detection (parity with the
        // rename protocol, where a vanished staging file fails its rename
        // loudly): every manifest-named file must exist BEFORE the pointer
        // flips, so a lost task output or store inconsistency surfaces at
        // the WRITER — which can retry — not at an arbitrary future reader.
        // The listings the zombie audit just took answer this for free; a
        // per-file HEAD runs only for names the listing missed, because
        // object-store listings can LAG writes while point lookups stay
        // read-after-write consistent — a listing-only diff would
        // false-fail a healthy commit under lag, and HEAD-for-everything
        // would double the commit's metadata traffic
        expected.foreach { rel =>
          if (!listed.contains(rel) && !ofs.exists(new Path(staging, rel)))
            throw new java.io.IOException(
              s"transcode commit: winning attempt's generation file missing: $rel")
        }
        val po = ofs.create(new Path(outPath, "_CURRENT"), true)
        try po.write(genToken.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally po.close()
        // POST-flip retirement of a previously RENAME-committed root:
        // its `_SUCCESS` marker and type= dirs are superseded the moment
        // the pointer PUT lands, and must not stay silently readable —
        // the marker feeds committer-gated root readers, the dirs a
        // fully ungated `spark.read.parquet(out)` (explicitly supported
        // while the output was rename-mode). Retiring AFTER the flip
        // keeps the protocol's crash guarantee intact: a crash anywhere
        // BEFORE the PUT leaves the previous generation fully live
        // (marker, dirs, and all); a crash between the PUT and this
        // cleanup leaves stale-but-complete root remnants that the next
        // run's start GC sweeps (`_CURRENT` being live marks them
        // superseded). Failures here are logged, not thrown — the
        // commit is already durable.
        try {
          val staleSuccess = new Path(outPath, "_SUCCESS")
          if (ofs.exists(staleSuccess)) ofs.delete(staleSuccess, false)
          types.foreach { t =>
            val staleRoot = new Path(outPath, s"type=$t")
            if (ofs.exists(staleRoot)) ofs.delete(staleRoot, true)
          }
        } catch { case e: java.io.IOException =>
          System.err.println("[graft.transcode] post-flip retirement of " +
            s"the superseded rename-mode root failed ($e) — the next " +
            "run's start GC sweeps it")
        }
        return types.zipWithIndex.map { case (t, i) => t -> perTask.map(_._1(i)).sum }.toMap
      }
      val publish = new Path(staging, "_publish")
      types.foreach { t =>
        val pubDir = new Path(publish, s"type=$t")
        if (!ofs.mkdirs(pubDir))
          throw new java.io.IOException(s"transcode commit: failed to create $pubDir")
        expected.iterator.filter(_.startsWith(s"type=$t/")).foreach { rel =>
          val name = rel.substring(rel.indexOf('/') + 1)
          if (!ofs.rename(new Path(staging, rel), new Path(pubDir, name)))
            throw new java.io.IOException(
              s"transcode commit: rename $rel -> $pubDir/$name failed " +
                "(winning attempt's staging file missing or target exists)")
        }
        // audit trail: anything left behind in task staging was written by
        // a non-winning attempt and will be discarded unpublished
        ofs.listStatus(new Path(staging, s"type=$t")).foreach { st =>
          if (st.isFile)
            System.err.println(
              s"[graft.transcode] discarding non-winning staging file type=$t/${st.getPath.getName}")
        }
      }
      val successMarker = new Path(outPath, "_SUCCESS")
      // entering the swap window: a FAILED delete (returns false, does not
      // throw) would leave the PREVIOUS generation's marker live across
      // the very window it guards — check it like every rename here
      if (ofs.exists(successMarker) && !ofs.delete(successMarker, false))
        throw new java.io.IOException(
          s"transcode commit: failed to remove stale $successMarker")
      types.foreach { t =>
        val live = new Path(outPath, s"type=$t")
        if (ofs.exists(live) && !ofs.delete(live, true))
          throw new java.io.IOException(s"transcode commit: failed to remove previous $live")
        if (!ofs.rename(new Path(publish, s"type=$t"), live))
          throw new java.io.IOException(
            s"transcode commit: rename ${new Path(publish, s"type=$t")} -> $live failed")
      }
      // a previously POINTER-committed output leaves a `_CURRENT` pointer
      // naming a now-superseded generation, and readCommitted checks it
      // FIRST — it must be gone before the root goes live under
      // `_SUCCESS`, or the gated reader silently serves the old
      // generation forever. Ordering: keep the pointer through the swaps
      // (a crash mid-swap then still resolves the LAST-committed,
      // consistent generation), delete it here, then create the marker —
      // a crash between the two leaves neither gate live: loud, never
      // stale
      val stalePtr = new Path(outPath, "_CURRENT")
      if (ofs.exists(stalePtr) && !ofs.delete(stalePtr, false))
        throw new java.io.IOException(
          s"transcode commit: failed to remove stale $stalePtr")
      // all three swaps complete. The marker carries the committed
      // part-file COUNT: a consistent point-lookup signal that lets
      // readCommitted tell "committed empty" from "files not yet
      // listable" and detect a partial listing — an object store's LIST
      // can lag its PUTs, so a read attempt alone cannot
      val sm = ofs.create(successMarker, true)
      try sm.write(expected.size.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally sm.close()
      ofs.delete(staging, true)
      // the retired pointer's generation dir is deliberately NOT
      // reclaimed here: a reader that resolved `_CURRENT` moments before
      // this commit still holds lazy references into it, and the pointer
      // protocol's grace discipline (GC at the NEXT run's start, either
      // mode) applies to it the same as to any superseded generation.
      // It is `_`-prefixed, so root parquet reads never see it.
      types.zipWithIndex.map { case (t, i) => t -> perTask.map(_._1(i)).sum }.toMap
    } finally {
      running = false
      monitor.interrupt()
      hconf.destroy()
      // inside a finally: a throwing callback would REPLACE the job's
      // real exception (e.g. the decode error) as the reported failure
      try onProgress(TranscodeProgress(elemAcc.value, byteAcc.value, (System.nanoTime() - t0) / 1e9))
      catch { case e: Exception =>
        System.err.println(s"[graft.transcode] final progress callback failed: $e")
      }
    }
  }

}

/** CLI/config surface mirroring the reference's clap Args
  * (osm-pbf-parquet/src/util.rs:24-64) with its validation rules
  * (util.rs:80-127).
  */
final case class PbfConfig(
    input: String,
    output: String = "./parquet",
    compression: Int = 3,
    inputBufferSizeMb: Int = 16,
    maxRecordsPerFile: Long = 5000000L,
    fileTargetMb: Option[Int] = None,
    /** parquet row-group byte target (`parquet.block.size` analog);
      * controls scan parallelism of the output. */
    rowGroupTargetMb: Int = 128,
    /** max rows per row group — `--max-row-group-count`
      * (util.rs:57-59, sink.rs:146-148) parity. */
    maxRowGroupRows: Option[Int] = None,
    /** Commit protocol: [[PbfConfig.CommitRename]] (default) publishes
      * via per-type directory swaps and is correct ONLY on stores with
      * atomic rename (HDFS-class); [[PbfConfig.CommitPointer]] writes
      * each data file once into a generation dir and commits with a
      * single `_CURRENT` pointer PUT — the object-store-safe protocol
      * (S3 has no atomic rename; S3A rename is copy+delete). Pointer
      * outputs are read with [[OsmPbf.readCommitted]]. */
    commitMode: String = PbfConfig.CommitRename) {

  def validate(): Unit = {
    require(commitMode == PbfConfig.CommitRename ||
        commitMode == PbfConfig.CommitPointer,
      s"commitMode must be '${PbfConfig.CommitRename}' or " +
        s"'${PbfConfig.CommitPointer}': $commitMode")
    require(input.endsWith(".pbf") || input.endsWith(".osm.pbf"),
      s"input must end with .pbf/.osm.pbf: $input") // util.rs:81-85
    require(compression >= 0 && compression <= 22,
      s"compression must be 0-22 (0 = uncompressed): $compression") // util.rs:100-104
    require(inputBufferSizeMb > 0, "input buffer must be positive")
    require(maxRecordsPerFile > 0, "maxRecordsPerFile must be positive")
    require(fileTargetMb.forall(_ > 0), "file target must be positive") // util.rs:121-125
    require(rowGroupTargetMb > 0, "row group target must be positive")
    require(maxRowGroupRows.forall(_ > 0), "max row group count must be positive") // util.rs:57-59
    // (no require on scheme×commitMode: the engine cannot know whether an
    // arbitrary Hadoop FS scheme has atomic rename — the choice is the
    // operator's, documented on commitMode; ObjectStoreCommitSpec shows
    // exactly what each protocol does under object-store semantics)
    // No scheme allowlist. The reference hard-splits s3:// vs plain
    // paths because it has exactly two IO backends (util.rs:129-151);
    // this engine has ONE generic backend — the Hadoop FileSystem API —
    // so any scheme with a registered FS implementation (s3a:, hdfs:,
    // viewfs:, gs:, abfs:, a test scheme) works, and an unregistered
    // scheme fails at FileSystem.get with Hadoop's own typed
    // "No FileSystem for scheme" error, which is strictly more
    // informative than a pre-emptive require here could be.
  }
}

object PbfConfig {
  /** HDFS-class commit: publish via per-type atomic directory swaps. */
  val CommitRename = "rename"
  /** Object-store commit: write-once generation dir + `_CURRENT` pointer
    * PUT; zero renames (S3-safe). */
  val CommitPointer = "pointer"
}

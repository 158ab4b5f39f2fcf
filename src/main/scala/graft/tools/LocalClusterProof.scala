package graft.tools

import graft.SparkEntry
import graft.sources.pbf._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-PROCESS execution proof (the r17 verdict's #1 ask): every prior
  * round — including the executed retry race — ran inside ONE JVM
  * (`local[N]`), so task-result and broadcast serialization, the manifest
  * commit protocol with executors in SEPARATE processes, and
  * executor-side state stores had never crossed a process boundary.
  * Spark's `local-cluster[N,cores,mem]` master launches REAL executor
  * JVMs on this box (no cluster needed); this tool runs the transcode
  * WITH the injected retry race (partition 0 attempt 0 dies after its
  * staging files are durable — the commit protocol with loser and winner
  * potentially in DIFFERENT processes) plus a FAMILY-REPRESENTATIVE
  * entry sweep ([[SweepEntries]], r18 verdict #3: one entry per distinct
  * execution shape — broadcast joins, window functions, skew salting +
  * AQE, variant shredding, iterative graph, banded LSH, IVF-PQ ANN,
  * sketches, the morton-key codegen expressions, the media codec stage,
  * flatMapGroupsWithState and transformWithState state stores, CDC
  * merge) under it, and proves counts/hashes identical to the same code
  * on an in-process master.
  *
  * Process-boundary evidence is recorded, not assumed: each leg set runs
  * a PID probe (`ManagementFactory.getRuntimeMXBean.getName` per
  * partition) and the artifact lists the distinct executor `pid@host`
  * identities next to the driver's — under local-cluster there must be
  * ≥2 and none may equal the driver's.
  *
  * Hashes are order/partitioning-invariant: sum of xxhash64 over every
  * column cast to string, so "identical" means value-identical results,
  * not an accident of task scheduling.
  *
  * Usage: SPARK_SCALA_VERSION=2.13 scripts/run.sh
  *          graft.tools.LocalClusterProof [outJson] [blocks]
  * (SPARK_GRAFT_SF_DIR selects the relational/st16 input, default sf0.01.
  * SPARK_SCALA_VERSION is REQUIRED: the Worker's executor launcher
  * resolves the jars dir via `getScalaVersion()`, which on a dist-layout
  * SPARK_HOME without `launcher/target/` build dirs throws "Cannot find
  * any build directories." — the env var short-circuits that probe.)
  */
object LocalClusterProof {

  /** Order-invariant content fingerprint: (rows, sum of per-row xxhash64
    * over all columns as strings). NULLs hash via a sentinel so a NULL
    * column cannot collide with the same literal value. */
  private[tools] def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000graft-null")))
    // decimal(38,0) sum: exact (no ANSI Long overflow at millions of rows),
    // order- and partitioning-invariant, duplicate-row-sensitive
    val row = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("hs")).head()
    (row.getLong(0),
      if (row.isNullAt(1)) "0" else row.getDecimal(1).toBigInteger.toString)
  }

  /** Distinct task-side JVM identities (pid@host), via a probe job wide
    * enough to hit every executor. Shared with [[ExecutorDeathProof]]. */
  private[tools] def taskJvms(s: SparkSession): Seq[String] =
    executorJvms(s).map(_._2)

  /** (executor id, pid@host) of every task-side JVM, sorted by JVM. */
  private[tools] def executorJvms(s: SparkSession): Seq[(String, String)] =
    s.sparkContext.parallelize(1 to 64, 16)
      .map(_ => (org.apache.spark.SparkEnv.get.executorId,
        java.lang.management.ManagementFactory.getRuntimeMXBean.getName))
      .distinct().collect().toSeq.sortBy(_._2)

  /** Executor classpath for repo classes, shared by the proof tools —
    * derived from where THIS class was loaded from (so a relocated repo
    * or a different build output dir keeps working), with the sbt default
    * as the fallback when the code source is unavailable (e.g. loaded
    * from a merged bootstrap loader). */
  private[tools] val RepoClasses: String =
    Option(getClass.getProtectionDomain.getCodeSource)
      .map(cs => new java.io.File(cs.getLocation.toURI).getAbsolutePath)
      .getOrElse("/root/repo/target/scala-2.13/classes")

  /** Committed-transcode-output validation shared by the cross-process
    * proofs: zero duplicate (id, type), one attempt tag per published
    * partition, `_SUCCESS` present, read-back count exact. Returns the
    * order-invariant content fingerprint. */
  private[tools] def validateCommittedOutput(s: SparkSession, out: String,
      expected: Long, tag: String): (Long, String) = {
    val back = s.read.parquet(out)
    val dups = back.groupBy(col("id"), col("type")).count()
      .filter(col("count") > 1).count()
    require(dups == 0L,
      s"[$tag] $dups duplicate (id,type) rows — non-winning attempt published?")
    val tags = OsmValidate.attemptTags(new java.io.File(out))
    require(tags.forall(_._2.size == 1),
      s"[$tag] multi-attempt partitions: ${tags.filter(_._2.size > 1).keys}")
    require(new java.io.File(out, "_SUCCESS").exists(), s"[$tag] _SUCCESS missing")
    val (rows, hash) = fingerprint(back)
    require(rows == expected, s"[$tag] read-back $rows != expected $expected")
    (rows, hash)
  }

  /** Executor-death witness shared by the kill proofs (one copy, so a
    * future fix to the attribution logic cannot drift between artifacts):
    * tracks in-flight tasks, non-success task ends, ExecutorLostFailure
    * ends, and ties the lost-failure executor ids to executors REMOVED
    * during the run — the intersection is the set a mid-flight kill
    * assertion may rely on; a generic non-success end may not.
    *
    * It also owns the kill: its listener `kill -9`s the victim executor
    * (`victimExecId`, JVM pid `victimPid`) once some task has ended while
    * at least one is running on the victim — a kill point taken from the
    * run itself, so neither a fast quiet host nor a slow loaded one can
    * move it past the job's end. */
  private[tools] final class DeathWitness(victimExecId: String, victimPid: String) {
    val activeTasks = new java.util.concurrent.atomic.AtomicLong(0)
    val nonSuccessEnds = new java.util.concurrent.atomic.AtomicLong(0)
    val executorLostEnds = new java.util.concurrent.atomic.AtomicLong(0)
    private val endedTasks = new java.util.concurrent.atomic.AtomicLong(0)
    private val activeOnVictim = new java.util.concurrent.atomic.AtomicLong(0)
    private val lostTaskExecIds =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private val removedExecIds =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private val killed = new java.util.concurrent.CountDownLatch(1)
    /** System.nanoTime of the kill, and the task counts the listener saw
      * at that instant. */
    @volatile var killNanos = 0L
    @volatile var endedAtKill = 0L
    @volatile var activeAtKill = 0L
    private def onVictim(info: org.apache.spark.scheduler.TaskInfo): Boolean =
      info.executorId == victimExecId
    // listener events arrive on one bus thread, so the kill fires once
    private def maybeKill(): Unit =
      if (killed.getCount > 0 && endedTasks.get() > 0 && activeOnVictim.get() > 0) {
        endedAtKill = endedTasks.get()
        activeAtKill = activeTasks.get()
        new ProcessBuilder("kill", "-9", victimPid).start().waitFor()
        killNanos = System.nanoTime()
        killed.countDown()
      }
    val listener: org.apache.spark.scheduler.SparkListener =
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskStart(
            t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit = {
          activeTasks.incrementAndGet()
          if (onVictim(t.taskInfo)) activeOnVictim.incrementAndGet()
          maybeKill()
        }
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          activeTasks.decrementAndGet()
          if (onVictim(t.taskInfo)) activeOnVictim.decrementAndGet()
          endedTasks.incrementAndGet()
          t.reason match {
            case org.apache.spark.Success => ()
            case e: org.apache.spark.ExecutorLostFailure =>
              nonSuccessEnds.incrementAndGet()
              executorLostEnds.incrementAndGet()
              lostTaskExecIds.add(e.execId)
            case _ => nonSuccessEnds.incrementAndGet()
          }
          maybeKill()
        }
        override def onExecutorRemoved(
            e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit =
          removedExecIds.add(e.executorId)
      }
    /** Block until the kill fired; fails if `job` ends first (with its
      * own error, if it failed). */
    def awaitKill(job: scala.concurrent.Future[_]): Unit =
      while (!killed.await(20, java.util.concurrent.TimeUnit.MILLISECONDS))
        job.value.foreach {
          case scala.util.Failure(e) => throw e
          case scala.util.Success(_) => sys.error(
            "the job finished before any task ran on the victim after " +
              "another had ended — raise blocks so the death lands mid-flight")
        }
    def deathAttributedExecIds: Set[String] = {
      import scala.jdk.CollectionConverters._
      lostTaskExecIds.asScala.toSet intersect removedExecIds.asScala.toSet
    }
    def summary: String =
      s"lost-task execIds: $lostTaskExecIds, removed: $removedExecIds"
  }

  private[tools] val AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  private def session(master: String): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft-localcluster-proof")
      // modest parallelism: the cluster side has 2 executors × 2 cores
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // the injected attempt-0 failure must leave Spark a retry to win with
      .config("spark.task.maxFailures", "2")
    if (master.startsWith("local-cluster")) {
      // executor JVMs are launched fresh by the in-process Worker: they
      // get Spark's jars from SPARK_HOME but need this repo's classes and
      // the same JDK17 module opens the driver runs with (run.sh)
      b.config("spark.executor.extraClassPath", RepoClasses)
        .config("spark.executor.extraJavaOptions", AddOpens)
        .config("spark.executor.memory", "1500m")
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Leg(name: String, rows: Long, hash: String)

  /** The family-representative entry sweep (r18 verdict #3): one entry per
    * distinct EXECUTION SHAPE, so every operator family crosses a real
    * process boundary — task-result/broadcast serialization, executor-side
    * state stores, custom-operator exchanges, codegen'd expressions in
    * executor JVMs. The r18 proof covered the first four shapes; the rest
    * had only ever run in-process. */
  private[tools] val SweepEntries = Seq(
    "p01_ways_and_deps",        // zone-map broadcast semi-join (DSv2 PBF scan)
    "q29_topk_custom_operator", // custom physical operator across the exchange
    "st16_neardup_ingest",      // transformWithState gate (RocksDB state on executors)
    "q01_agg",                  // partial+final agg baseline
    "q03_join_broadcast",       // broadcast hash join
    "q09_window_topk",          // window functions
    "q14_setops",               // set operations
    "q25_sql_correlated",       // SQL frontend + correlated subquery
    "q27_salted_join",          // skew salting + AQE
    "q38_merge_upsert",         // CDC merge/upsert
    "q43_variant_shred",        // variant/JSON shredding
    "g02_pagerank",             // iterative graph (many-stage lineage)
    "d02_minhash_lsh",          // banded LSH dedup (wide shuffle)
    "s05_knn_ivfpq",            // IVF-PQ ANN (broadcast codebooks)
    "e02_centroid_sim",         // embedding aggregation
    "t13_bm25",                 // text retrieval scoring
    "c16_curation_e2e",         // fused curation pipeline
    "a01_asof_join",            // as-of temporal join
    "x01_approx_distinct",      // sketch aggregators
    "m02_media_features",       // mapPartitions codec stage + quarantine
    "p03_zorder_bbox",          // graft_morton_key codegen expression
    "st11_scd2_stream",         // flatMapGroupsWithState (HDFS state store)
    "st13_profile_tws")         // event-domain TWS under RocksDB

  /** Runs the transcode+retry leg plus the entry sweep on an open session;
    * returns leg fingerprints plus the distinct task-JVM identities. */
  private def runLegs(s: SparkSession, sfDir: String, pbf: String,
                      scratch: String, tag: String,
                      entries: Seq[String]): (Seq[Leg], Seq[String]) = {
    val jvms = taskJvms(s)

    // transcode + injected retry race through the commit protocol
    val out = s"$scratch/out_$tag"
    s.sparkContext.hadoopConfiguration
      .setInt("graft.test.transcode.failPartitionOnce", 0)
    val counts = OsmPbf.transcode(s, PbfConfig(input = pbf, output = out,
      fileTargetMb = Some(16)))
    s.sparkContext.hadoopConfiguration.unset("graft.test.transcode.failPartitionOnce")
    val (tRows, tHash) = validateCommittedOutput(s, out, counts.values.sum, tag)
    val legA = Leg("transcode_retry", tRows, tHash)

    val legs = entries.map { name =>
      val t0 = System.nanoTime()
      val (rows, hash) = fingerprint(SparkEntry.queries(name)(s, sfDir))
      System.err.println(f"[lcproof:$tag] $name: $rows rows in " +
        f"${(System.nanoTime() - t0) / 1e9}%.1fs")
      Leg(name, rows, hash)
    }
    (legA +: legs, jvms)
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("LOCALCLUSTER_r19.json")
    val blocks = if (args.length > 1) args(1).toInt else 45 // ~1M elements
    // optional entry filter: comma-separated names (default = full sweep)
    val entries = if (args.length > 2) args(2).split(',').toSeq else SweepEntries
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    require(sys.env.contains("SPARK_SCALA_VERSION"),
      "set SPARK_SCALA_VERSION=2.13: the executor launcher cannot infer " +
        "the Scala version from a dist-layout SPARK_HOME (see scaladoc)")
    val driverJvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    val scratch = graft.Scratch.tempDir("lcproof").toString
    try {
      // one synthesized input shared by both sides — the comparison is
      // master-vs-master on identical bytes
      val pbf = s"$scratch/in.osm.pbf"
      val n = PbfWriter.synthesize(pbf, blocks, nodesPerBlock = 20000,
        waysPerBlock = 2250, relationsPerBlock = 29)

      // local[4,2]: in-process masters read retries from the master string,
      // not spark.task.maxFailures — the injected failure needs attempt 1
      val sLocal = session("local[4,2]")
      val (localLegs, localJvms) = runLegs(sLocal, sfDir, pbf, scratch, "local", entries)
      sLocal.stop()
      // in-process side sanity: every task ran in the driver JVM
      require(localJvms == Seq(driverJvm),
        s"local side expected driver-only JVMs, got $localJvms")

      val sCluster = session("local-cluster[2,2,2048]")
      // wait for BOTH executor JVMs to register before any leg runs:
      // standalone scheduling starts as soon as the FIRST executor offers
      // cores, so on a loaded box the PID probe could otherwise complete
      // entirely on executor 1 and fail the >=2-JVM check only AFTER the
      // four expensive cluster legs had already run
      val regDeadline = System.currentTimeMillis() + 120000L
      while (sCluster.sparkContext.getExecutorMemoryStatus.size < 3 &&
             System.currentTimeMillis() < regDeadline) Thread.sleep(250)
      require(sCluster.sparkContext.getExecutorMemoryStatus.size >= 3,
        "local-cluster executors did not register within 120s " +
          s"(got ${sCluster.sparkContext.getExecutorMemoryStatus.size - 1} of 2)")
      val t0 = System.nanoTime()
      val (clusterLegs, clusterJvms) = runLegs(sCluster, sfDir, pbf, scratch, "cluster", entries)
      val clusterSecs = (System.nanoTime() - t0) / 1e9
      sCluster.stop()
      val execJvms = clusterJvms.filterNot(_ == driverJvm)
      require(execJvms.size >= 2,
        s"local-cluster expected >=2 separate executor JVMs, got $clusterJvms")
      require(!clusterJvms.contains(driverJvm),
        s"local-cluster tasks must not run in the driver JVM, got $clusterJvms")

      val pairs = localLegs.zip(clusterLegs)
      val mism = pairs.filter { case (l, c) => l.rows != c.rows || l.hash != c.hash }
      require(mism.isEmpty, s"CROSS-JVM MISMATCH: $mism")

      val legsJson = pairs.map { case (l, c) =>
        s"""{"leg":"${l.name}","rows":${l.rows},"hash":"${l.hash}",""" +
          s""""cluster_rows":${c.rows},"cluster_hash":"${c.hash}","match":true}"""
      }.mkString("[", ",", "]")
      val json =
        s"""{"cluster_master":"local-cluster[2,2,2048]","transcode_elements":$n,""" +
        s""""driver_jvm":"$driverJvm",""" +
        s""""executor_jvms":${execJvms.map(j => s""""$j"""").mkString("[", ",", "]")},""" +
        s""""injected":"partition 0 attempt 0 killed after durable staging files (both sides)",""" +
        s""""legs":$legsJson,"all_match":true,""" +
        f""""cluster_side_secs":$clusterSecs%.1f}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
      println(json)
      println("LOCAL-CLUSTER PROOF OK")
    } finally {
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch))
      catch { case _: Throwable => () }
      graft.Scratch.untrack(scratch)
    }
  }
}

package graft.tools

import graft.sources.pbf._
import org.apache.spark.sql.SparkSession

/** EXECUTOR-DEATH semantics, exercised for real (the residual the r17
  * verdict named beside the retry race: "executor-death semantics have
  * never been exercised"). [[LocalClusterProof]] drives Spark's task
  * retry across process boundaries; this tool goes one step harder —
  * mid-transcode it `kill -9`s one of the two executor JVMs, the failure
  * mode a 1000-executor cluster sees weekly (OOM-killer, preemption,
  * hardware). That is the zombie scenario with nothing injected: the
  * dead executor's in-flight tasks have already written DURABLE staging
  * files, and the manifest commit protocol must ensure none of them
  * publish while the relaunched/surviving executor's winning attempts
  * do.
  *
  * Asserts: the job COMPLETES despite the kill; returned counts exact;
  * read-back rows exact; zero duplicate (id, type); exactly one attempt
  * tag per published partition; `_SUCCESS` present; content hash equal
  * to an UNDISTURBED in-process run over the same input; and the kill
  * actually happened (the victim PID is absent from the post-run
  * executor set — with whether the standalone Worker relaunched a
  * replacement recorded, not assumed).
  *
  * Usage: SPARK_SCALA_VERSION=2.13 scripts/run.sh
  *          graft.tools.ExecutorDeathProof [outJson] [blocks]
  */
object ExecutorDeathProof {

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("EXECDEATH_r18.json")
    val blocks = if (args.length > 1) args(1).toInt else 900 // ~20M elements
    require(sys.env.contains("SPARK_SCALA_VERSION"),
      "set SPARK_SCALA_VERSION=2.13 (see LocalClusterProof scaladoc)")
    val scratch = graft.Scratch.tempDir("execdeath").toString
    try {
      val pbf = s"$scratch/in.osm.pbf"
      val n = PbfWriter.synthesize(pbf, blocks, nodesPerBlock = 20000,
        waysPerBlock = 2250, relationsPerBlock = 29)

      // truth: an undisturbed in-process run over the same bytes
      val sLocal = SparkSession.builder().master("local[4]")
        .appName("graft-execdeath-truth")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false").getOrCreate()
      sLocal.sparkContext.setLogLevel("ERROR")
      val truthCounts = OsmPbf.transcode(sLocal, PbfConfig(input = pbf,
        output = s"$scratch/out_truth", fileTargetMb = Some(16)))
      val (truthRows, truthHash) = LocalClusterProof.validateCommittedOutput(
        sLocal, s"$scratch/out_truth", truthCounts.values.sum, "truth")
      sLocal.stop()

      val s = SparkSession.builder()
        .master("local-cluster[2,2,2048]")
        .appName("graft-execdeath")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        // headroom: an executor death fails every in-flight task once;
        // give each task room for the relaunch-window retry too
        .config("spark.task.maxFailures", "4")
        .config("spark.executor.extraClassPath", LocalClusterProof.RepoClasses)
        .config("spark.executor.extraJavaOptions", LocalClusterProof.AddOpens)
        .config("spark.executor.memory", "1500m")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      val regDeadline = System.currentTimeMillis() + 120000L
      while (s.sparkContext.getExecutorMemoryStatus.size < 3 &&
             System.currentTimeMillis() < regDeadline) Thread.sleep(250)
      // loud, not a hang: a wedged (non-crashing) worker launch would
      // otherwise leave the PID probe blocked forever on an app with no
      // resources (LocalClusterProof guards this identically)
      require(s.sparkContext.getExecutorMemoryStatus.size >= 3,
        "local-cluster executors did not register within 120s " +
          s"(got ${s.sparkContext.getExecutorMemoryStatus.size - 1} of 2)")
      val jvmsBefore = LocalClusterProof.executorJvms(s)
      val pidsBefore = jvmsBefore.map(_._2)
      require(pidsBefore.size >= 2, s"expected 2 executor JVMs, got $pidsBefore")

      // the victim: the lexicographically-last executor (deterministic pick)
      val (victimExec, victim) = jvmsBefore.last

      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // in-flight witness: the proof's claim is a MID-FLIGHT death, so it
      // must be able to FAIL if the kill lands between tasks or after the
      // job — the witness kills once a task of the run has ended while
      // one runs on the victim, and at least one task must end with an
      // ExecutorLostFailure tied to an executor removed during the run
      // (shared DeathWitness, so the kill point and the attribution logic
      // cannot drift between the two kill proofs)
      val witness = new LocalClusterProof.DeathWitness(victimExec,
        victim.takeWhile(_ != '@'))
      s.sparkContext.addSparkListener(witness.listener)
      val out = s"$scratch/out_killed"
      val t0 = System.nanoTime()
      val fut = Future {
        OsmPbf.transcode(s, PbfConfig(input = pbf, output = out,
          fileTargetMb = Some(16)))
      }
      // a config error failing the transcode before the kill surfaces AS
      // that error, not as a misleading sizing diagnostic
      witness.awaitKill(fut)
      val killAtSec = (witness.killNanos - t0) / 1e9
      val activeAtKill = witness.activeAtKill
      println(f"[execdeath] killed executor JVM $victim at T+$killAtSec%.2fs " +
        s"(${witness.endedAtKill} tasks ended, $activeAtKill in flight)")
      val counts = Await.result(fut, 15.minutes)
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftListenerBus.drain(s.sparkContext)
      s.sparkContext.removeSparkListener(witness.listener)
      // the kill must have LANDED mid-flight: at least one task ended with
      // ExecutorLostFailure naming an executor that was REMOVED during the
      // run — without this the proof could pass vacuously (kill between
      // tasks / after the job), and a generic non-Success end (unrelated
      // transient failure) cannot satisfy it
      val deathEnds = witness.deathAttributedExecIds
      require(deathEnds.nonEmpty,
        s"no task ended with ExecutorLostFailure for a removed executor " +
          s"(active at kill: $activeAtKill, non-success ends: " +
          s"${witness.nonSuccessEnds.get()}, ${witness.summary}) — " +
          "the death landed outside the job; raise blocks")

      require(counts.values.sum == n, s"counts ${counts.values.sum} != $n")
      val (rows, hash) = LocalClusterProof.validateCommittedOutput(s, out, n, "killed")
      require(rows == truthRows && hash == truthHash,
        s"content diverged from the undisturbed run: ($rows,$hash) vs ($truthRows,$truthHash)")

      val pidsAfter = LocalClusterProof.taskJvms(s)
      require(!pidsAfter.contains(victim),
        s"victim $victim still serving tasks — the kill was a no-op")
      val relaunched = pidsAfter.exists(p => !pidsBefore.contains(p))
      s.stop()

      val json =
        s"""{"elements":$n,"killed_executor":"$victim",""" +
          f""""kill_at_sec":$killAtSec%.2f,"tasks_ended_at_kill":${witness.endedAtKill},""" +
          s""""executors_before":${pidsBefore.map(p => s""""$p"""").mkString("[", ",", "]")},""" +
          s""""executors_after":${pidsAfter.map(p => s""""$p"""").mkString("[", ",", "]")},""" +
          s""""worker_relaunched_replacement":$relaunched,""" +
          s""""tasks_in_flight_at_kill":$activeAtKill,""" +
          s""""tasks_nonsuccess_ends":${witness.nonSuccessEnds.get()},""" +
          s""""tasks_executor_lost_ends":${witness.executorLostEnds.get()},""" +
          s""""death_attributed_exec_ids":${deathEnds.toSeq.sorted.map(i => s""""$i"""").mkString("[", ",", "]")},""" +
          f""""wall_sec":$wall%.1f,"duplicates":0,"multi_attempt_partitions":0,""" +
          s""""success_marker":true,"hash_match_vs_undisturbed":true,"rows":$rows}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
      println(json)
      println("EXECUTOR DEATH PROOF OK")
    } finally {
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch))
      catch { case _: Throwable => () }
      graft.Scratch.untrack(scratch)
    }
  }
}

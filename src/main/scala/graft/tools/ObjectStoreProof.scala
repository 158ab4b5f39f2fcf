package graft.tools

import graft.sources.pbf._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The pointer commit under object-store semantics ACROSS REAL PROCESS
  * BOUNDARIES (r18 verdict #1, the cross-process half; the single-JVM
  * scenario matrix lives in ObjectStoreCommitSpec):
  *
  *   (a) pointer-mode transcode through the hostile object-store scheme
  *       ([[HostileObjectStoreFs]]: PUT-visible creates, rename counted)
  *       on `local[4,2]` WITH the injected retry race — the loser's
  *       durable generation files must never be read;
  *   (b) the same through `local-cluster[2,2,2048]` (two real executor
  *       JVMs) with a `kill -9` of one executor mid-transcode — the
  *       zombie scenario on the store class that has no rename to hide
  *       behind.
  *
  * Asserts per leg: counts exact, readCommitted fingerprint equal to an
  * undisturbed plain-local rename-mode run over the same bytes (the two
  * protocols must publish value-identical data), zero duplicate
  * (id, type), exactly one attempt tag per manifest partition, and ZERO
  * `rename` calls observed by the hostile FS on the driver. The kill leg
  * additionally requires the death to have landed mid-flight
  * (ExecutorLostFailure naming a removed executor) and the victim PID
  * gone from the post-run executor set.
  *
  * Usage: SPARK_SCALA_VERSION=2.13 scripts/run.sh
  *          graft.tools.ObjectStoreProof [outJson] [blocks]
  */
object ObjectStoreProof {

  private def pointerValidate(s: SparkSession, out: String, expected: Long,
      tag: String): (Long, String) = {
    val back = OsmPbf.readCommitted(s, out)
    val dups = back.groupBy(col("id"), col("type")).count()
      .filter(col("count") > 1).count()
    require(dups == 0L, s"[$tag] $dups duplicate (id,type) rows")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val outPath = fs.makeQualified(new org.apache.hadoop.fs.Path(out))
    val gen = OsmPbf.currentGenToken(fs, outPath)
      .getOrElse(sys.error(s"[$tag] no _CURRENT pointer"))
    val mf = fs.open(new org.apache.hadoop.fs.Path(outPath, s"$gen/_MANIFEST"))
    val manifest = try scala.io.Source.fromInputStream(mf, "UTF-8")
      .getLines().toVector finally mf.close()
    val tags = OsmValidate.attemptTagsOfManifest(
      OsmPbf.manifestEntries(manifest, s"$gen/_MANIFEST"))
    require(tags.values.forall(_.size == 1),
      s"[$tag] multiple attempts published for one partition: " +
        tags.filter(_._2.size > 1))
    val fp = graft.tools.LocalClusterProof.fingerprint(back)
    require(fp._1 == expected, s"[$tag] read-back ${fp._1} != expected $expected")
    fp
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("OBJSTORE_r19.json")
    val blocks = if (args.length > 1) args(1).toInt else 600 // ~13.4M elements
    require(sys.env.contains("SPARK_SCALA_VERSION"),
      "set SPARK_SCALA_VERSION=2.13 (see LocalClusterProof scaladoc)")
    val scratch = graft.Scratch.tempDir("objproof").toString
    try {
      val pbf = s"$scratch/in.osm.pbf"
      val n = PbfWriter.synthesize(pbf, blocks, nodesPerBlock = 20000,
        waysPerBlock = 2250, relationsPerBlock = 29)

      // truth: undisturbed plain-local RENAME-mode run over the same bytes
      val sLocal = SparkSession.builder().master("local[4]")
        .appName("graft-objstore-truth")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false").getOrCreate()
      sLocal.sparkContext.setLogLevel("ERROR")
      val truthCounts = OsmPbf.transcode(sLocal, PbfConfig(input = pbf,
        output = s"$scratch/out_truth", fileTargetMb = Some(16)))
      require(truthCounts.values.sum == n)
      val (truthRows, truthHash) = LocalClusterProof.fingerprint(
        sLocal.read.parquet(s"$scratch/out_truth"))
      sLocal.stop()

      // (a) retry race, pointer mode, hostile scheme, in-process retries
      HostileObjectStoreFs.reset()
      val sRace = SparkSession.builder().master("local[4,2]")
        .appName("graft-objstore-race")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false").getOrCreate()
      sRace.sparkContext.hadoopConfiguration
        .set("fs.grafts3.impl", classOf[HostileObjectStoreFs].getName)
      sRace.sparkContext.setLogLevel("ERROR")
      sRace.sparkContext.hadoopConfiguration
        .setInt("graft.test.transcode.failPartitionOnce", 0)
      val raceOut = s"grafts3://$scratch/out_race"
      val raceCounts = OsmPbf.transcode(sRace, PbfConfig(input = pbf,
        output = raceOut, fileTargetMb = Some(16),
        commitMode = PbfConfig.CommitPointer))
      sRace.sparkContext.hadoopConfiguration
        .unset("graft.test.transcode.failPartitionOnce")
      require(raceCounts.values.sum == n)
      val raceRenames = HostileObjectStoreFs.renameCalls.get()
      require(raceRenames == 0L, s"pointer commit called rename $raceRenames times")
      val (raceRows, raceHash) = pointerValidate(sRace, raceOut, n, "race")
      require(raceRows == truthRows && raceHash == truthHash,
        s"race leg diverged: ($raceRows,$raceHash) vs ($truthRows,$truthHash)")
      sRace.stop()

      // (b) executor death, pointer mode, hostile scheme, two real JVMs
      HostileObjectStoreFs.reset()
      val s = SparkSession.builder()
        .master("local-cluster[2,2,2048]")
        .appName("graft-objstore-death")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.task.maxFailures", "4")
        .config("spark.executor.extraClassPath", LocalClusterProof.RepoClasses)
        .config("spark.executor.extraJavaOptions", LocalClusterProof.AddOpens)
        .config("spark.executor.memory", "1500m")
        .getOrCreate()
      s.sparkContext.hadoopConfiguration
        .set("fs.grafts3.impl", classOf[HostileObjectStoreFs].getName)
      s.sparkContext.setLogLevel("ERROR")
      val regDeadline = System.currentTimeMillis() + 120000L
      while (s.sparkContext.getExecutorMemoryStatus.size < 3 &&
             System.currentTimeMillis() < regDeadline) Thread.sleep(250)
      require(s.sparkContext.getExecutorMemoryStatus.size >= 3,
        "local-cluster executors did not register within 120s")
      val jvmsBefore = LocalClusterProof.executorJvms(s)
      val pidsBefore = jvmsBefore.map(_._2)
      require(pidsBefore.size >= 2, s"expected 2 executor JVMs, got $pidsBefore")
      val (victimExec, victim) = jvmsBefore.last

      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val witness = new LocalClusterProof.DeathWitness(victimExec,
        victim.takeWhile(_ != '@'))
      s.sparkContext.addSparkListener(witness.listener)
      val killedOut = s"grafts3://$scratch/out_killed"
      val t0 = System.nanoTime()
      val fut = Future {
        OsmPbf.transcode(s, PbfConfig(input = pbf, output = killedOut,
          fileTargetMb = Some(16), commitMode = PbfConfig.CommitPointer))
      }
      witness.awaitKill(fut)
      val killAtSec = (witness.killNanos - t0) / 1e9
      val activeAtKill = witness.activeAtKill
      println(f"[objstore] killed executor JVM $victim at T+$killAtSec%.2fs " +
        s"(${witness.endedAtKill} tasks ended, $activeAtKill in flight)")
      val killedCounts = Await.result(fut, 15.minutes)
      org.apache.spark.GraftListenerBus.drain(s.sparkContext)
      s.sparkContext.removeSparkListener(witness.listener)
      val deathEnds = witness.deathAttributedExecIds
      require(deathEnds.nonEmpty,
        s"no task ended with ExecutorLostFailure for a removed executor " +
          s"(active at kill: $activeAtKill, ${witness.summary}) — " +
          "raise blocks")
      require(killedCounts.values.sum == n,
        s"counts ${killedCounts.values.sum} != $n")
      val killRenames = HostileObjectStoreFs.renameCalls.get()
      require(killRenames == 0L,
        s"pointer commit called rename $killRenames times (driver side)")
      val (kRows, kHash) = pointerValidate(s, killedOut, n, "killed")
      require(kRows == truthRows && kHash == truthHash,
        s"killed leg diverged: ($kRows,$kHash) vs ($truthRows,$truthHash)")
      val pidsAfter = LocalClusterProof.taskJvms(s)
      require(!pidsAfter.contains(victim), s"victim $victim still serving tasks")
      s.stop()

      val json =
        s"""{"elements":$n,"store_model":"PUT-visible creates, rename=copy+delete (counted), via HostileObjectStoreFs scheme grafts3",""" +
          s""""commit_mode":"pointer","truth":"undisturbed local rename-mode run, order-invariant fingerprint",""" +
          s""""race_leg":{"injected":"partition 0 attempt 0 killed after durable generation files","rows":$raceRows,"hash":"$raceHash","renames":0,"match":true},""" +
          s""""kill_leg":{"killed_executor":"$victim",""" +
          f""""kill_at_sec":$killAtSec%.2f,"tasks_ended_at_kill":${witness.endedAtKill},"tasks_in_flight_at_kill":$activeAtKill,""" +
          s""""death_attributed_exec_ids":${deathEnds.toSeq.sorted.map(i => s""""$i"""").mkString("[", ",", "]")},""" +
          s""""executors_before":${pidsBefore.map(p => s""""$p"""").mkString("[", ",", "]")},""" +
          s""""executors_after":${pidsAfter.map(p => s""""$p"""").mkString("[", ",", "]")},""" +
          s""""rows":$kRows,"hash":"$kHash","renames":0,"match":true},""" +
          s""""truth_rows":$truthRows,"truth_hash":"$truthHash","all_match":true}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
      println(json)
      println("OBJECT STORE PROOF OK")
    } finally {
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch))
      catch { case _: Throwable => () }
      graft.Scratch.untrack(scratch)
    }
  }
}

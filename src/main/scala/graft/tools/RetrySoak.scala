package graft.tools

import graft.sources.pbf._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The retry-commit pin at TRANSCODE DEPTH: the OsmPbfSparkSpec pin
  * executes Spark's real task retry through the manifest-publication
  * protocol at ~1M elements; this soak runs the same injected failure
  * (partition 0's attempt 0 dies after its staging files are closed and
  * durable) against the standard 40M-element corpus, so the protocol is
  * proven where a lost executor would actually hurt: the loser's files
  * carry a full partition of rows, and publishing them would be millions
  * of duplicates, not five.
  *
  * Asserts: returned counts exact, read-back rows exact, zero duplicate
  * (id, type), exactly one attempt tag per published partition, and the
  * `_SUCCESS` marker present. Writes wall + elem/s so the retry run's
  * throughput sits next to SOAK_r17.json's clean-run number.
  *
  * Usage: scripts/run.sh graft.tools.RetrySoak [outJson] [blocks]
  */
object RetrySoak {
  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("SOAK_r17_retry.json")
    val blocks = if (args.length > 1) args(1).toInt else 1800 // ~40.1M elements
    val spark = SparkSession.builder()
      // maxFailures=2: the injected attempt-0 failure must leave Spark a
      // retry to win with (plain local[32] would fail the job)
      .master("local[32,2]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = graft.Scratch.tempDir("retrysoak").toString
    try {
      val pbf = s"$dir/big.osm.pbf"
      // planet-like element mix
      val n = PbfWriter.synthesize(pbf, blocks, nodesPerBlock = 20000,
        waysPerBlock = 2250, relationsPerBlock = 29)
      val out = s"$dir/out"
      spark.sparkContext.hadoopConfiguration
        .setInt("graft.test.transcode.failPartitionOnce", 0)
      val t0 = System.nanoTime()
      val counts = OsmPbf.transcode(spark, PbfConfig(input = pbf, output = out,
        fileTargetMb = Some(64)))
      val secs = (System.nanoTime() - t0) / 1e9
      require(counts.values.sum == n, s"counts ${counts.values.sum} != $n")
      val back = spark.read.parquet(out)
      val rows = back.count()
      require(rows == n, s"read-back $rows != $n")
      val dups = back.groupBy(col("id"), col("type")).count()
        .filter(col("count") > 1).count()
      require(dups == 0L, s"$dups duplicate (id, type) rows — loser published?")
      val tags = OsmValidate.attemptTags(new java.io.File(out))
      val multiAttempt = tags.filter(_._2.size > 1)
      require(multiAttempt.isEmpty, s"multi-attempt partitions: ${multiAttempt.keys}")
      require(new java.io.File(out, "_SUCCESS").exists(), "_SUCCESS missing")
      val json =
        f"""{"elements":$n,"seconds":$secs%.1f,"elems_per_s":${(n / secs).round},""" +
        s""""injected":"partition 0 attempt 0 killed after durable staging files",""" +
        s""""duplicates":0,"multi_attempt_partitions":0,"success_marker":true,""" +
        s""""partitions":${tags.size}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
      println(json)
      println("RETRY SOAK OK")
    } finally {
      try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      catch { case _: Throwable => () }
      graft.Scratch.untrack(dir)
      spark.stop()
    }
  }
}

package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Records the output committer algorithm each write job is set up with
  * (the value `FileOutputCommitter` reads from the job conf). */
class RecordingCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupJob(jobContext: org.apache.hadoop.mapreduce.JobContext): Unit = {
    RecordingCommitProtocol.seen.add(jobContext.getConfiguration.getInt(
      RecordingCommitProtocol.Key,
      org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter
        .FILEOUTPUTCOMMITTER_ALGORITHM_VERSION_DEFAULT))
    super.setupJob(jobContext)
  }
}

object RecordingCommitProtocol {
  val Key = "mapreduce.fileoutputcommitter.algorithm.version"
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}

/** Committer v2 is safe only where a reader cannot see a job's output
  * before the job commits: the snapshot store (readers go through its own
  * `_SUCCESS` marker) and st09's idempotent sink. It is scoped to those
  * writers, so any other write in the same JVM keeps the default
  * algorithm. */
class CommitterScopeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("committer-scope-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val root = java.nio.file.Files.createTempDirectory("committer").toFile

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(root)
  }

  /** The committer algorithm of every write job `write` sets up. */
  private def algorithms(write: => Unit): Seq[Int] = {
    RecordingCommitProtocol.seen.clear()
    write
    RecordingCommitProtocol.seen.toArray.toSeq.map(_.asInstanceOf[Int])
  }

  test("committer v2 reaches the store and the idempotent sink, not a plain write") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, 1.00), (2L, 2.50)).toDF("user_id", "value")
    val conf = "spark.sql.sources.commitProtocolClass"
    spark.conf.set(conf, classOf[RecordingCommitProtocol].getName)
    try {
      assert(algorithms(df.write.parquet(s"$root/plain")) === Seq(1),
        "a plain df.write must keep the default algorithm")
      assert(algorithms(EventStreams.applyChangeset(df, 0L, s"$root/store")) === Seq(2),
        "a snapshot-store version commits with algorithm 2")
      assert(algorithms(EventStreams.writeBatchIdempotent(df, 0L, s"$root/sink")) === Seq(2),
        "the idempotent sink commits with algorithm 2")
    } finally spark.conf.unset(conf)
  }
}

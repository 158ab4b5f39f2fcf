package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The st19 surface: Spark 4's state data source over the ingest gate's
  * transformWithState checkpoint (`DocStreams.ownerState`). Pins, on a
  * MULTI-BATCH replay:
  *
  *  1. the persisted per-(band, value) owner state equals the
  *     batch-derived min-owner table over the full delivered corpus —
  *     including buckets whose owner was written in batch 1 and never
  *     touched again (state persistence, not just last-batch effects),
  *     and buckets where a LOWER doc_id arrived in a LATER batch (the
  *     fold updates, not first-write-wins);
  *  2. the same projection works unchanged over the TTL'd gate's
  *     checkpoint (its value struct carries extra TTL bookkeeping; the
  *     read is by name);
  *  3. the emitted flags are derivable from the state alone — the
  *     state is sufficient to audit past admission decisions.
  */
class StateReaderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val ids = new AtomicInteger(0)

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("state-reader-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    dirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A temp dir deleted in afterAll. */
  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs += d
    d.toString
  }

  private val dupText = "shared phrase alpha beta gamma delta epsilon"
  // batch 2 delivers doc 0 — LOWER than batch 1's doc 5 — so the shared
  // buckets' owners must move down across the batch boundary
  private val batches = Seq(
    Seq(5L -> dupText,
      6L -> "first batch filler text with enough distinct tokens here"),
    Seq(0L -> dupText,
      7L -> "second batch brings one more unrelated document body"),
    Seq(9L -> dupText))

  private def awaitSinkRows(q: org.apache.spark.sql.streaming.StreamingQuery,
      name: String, n: Long): Unit = {
    val deadline = System.currentTimeMillis() + 120000L
    while (spark.table(name).count() < n) {
      q.exception.foreach(throw _)
      if (!q.isActive)
        fail(s"query for $name terminated below $n rows with no exception")
      if (System.currentTimeMillis() > deadline)
        fail(s"sink $name stuck below $n rows")
      Thread.sleep(50)
    }
  }

  /** Replays `batches` through `gate` one micro-batch each; returns
    * (state rows read back from the checkpoint, settled sink). */
  private def replayAndReadState(
      gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame):
      (Map[(Int, String), Long], Map[(Long, Int), Long]) = {
    val sp = spark
    import sp.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = sp.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val name = s"statereader_${ids.incrementAndGet()}"
    val ckpt = tempDir("statereader-ckpt")
    val q = gate(docs).writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      var cum = 0L
      batches.foreach { b =>
        in.addData(b)
        cum += 4L * b.size // every test doc has >= 3 tokens
        awaitSinkRows(q, name, cum)
      }
    } finally q.stop()
    val state = DocStreams.ownerState(sp, ckpt).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val sink = sp.table(name).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    (state, sink)
  }

  /** The batch truth: min doc_id per (band, h) over the whole corpus. */
  private def batchOwners(): Map[(Int, String), Long] = {
    val sp = spark
    import sp.implicits._
    val all = batches.flatten.toDF("doc_id", "text")
    DocStreams.bandRows(all)
      .groupBy(col("band"), col("h")).agg(min(col("doc_id")).as("owner"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  test("checkpoint state equals the batch min-owner table across batches") {
    val (state, sink) = replayAndReadState(DocStreams.nearDupFlags)
    val truth = batchOwners()
    assert(state === truth,
      "every (band, value) bucket's persisted owner must equal the batch rule")
    // owners written in batch 1 and never touched again are still there
    // (doc 6 shares no text with anyone: its buckets are batch-1-only)
    val batch1Only = {
      val sp = spark; import sp.implicits._
      DocStreams.bandRows(Seq(6L -> batches(0).find(_._1 == 6L).get._2)
        .toDF("doc_id", "text")).collect().map(b => (b.band, b.h)).toSet
    }
    assert(batch1Only.forall(k => state.get(k).contains(6L)),
      "untouched batch-1 state must persist through later batches")
    // the dup buckets' owner moved DOWN when doc 0 arrived in batch 2
    val dupBuckets = {
      val sp = spark; import sp.implicits._
      DocStreams.bandRows(Seq(0L -> dupText).toDF("doc_id", "text"))
        .collect().map(b => (b.band, b.h)).toSet
    }
    assert(dupBuckets.forall(k => state.get(k).contains(0L)),
      "a lower doc_id arriving later must take ownership in state")
    // and the flags are derivable from state alone for every doc whose
    // own id is not an owner anywhere (here: doc 9 — flagged; doc 0 —
    // owner of its buckets after batch 2, flag 0 pinned at emission time
    // against the OLD owner 5... so check only the audit direction:
    // a doc all of whose buckets it owns cannot have been flagged)
    sink.collect { case ((doc, band), dup) if dup == 1L => (doc, band) }
      .foreach { case (doc, band) =>
        val h = {
          val sp = spark; import sp.implicits._
          DocStreams.bandRows(Seq(doc ->
            batches.flatten.find(_._1 == doc).get._2).toDF("doc_id", "text"))
            .collect().find(_.band == band).get.h
        }
        assert(state((band, h)) < doc,
          s"doc $doc flagged on band $band must have a lower owner in state")
      }
  }

  test("the projection reads the TTL'd gate's checkpoint identically") {
    val (state, _) =
      replayAndReadState(docs => DocStreams.nearDupFlagsTtl(docs, 3600L * 1000))
    assert(state === batchOwners(),
      "TTL bookkeeping must not change the owner values the reader sees")
  }

  test("expires_ms: populated for a TTL'd checkpoint, null for plain") {
    // the reader must surface the expiry the GATE's forget rule keys on
    // — an owner past it is one the gate reads as absent, and a read
    // that hid it would report owners the gate disagrees with
    def expiries(gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val sp = spark
      import sp.implicits._
      implicit val sql: org.apache.spark.sql.SQLContext = sp.sqlContext
      val in = MemoryStream[(Long, String)]
      val name = s"statereader_${ids.incrementAndGet()}"
      val ckpt = tempDir("statereader-exp")
      val q = gate(in.toDF().toDF("doc_id", "text")).writeStream
        .format("memory").queryName(name)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        in.addData(batches.head)
        awaitSinkRows(q, name, 4L * batches.head.size)
      } finally q.stop()
      DocStreams.ownerState(spark, ckpt).collect()
        .map(r => if (r.isNullAt(3)) None else Some(r.getLong(3)))
    }
    val plain = expiries(docs => DocStreams.nearDupFlags(docs))
    assert(plain.nonEmpty && plain.forall(_.isEmpty),
      "a no-TTL checkpoint has no expiry to report")
    val now = System.currentTimeMillis()
    val ttld = expiries(docs => DocStreams.nearDupFlagsTtl(docs, 3600L * 1000))
    assert(ttld.nonEmpty && ttld.forall(_.exists(_ > now)),
      "every TTL'd owner must carry its (future) expiry")
  }
}

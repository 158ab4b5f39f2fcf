package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** st16 streaming near-dup ingest gate:
  *
  *  1. the stateless per-row signature (`DocStreams.bandRows` — HOF
  *     array_min over in-row shingles) must equal d02's explode+groupBy
  *     signature (`DedupQueries.lshBands`) band-for-band — the identity
  *     that lets the stream share d02's oracle CTEs;
  *  2. a duplicate arriving in a LATER micro-batch must be caught by a
  *     state hit across the batch boundary (the ingest-gate claim), and
  *     the earliest copy must NOT be flagged (min-owner, not any-owner);
  *  3. documents with no signature (< 3 tokens) appear with near_dup = 0;
  *  4. the TTL'd gate (st18, settled by awaiting the exact sink row
  *     count) equals the unbounded multi-batch gate (st16b), and the
  *     checkpoint's owner state (st19) equals the min-owner table built
  *     batch-side from the same signatures.
  *
  * The DuckDB gate proves stream ≡ batch at sf scale; this pins the
  * mechanics on corpora small enough to reason through by hand.
  */
class NearDupStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("neardup-stream-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  override def afterAll(): Unit = {
    spark.stop()
    dirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  private def stage(docs: Seq[(Long, String)]): String = {
    val sp = spark; import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("neardup").toString
    dirs += new java.io.File(dir)
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("stateless per-row signature equals d02's aggregate signature") {
    val dir = stage(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a completely different document about spark streaming state"),
      (4L, "short doc")) ) // no shingle — must emit no bands in BOTH
    val viaHof = DocStreams.bandRows(graft.Tables.documents(spark, dir))
      .collect().map(b => (b.doc_id, b.band, b.h)).sorted
    val viaAgg = graft.operators.DedupQueries
      .lshBands(graft.operators.DedupQueries.shingles(graft.Tables.documents(spark, dir)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(viaHof.nonEmpty)
    assert(viaHof === viaAgg)
    assert(!viaHof.exists(_._1 == 4L))
    // the hash-free settlement count must stay in lockstep with the
    // real emission rule (doc 4 has no shingle → 3 docs × 4 bands)
    assert(DocStreams.expectedBandRows(graft.Tables.documents(spark, dir))
      === viaHof.length.toLong)
  }

  // filler docs spread the doc_id range so an 8-chunk replay puts doc 1
  // and doc 20 (identical text → identical signature → all four bands
  // collide) in different micro-batches
  private lazy val crossBatchDir: String = {
    val filler = (2L to 19L).map(i =>
      (i, s"filler document number $i with its own distinct words $i$i $i$i$i"))
    stage(
      (1L, "exact duplicate text that will appear again much later") +: filler :+
        (20L, "exact duplicate text that will appear again much later"))
  }

  test("cross-batch duplicate is caught by a state hit; earliest copy stays clean") {
    val dir = crossBatchDir
    val out = StreamReplay.all("st16b_neardup_multibatch")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(20L) === 1L, "the later copy must be flagged across the batch boundary")
    assert(out(1L) === 0L, "the earliest copy is the owner — never flagged")
    assert(out.size === 20)
  }

  test("single-batch parity and the shingle-less scaffold row") {
    val dir = stage(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "tiny"), // < 3 tokens: no signature — scaffold must still list it
      (4L, "unrelated content with entirely different vocabulary here")))
    val one = StreamReplay.all("st16_neardup_ingest")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(one === Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 0L))
  }

  test("st18: the TTL'd gate settled on the sink row count equals st16b") {
    val dir = crossBatchDir
    val st16b = StreamReplay.all("st16b_neardup_multibatch")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val st18 = StreamReplay.all("st18_neardup_ingest_ttl")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the await-rows settle reports which signal settled it (the
    // telemetry Bench's queries_settle reads)
    val floor = StreamReplay.lastFloor.get()
    Seq("settle_signal", "settle_count_jobs", "settle_residual_wait_sec")
      .foreach(k => assert(floor.contains(k), k))
    assert(floor("settle_signal") >= 0)
    assert(st16b.size === 20)
    assert(st18 === st16b)
  }

  test("st19: the checkpoint's owner state equals the batch min-owner table") {
    val dir = crossBatchDir
    val got = StreamReplay.all("st19_gate_state_reader")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = DocStreams.bandRows(graft.Tables.documents(spark, dir))
      .groupBy(col("band"), col("h")).agg(min(col("doc_id")).as("owner"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(want.nonEmpty)
    assert(got === want)
  }
}

package graft.operators

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Hand-pins for t13 BM25 on a corpus small enough to compute the Okapi
  * formula by hand: ranking order, per-term rank partitioning, top-k
  * truncation, and score values recomputed from first principles with the
  * same scalar double math the plan's expression tree performs. The
  * DuckDB gate proves engine-equality at sf scale; this pins SEMANTICS.
  */
class Bm25Spec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("bm25-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val tmp = new TempDirs

  override def afterAll(): Unit = {
    spark.stop()
    tmp.deleteAll()
  }

  private def stage(docs: Seq[(Long, String)]): String = {
    val sp = spark; import sp.implicits._
    val dir = tmp("bm25")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  /** The Okapi score with the plan's exact association order and its
    * 6-decimal floor rounding. */
  private def okapi(tf: Long, dl: Int, df: Long, nDocs: Long, avgdl: Double,
      k1: Double = 1.2, b: Double = 0.75): Double =
    math.floor(math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0) *
      (tf * (k1 + 1.0)) /
      (tf + k1 * ((1.0 - b) + b * dl / avgdl)) * 1e6 + 0.5) / 1e6

  test("single term: tf dominates at equal dl penalty; absent docs don't score") {
    val dir = stage(Seq(
      (1L, "join join join x"), // dl 4, tf 3
      (2L, "join y z"),         // dl 3, tf 1
      (3L, "a b c d e")))       // dl 5, no hit
    val out = TextQueries.bm25(spark, dir, terms = Seq("join"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // N=3, avgdl=4.0, df=2 → idf=ln(1.6); doc 1 outranks doc 2 (3 hits
    // vs 1 at a mild length penalty); doc 3 never enters the postings.
    assert(out.map(t => (t._1, t._2, t._3, t._4)) ===
      Seq(("join", 1, 1L, 3L), ("join", 2, 2L, 1L)))
    assert(out(0)._5 === okapi(tf = 3, dl = 4, df = 2, nDocs = 3, avgdl = 4.0))
    assert(out(1)._5 === okapi(tf = 1, dl = 3, df = 2, nDocs = 3, avgdl = 4.0))
    assert(out(0)._5 > out(1)._5)
  }

  test("rank partitions per term; topK truncates; doc_id breaks score ties") {
    val dir = stage(Seq(
      (1L, "x y"),
      (2L, "x y"),   // identical to doc 1 → tied scores on both terms
      (3L, "x q")))
    val out = TextQueries.bm25(spark, dir, terms = Seq("x", "y"), topK = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // "x" hits all three docs (equal tf/dl → doc_id order), truncated to
    // 2 by topK; "y" restarts rank at 1 in its own partition.
    assert(out === Seq(("x", 1, 1L), ("x", 2, 2L), ("y", 1, 1L), ("y", 2, 2L)))
  }

  test("rarer term wins idf: one-hit term outscores the everywhere term") {
    val dir = stage(Seq(
      (1L, "common rare"),
      (2L, "common pad"),
      (3L, "common pad")))
    val m = TextQueries.bm25(spark, dir, terms = Seq("common", "rare"))
      .collect().map(r => ((r.getString(0), r.getLong(2)), r.getDouble(4))).toMap
    assert(m(("rare", 1L)) > m(("common", 1L)))
  }
}

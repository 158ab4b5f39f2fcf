package graft.operators

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins for c15 sequential-Poisson weighted sampling: the priority keys
  * are recomputed INDEPENDENTLY here (java MessageDigest + Long.parseLong
  * instead of Spark's md5/conv) and the full per-stratum ranking must
  * match — plus stratum independence and top-k truncation. The DuckDB
  * gate proves the third engine lands on the identical sample.
  */
class WeightedSampleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("weighted-sample-spec")
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

  /** The operator's key, recomputed from first principles. */
  private def priority(docId: Long, nChars: Long): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(docId.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 12), 16) + 1).toDouble / nChars
  }

  private def run(docs: Seq[(Long, String, Long)]): Seq[(String, Int, Long, Long, Double)] = {
    val sp = spark; import sp.implicits._
    val dir = tmp("wsample")
    docs.toDF("doc_id", "source", "n_chars").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    CurationQueries.all("c15_weighted_sample")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSeq
  }

  test("ranking matches the independently recomputed priorities, per stratum") {
    val docs = (1L to 30L).map(i => (i, if (i % 2 == 0) "even" else "odd", 50L + i))
    val out = run(docs)
    val expected = docs
      .map { case (id, src, nc) => (src, id, nc, priority(id, nc)) }
      .groupBy(_._1).toSeq
      .flatMap { case (src, rows) =>
        rows.sortBy(r => (r._4, r._2)).take(20).zipWithIndex
          .map { case ((s0, id, nc, k), i) => (s0, i + 1, id, nc, k) }
      }
      .sortBy(t => (t._1, t._2))
    assert(out === expected)
  }

  test("top-k truncates a large stratum at 20 and keeps the smallest keys") {
    val docs = (1L to 60L).map(i => (i, "only", 100L))
    val out = run(docs)
    assert(out.size === 20)
    val kept = out.map(_._3).toSet
    val best = (1L to 60L).sortBy(i => (priority(i, 100L), i)).take(20).toSet
    assert(kept === best)
    assert(out.map(_._5) === out.map(_._5).sorted)
  }

  test("doubling a doc's weight halves its key: heavier docs sample earlier") {
    // same hash-uniform, different weights — the deterministic analogue
    // of inclusion probability rising with w
    assert(priority(7L, 400L) === priority(7L, 200L) / 2)
    val docs = Seq((7L, "s", 400L), (8L, "s", 100L), (9L, "s", 100L))
    val out = run(docs)
    assert(out.map(_._3).toSet === Set(7L, 8L, 9L))
  }
}

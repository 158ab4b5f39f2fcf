package graft.operators

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Hand-pins for d14 directional containment: the subset-quote case
  * symmetric Jaccard misses, direction asymmetry, the ≥0.8 threshold, and
  * exact-dup symmetry. DuckDB gate proves engine-equality at sf scale.
  */
class ContainmentSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("containment-spec")
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

  private def run(docs: Seq[(Long, String)]): Seq[(Long, Long, Double)] = {
    val sp = spark; import sp.implicits._
    val dir = tmp("contain")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    DedupQueries.all("d14_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  test("a doc fully quoted inside a longer one: contained side 1.0, container side filtered") {
    // doc 1's three 3-shingles are a strict prefix of doc 2's five:
    // containment(1→2) = 3/3 = 1.0 (emitted); containment(2→1) = 3/5 =
    // 0.6 (below threshold); Jaccard would be 3/5 — the asymmetric signal
    // is exactly what d04 can't see. Doc 3 shares nothing.
    val out = run(Seq(
      (1L, "p q r s t"),
      (2L, "p q r s t u v"),
      (3L, "x y z w")))
    assert(out === Seq((1L, 2L, 1.0)))
  }

  test("exact duplicates contain each other symmetrically") {
    val out = run(Seq(
      (4L, "m n o p q"),
      (5L, "m n o p q")))
    assert(out === Seq((4L, 5L, 1.0), (5L, 4L, 1.0)))
  }

  test("d15 cap drops hot-shingle pair space; wide-enough cap is exact") {
    val sp = spark; import sp.implicits._
    val dir = tmp("containcap")
    // five identical docs: one shingle with posting size 5 → 20 directed
    // pairs exactly; cap 4 removes the posting BEFORE the explode (zero
    // pairs), cap 5 keeps the listing identical to the uncapped d14
    (1L to 5L).map(i => (i, "x y z")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val exact = DedupQueries.all("d14_containment")(spark, dir).collect()
    assert(exact.length === 20)
    assert(DedupQueries.cappedContainment(spark, dir, cap = 4).collect().isEmpty)
    assert(DedupQueries.cappedContainment(spark, dir, cap = 5).collect()
      .map(_.toString).sorted === exact.map(_.toString).sorted)
  }

  test("partial overlap below 0.8 on both sides emits nothing") {
    // docs share shingle "a b c" only: 1/2 and 1/3 both < 0.8
    val out = run(Seq(
      (6L, "a b c d"),
      (7L, "a b c x y")))
    assert(out === Seq.empty)
  }
}

package graft.operators

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Hand-pins for t15 collocation mining: the exact fixed-point lift
  * arithmetic, the support floor, the association ranking (an
  * always-together pair must outrank a frequent-but-independent pair
  * regardless of raw counts), LIMIT stability under the unique
  * (lift desc, bg asc) order, and the single-token-doc guard (Spark's
  * `sequence(1, 0)` DESCENDS — the size>=2 filter is load-bearing).
  * The DuckDB gate proves engine-equality at sf scale; this pins
  * SEMANTICS.
  */
class CollocationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("collocation-spec")
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

  private def stage(texts: Seq[String]): String = {
    val sp = spark; import sp.implicits._
    val dir = tmp("colloc")
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact lift values, tie-break by bigram, support floor") {
    // tokens: a×10 b×5 c×5 d×4 e×4  → U = 28
    // bigrams: "a b"×5, "a c"×5, "d e"×4 (below the floor at minCount=5)
    val dir = stage(
      Seq.fill(5)("a b") ++ Seq.fill(5)("a c") ++ Seq.fill(4)("d e"))
    val out = TextQueries.collocations(spark, dir, minCount = 5, topK = 30)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // lift_e4 = (c_ab * U * 1e4) div (c_a * c_b) = (5*28*10000) div 50 = 28000
    // equal lifts → bigram ascending breaks the tie; "d e" floored out
    assert(out === Seq(
      ("a b", 5L, 10L, 5L, 28000L),
      ("a c", 5L, 10L, 5L, 28000L)))
  }

  test("association beats frequency: an always-together pair outranks a popular-independent one") {
    // "x y": both tokens occur ONLY together (6 times).
    // "p q": co-occurs 5 times but p and q are each popular alone (15 each).
    val dir = stage(
      Seq.fill(6)("x y") ++ Seq.fill(5)("p q") ++
        Seq.fill(10)("p r") ++ Seq.fill(10)("s q"))
    val out = TextQueries.collocations(spark, dir, minCount = 5, topK = 30)
      .collect().map(r => (r.getString(0), r.getLong(4)))
    val lift = out.toMap
    assert(lift("x y") > lift("p q"),
      s"always-together must outrank popular-independent: $out")
    // and the values are the exact integer arithmetic: U = 62
    assert(lift("x y") === 6L * 62L * 10000L / (6L * 6L))
    assert(lift("p q") === 5L * 62L * 10000L / (15L * 15L))
  }

  test("topK truncates on the unique total order; single-token docs are guarded") {
    // 3 bigram types at distinct lifts + single-token docs that must
    // contribute unigrams only (and not trip sequence(1, 0))
    val dir = stage(
      Seq.fill(5)("a b") ++ Seq.fill(5)("c d") ++ Seq.fill(5)("e f") ++
        Seq.fill(7)("a")) // pushes "a b"'s lift DOWN via c_a
    val all3 = TextQueries.collocations(spark, dir, minCount = 5, topK = 30)
      .collect().map(_.getString(0))
    assert(all3.length === 3)
    val top2 = TextQueries.collocations(spark, dir, minCount = 5, topK = 2)
      .collect().map(_.getString(0))
    // "a b" has the popular unigram (c_a = 12) → strictly lowest lift →
    // truncated out; "c d"/"e f" tie and sort ascending
    assert(top2 === Seq("c d", "e f"))
  }
}

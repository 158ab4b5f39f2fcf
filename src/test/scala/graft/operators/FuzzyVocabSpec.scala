package graft.operators

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Hand-pins for d16 fuzzy vocabulary matching: the edit-distance
  * threshold, the completeness of length blocking at the maximum length
  * gap (|Δlen| = 2 pairs must still join — distance ≥ length gap, so the
  * three-bucket explode loses nothing), pair uniqueness, and frequency
  * attachment. The DuckDB gate proves engine levenshtein parity at scale.
  */
class FuzzyVocabSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("fuzzy-vocab-spec")
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

  private def run(docs: Seq[(Long, String)],
      op: String = "d16_fuzzy_vocab"): Seq[(String, String, Int, Long, Long)] = {
    val sp = spark; import sp.implicits._
    val dir = tmp("fuzzy")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    DedupQueries.all(op)(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toSeq
  }

  test("typo pairs within distance 2 emit once with frequencies; far pairs don't") {
    // vocabulary: join ×3, jion ×1 (transposition, dist 2), joint ×1
    // (insertion from join, dist 1; from jion it's 3 — excluded), zebra
    // ×1 (far). Same-length pair dedups by token order (jion < join).
    val out = run(Seq(
      (1L, "join join join jion"),
      (2L, "joint zebra")))
    assert(out === Seq(
      ("jion", "join", 2, 1L, 3L),
      ("join", "joint", 1, 3L, 1L)))
  }

  test("a |len|=2 gap at distance exactly 2 is still caught by the bucket explode") {
    val out = run(Seq((1L, "ab abcd")))
    assert(out === Seq(("ab", "abcd", 2, 1L, 1L)))
  }

  // --- d17: deletion-neighborhood (SymSpell) blocking must be lossless ---

  test("d17 equals d16 on a corpus exercising every edit-op combination at distance <= 2") {
    // pairs by construction: 2 substitutions (abcdef/azcdez), 1 sub +
    // 1 del (abcdef/azcde... via abcde_z shapes), 2 dels (abcdef/abcd),
    // 2 ins (abcdef/xabcdefy), transposition (= 2 subs: join/jion),
    // 1 del + 1 ins at different positions (abcdef/bcdefx), identical-
    // length far pair (zebra/motor, excluded), |len|=2 boundary (ab/abcd)
    val docs = Seq(
      (1L, "abcdef azcdez abcd xabcdefy bcdefx"),
      (2L, "join jion joint zebra motor ab abcd"),
      (3L, "abcdef join join"))
    val d16 = run(docs)
    val d17 = run(docs, "d17_fuzzy_vocab_blocked")
    assert(d16.nonEmpty)
    assert(d17 === d16)
  }

  test("d17 catches the pure-deletion corners: empty token and single char") {
    // "" (from a doc of one space? split never yields standalone empties
    // here, so craft via short tokens): a/ab/abc chain — (a,ab) d1,
    // (a,abc) d2, (ab,abc) d1 — all through the shared "" / "a" / "ab"
    // variant buckets
    val docs = Seq((1L, "a ab abc"))
    val d16 = run(docs)
    val d17 = run(docs, "d17_fuzzy_vocab_blocked")
    assert(d17 === d16)
    assert(d17.map(t => (t._1, t._2, t._3)) ===
      Seq(("a", "ab", 1), ("a", "abc", 2), ("ab", "abc", 1)))
  }

  test("d17 emits no pair beyond distance 2 even when variants collide (lev 3-4 shares a variant)") {
    // abcd and cdef share 2-deletion variant "cd" but lev(abcd, cdef) = 4
    // — the bucket join proposes it, the levenshtein gate must kill it
    val d17 = run(Seq((1L, "abcd cdef")), "d17_fuzzy_vocab_blocked")
    assert(d17.isEmpty)
  }
}

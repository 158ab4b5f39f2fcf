package graft.operators

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unit pins for d11 (exact shared-passage detection) on constructed
  * corpora — the DuckDB gate proves engine-equality at sf scale; these
  * pin the SEMANTICS on cases small enough to verify by hand, chiefly
  * the short-doc guard: Spark's `sequence(1, len-39)` for len<40 yields
  * the DESCENDING [1, 0] (not an empty list), so an unguarded short doc
  * would emit whole-text grams and phantom pairs.
  */
class SharedPassagesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("shared-passages-spec")
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

  private def run(docs: Seq[(Long, String)]): Seq[(Long, Long, Long)] = {
    val sp = spark; import sp.implicits._
    val dir = tmp("passages")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    DedupQueries.all("d11_shared_passages")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  test("a 45-char shared passage yields exactly 6 shared 40-grams") {
    val passage = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHI" // 45 chars
    assert(passage.length === 45)
    // boundary chars DIFFER across docs (1/2 vs 3/4) so the shared run is
    // exactly the passage — a shared space on either side would extend it
    val pairs = run(Seq(
      (1L, s"left context1${passage}2right side one"),
      (2L, s"totally different lead-in3${passage}4other tail"),
      (3L, "unrelated text that is comfortably longer than forty characters")))
    // a shared run of length L contributes L-39 distinct shared grams
    assert(pairs === Seq((1L, 2L, 6L)))
  }

  test("short docs are excluded, not collapsed to whole-text grams") {
    val dup = "this exact short string!" // 24 chars, shared verbatim
    assert(dup.length < 40)
    val pairs = run(Seq((1L, dup), (2L, dup),
      (3L, "a third document that is long enough to produce grams normally")))
    // without the len>=40 guard, sequence(1, len-39) = [1, 0] would emit
    // docs 1 and 2's whole text as a "gram" and fabricate the (1,2) pair
    assert(pairs.isEmpty)
  }

  test("a repeated passage INSIDE one doc never pairs the doc with itself") {
    val p = "zyxwvutsrqponmlkjihgfedcba9876543210ZYXW" // exactly 40
    assert(p.length === 40)
    val pairs = run(Seq(
      (1L, s"A${p}B and then again C${p}D"), // twice within one doc
      (2L, s"elsewhere E${p}F appears once in this second document")))
    // dedup inside the posting list: doc 1 contributes ONE entry for p
    // (distinct boundary chars again pin the shared run to exactly p)
    assert(pairs === Seq((1L, 2L, 1L)))
  }

  private def runCapped(docs: Seq[(Long, String)], cap: Int): Seq[(Long, Long, Long)] = {
    val sp = spark; import sp.implicits._
    DedupQueries.passagePairs(
      DedupQueries.passageIndex(spark, docs.toDF("doc_id", "text")),
      maxPosting = Some(cap))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  test("d12 cap: a boilerplate gram shared by >cap docs contributes NO pairs") {
    val boiler = "COMMON LICENSE HEADER SHARED BY EVERY DOC!" // 42 chars → 3 grams
    assert(boiler.length === 42)
    val shared = "meaningful passage shared by two docs..." // exactly 40
    assert(shared.length === 40)
    // docs 1..5 all carry the boilerplate (posting size 5 > cap 4);
    // docs 1 and 2 ALSO share a real passage (posting size 2 <= cap).
    // distinct digit contexts stop the shared runs from extending.
    // char before the passage is the doc digit (distinct), and the text
    // ENDS at the passage's last char — the shared run is exactly the
    // 40-char passage, one gram
    val docs = (1L to 5L).map { i =>
      val tail = if (i <= 2) s"$i$shared" else s"${i}unique filler text for document number $i"
      (i, s"$boiler$i$tail")
    }
    // cap 4: boilerplate grams dropped — ONLY the real passage pairs 1-2
    assert(runCapped(docs, cap = 4) === Seq((1L, 2L, 1L)))
    // cap >= 5 admits the boilerplate: every doc pair appears, and (1,2)
    // counts boilerplate grams + the real passage
    val uncapped = runCapped(docs, cap = 5)
    assert(uncapped.size === 10, s"C(5,2) pairs expected: $uncapped") // all pairs
    assert(uncapped.contains((1L, 2L, 4L))) // 3 boiler grams + 1 passage gram
  }

  test("public sharedPassagesCapped: cap is a caller argument (cap=8 vs default)") {
    val sp = spark; import sp.implicits._
    val boiler = "COMMON LICENSE HEADER SHARED BY EVERY DOC!" // 42 chars → 3 grams
    val shared = "meaningful passage shared by two docs..." // exactly 40
    // 9 docs carry the boilerplate (posting size 9 > cap 8); docs 1 and 2
    // also share the real passage (posting size 2)
    val docs = (1L to 9L).map { i =>
      val tail = if (i <= 2) s"$i$shared" else s"${i}unique filler text for document number $i"
      (i, s"$boiler$i$tail")
    }
    val dir = tmp("passages-cap")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // cap=8 drops the 9-doc boilerplate grams: only the real pair remains
    val at8 = DedupQueries.sharedPassagesCapped(spark, dir, cap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(at8 === Seq((1L, 2L, 1L)))
    // default cap (64) admits the 9-doc boilerplate — all C(9,2) pairs —
    // and the gate entry is exactly the default-cap public call
    val atDefault = DedupQueries.sharedPassagesCapped(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(atDefault.size === 36, s"C(9,2) pairs expected: $atDefault")
    assert(atDefault.contains((1L, 2L, 4L))) // 3 boiler grams + 1 passage
    val viaGate = DedupQueries.all("d12_shared_passages_capped")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaGate === atDefault)
  }
}

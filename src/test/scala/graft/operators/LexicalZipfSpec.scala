package graft.operators

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unit pins for t12 on constructed corpora where the lexical statistics
  * are hand-computable: an exact 1/r frequency curve must measure Zipf
  * slope −1, and hapax/vocab counts are checked literally. The DuckDB
  * gate proves engine-equality at sf scale; this pins the SEMANTICS.
  */
class LexicalZipfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("lexical-zipf-spec")
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

  private def run(docs: Seq[(Long, String, String)]): Seq[(String, Long, Double, Option[Double])] = {
    val sp = spark; import sp.implicits._
    val dir = tmp("zipf")
    docs.toDF("doc_id", "text", "lang").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    TextQueries.all("t12_lexical_zipf")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toSeq
  }

  test("an exact 1/r frequency curve measures slope -1; hapax counts literal") {
    // freqs 12, 6, 4, 3 at ranks 1..4 are exactly f = 12/r, so
    // ln f = ln 12 - 1.0 * ln r: the regression is perfectly linear with
    // slope -1. No type occurs once, so hapax_ratio = 0.
    val text = (Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")).mkString(" ")
    assert(run(Seq((1L, text, "en"))) === Seq(("en", 4L, 0.0, Some(-1.0))))
  }

  test("ties rank deterministically by token; hapax ratio counts singletons") {
    // freqs: xx=2, yy=2, zz=1 — tie between xx/yy broken by token order;
    // the curve is whatever it is, but hapax = 1/3 and vocab = 3 are
    // exact, and the slope must be reproducible across runs.
    val text = "xx yy xx yy zz"
    val out = run(Seq((7L, text, "fr")))
    assert(out.size === 1)
    val (lang, vocab, hapax, slope) = out.head
    assert(lang === "fr")
    assert(vocab === 3L)
    assert(hapax === 0.3333)
    // slope of ln f on ln r for the points (r,f) = (1,2),(2,2),(3,1):
    // cov(ln r, ln f)/var(ln r) = -0.56299, floor-rounded to -0.563
    assert(slope === Some(-0.563))
  }

  test("languages aggregate independently; a 1-type language has no slope") {
    val out = run(Seq((1L, "aa aa bb", "en"), (2L, "cc", "zh")))
    // en: f = 2, 1 at ranks 1, 2 — again exactly 1/r, slope -1.
    // zh: a single regression point has no variance — regr_slope is NULL.
    assert(out === Seq(("en", 2L, 0.5, Some(-1.0)), ("zh", 1L, 1.0, None)))
  }
}

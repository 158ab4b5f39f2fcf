package graft.operators

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Hand-verifiable pins for d13's per-(band, value) bucket cap — the
  * simhash analog of the d12 posting-cap spec: a corpus-dominant
  * signature (every band bucket over the cap) contributes NO pairs,
  * while a small true near-dup family below the cap still pairs.
  */
class SimhashCapSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("simhash-cap-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
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

  private def run(docs: Seq[(Long, String)], cap: Int): Seq[(Int, Long)] = {
    val sp = spark; import sp.implicits._
    val dir = tmp("simhashcap")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    DedupQueries.simhash64Capped(spark, dir, cap)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
  }

  test("an over-cap signature bucket contributes no pairs; a small family still does") {
    // 6 docs with IDENTICAL text: identical 64-bit signatures, so every
    // one of their 4 band buckets holds 6 members — all capped at cap=4.
    // Docs 7 and 8 share a DIFFERENT text: their buckets hold 2 (plus
    // any accidental collision with the dominant signature's band value,
    // which would also be capped — the assertion below proves at least
    // one of their bands stays intact, which is all pigeonhole needs).
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words about spark catalyst parquet shuffles"
    val docs = (1L to 6L).map(i => (i, boiler)) ++ Seq((7L, other), (8L, other))
    // capped: only the (7,8) pair survives, at hamming 0
    assert(run(docs, cap = 4) === Seq((0, 1L)))
    // uncapped (cap above every bucket): all C(6,2) + 1 identical-text
    // pairs appear at hamming 0
    val unc = run(docs, cap = 1000)
    assert(unc.find(_._1 == 0).map(_._2).contains(16L), s"got $unc")
    // the gate entry is the default-cap public call
    val sp = spark; import sp.implicits._
    val dir = tmp("simhashcap2")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val viaGate = DedupQueries.all("d13_simhash64_capped")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val viaDefault = DedupQueries.simhash64Capped(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(viaGate === viaDefault)
  }
}

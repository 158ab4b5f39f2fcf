package graft.operators

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Hand-pins for e03: recall@5 of the 16-dim prefix ranking vs the full
  * 64-dim ranking on constructed geometries — perfect recall when all
  * signal lives in the prefix, and an exact hand-computed recall drop
  * when a candidate hides its (dis)similarity in the tail dims.
  */
class MatryoshkaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = new TempDirs

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("matryoshka-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    tmp.deleteAll()
  }

  /** dim-64 vector with the given (1-based index → value) entries. */
  private def vec(entries: (Int, Double)*): Array[Float] = {
    val a = Array.fill(64)(0.0f)
    entries.foreach { case (i, x) => a(i - 1) = x.toFloat }
    a
  }

  private def run(vs: Seq[(Long, Array[Float])]): Map[Long, (Long, Double)] = {
    val sp = spark; import sp.implicits._
    val dir = tmp("mrl")
    vs.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    SimilarityQueries.all("e03_matryoshka_recall")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
  }

  test("signal entirely inside the prefix: rankings identical, recall 1.0") {
    // candidates live in dims 1-2 only → the 16-dim slice IS the vector,
    // both rankings coincide, all top-5 hit.
    val q = 0L -> vec(1 -> 1.0)
    val cands = (1 to 7).map(j => (9L + j) -> vec(1 -> 1.0, 2 -> 0.1 * j))
    val out = run(q +: cands)
    assert(out(0L) === ((5L, 1.0)))
  }

  test("a tail-dim impostor displaces exactly one true neighbor: recall 0.8") {
    // F's prefix is a perfect match (trunc cos 1.0 → trunc rank 1) but
    // its dim-17 mass makes the full cos ≈ 0.194 → full rank last. The
    // five prefix-only candidates hold full ranks 1-5; in the truncated
    // ranking they shift to 2-6, pushing the weakest (a=0.5) out of the
    // truncated top-5 → intersection 4/5.
    val q = 0L -> vec(1 -> 1.0)
    val prefixy = (1 to 5).map(j => (9L + j) -> vec(1 -> 1.0, 2 -> 0.1 * j))
    val impostor = 20L -> vec(1 -> 0.99, 17 -> 5.0)
    val out = run(Seq(q, impostor) ++ prefixy)
    assert(out(0L) === ((4L, 0.8)))
  }
}

package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The m02/m03/m04 gate entries are checked against CHECKED-IN golden
  * parquet (DuckDB can't decode media — see Multimodal.oracles). This
  * spec recomputes each pipeline at the gate scale (sf0.01) and compares
  * row-for-row against the golden file, so a legitimate behavior change
  * fails here first with a readable diff instead of as an opaque hash
  * mismatch in the driver gate — and a forgotten golden regeneration
  * can't slip through `sbt test`.
  */
class MediaGoldenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.01"

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("media-golden-spec")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def check(name: String): Unit = {
    val fresh = Multimodal.all(name)(spark, dir)
    val golden = spark.read.parquet(s"${Multimodal.GoldenDir}/$name.parquet")
    assert(fresh.schema.map(f => (f.name, f.dataType)) ===
      golden.schema.map(f => (f.name, f.dataType)), s"$name schema drift")
    val f = fresh.collect().map(_.toSeq).toSeq
    val g = golden.collect().map(_.toSeq).toSeq
    assert(f === g, s"$name values drifted from golden/$name.parquet — " +
      "if intentional, regenerate via SPARK_GRAFT_ONLY=" + name +
        " scripts/run.sh graft.Verify at sf0.01")
  }

  test("m02 media features match the checked-in golden")(check("m02_media_features"))
  test("m03 frame sample matches the checked-in golden")(check("m03_frame_sample"))
  test("m04 audio features match the checked-in golden")(check("m04_audio_features"))
}

package graft.sources.pbf

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A non-`file:` Hadoop FileSystem with its own scheme, backed by local
  * disk — the sandbox stand-in for an object store. Everything the source
  * does against `s3a:` goes through exactly this seam (FileSystem.get →
  * open → seek/readFully; mkdirs/create/rename on the write side), so
  * driving the full read + transcode paths through a foreign scheme
  * verifies the S2 claim as far as a sandbox without network can:
  * no code path assumes `file:` or java.io outside the FS API.
  */
class MockObjectStoreFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftmock:///")
  override def getScheme: String = "graftmock"
}

class RemoteFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val fixture = PbfFixtures.path("test.osm.pbf")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("remote-fs-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // set on the CONTEXT's hadoop conf directly: getOrCreate() against an
    // already-running context (another suite's session) would silently
    // drop a spark.hadoop.* builder conf, and OsmPbf resolves filesystems
    // from sparkContext.hadoopConfiguration
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftmock.impl", classOf[MockObjectStoreFs].getName)
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    dirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A temp dir deleted in afterAll. */
  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs += d
    d.toString
  }

  test("bootstrap read + DSv2 scan work through a non-file Hadoop FS scheme") {
    val df = OsmPbf.read(spark, s"graftmock://$fixture")
    assert(df.count() === 5)
    val v2 = spark.read.format("osmpbf").load(s"graftmock://$fixture")
      .filter(org.apache.spark.sql.functions.col("type") === "way")
      .select("id").collect()
    assert(v2.map(_.getLong(0)).toSeq === Seq(107L))
  }

  test("st17 CDC snapshot store works through the foreign scheme") {
    import org.apache.spark.sql.functions.col
    val target = "graftmock://" +
      tempDir("graftmockcdc")
    def batchDf(rows: Seq[(Long, Double)]) = {
      val s = spark; import s.implicits._
      rows.toDF("user_id", "value")
    }
    graft.streaming.EventStreams.applyChangeset(
      batchDf(Seq((1L, 1.00), (2L, 2.50))), 0L, target)
    graft.streaming.EventStreams.applyChangeset(
      batchDf(Seq((1L, 0.49))), 1L, target)
    // replayed committed batch: the _SUCCESS probe (through the foreign
    // scheme) must skip, keyed on batchId alone
    graft.streaming.EventStreams.applyChangeset(
      batchDf(Seq((1L, 999.0))), 1L, target)
    val latest = graft.streaming.EventStreams.latestVersion(target).get
    assert(latest.startsWith("graftmock:/"),
      s"snapshot path must carry the foreign scheme: $latest")
    assert(latest.endsWith("v1"))
    val got = spark.read.parquet(latest)
      .orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 2L, 149L), (2L, 1L, 250L)))
  }

  test("bucketed CDC recovery (the _BUCKETS protocol) works through the foreign scheme") {
    import org.apache.spark.sql.functions.col
    val E = graft.streaming.EventStreams
    val target = "graftmock://" +
      tempDir("graftmockbkt")
    val prefix = "graft_rfsbkt"
    def batchDf(rows: Seq[(Long, Double)]) = {
      val s = spark; import s.implicits._
      rows.toDF("user_id", "value")
    }
    def readLatest() = E.snapshotAt(spark, target)
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    E.applyChangeset(batchDf(Seq((1L, 1.00), (2L, 2.50))), 0L,
      target, E.Bucketed(prefix, 4))
    // the bucketed write + its marker landed via the foreign FS
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$target/v0/_BUCKETS")))
    assert(E.readBucketCount(fs,
      new org.apache.hadoop.fs.Path(s"$target/v0")) === Some(4))

    // fresh-JVM recovery: catalog gone, committed dir + marker are the
    // only truth — re-registration (marker read, bucket-file validation,
    // CREATE ... LOCATION 'graftmock://...') all through the scheme
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v0")
    E.applyChangeset(batchDf(Seq((1L, 0.49))), 1L,
      target, E.Bucketed(prefix, 4))
    assert(readLatest() === Seq((1L, 2L, 149L), (2L, 1L, 250L)))

    // the makeQualified comparison against an EXISTING catalog entry:
    // same foreign-scheme location must be recognized as equal (reuse,
    // no exception) — the one branch a file:-scheme run cannot prove
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v1")
    spark.sql(s"""CREATE TABLE ${prefix}_v1 (user_id BIGINT, n_events BIGINT,
      cents BIGINT) USING PARQUET CLUSTERED BY (user_id)
      SORTED BY (user_id) INTO 4 BUCKETS LOCATION '$target/v1'""")
    E.applyChangeset(batchDf(Seq((3L, 10.0))), 2L,
      target, E.Bucketed(prefix, 4))
    assert(readLatest() ===
      Seq((1L, 2L, 149L), (2L, 1L, 250L), (3L, 1L, 1000L)))

    // and the committed-skip heal: marker deleted through the foreign
    // FS, hostile replay of the committed batch re-derives + rewrites it
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$target/v2/_BUCKETS"), false))
    E.applyChangeset(batchDf(Seq((9L, 999.0))), 2L,
      target, E.Bucketed(prefix, 4))
    assert(E.readBucketCount(fs,
      new org.apache.hadoop.fs.Path(s"$target/v2")) === Some(4),
      "the heal path must work over the foreign scheme too")
    assert(readLatest() ===
      Seq((1L, 2L, 149L), (2L, 1L, 250L), (3L, 1L, 1000L)))
  }

  test("transcode reads AND writes through the foreign scheme") {
    val out = tempDir("graftmockout")
    val counts = OsmPbf.transcode(spark, PbfConfig(
      input = s"graftmock://$fixture", output = s"graftmock://$out"))
    assert(counts.values.sum === 5L)
    // read back through the same scheme: the staging-dir swap, hive
    // type= layout, and parquet files all landed via the FS API
    val back = spark.read.parquet(s"graftmock://$out")
    assert(back.count() === 5)
    assert(back.select("type").distinct().collect().map(_.getString(0)).sorted
      === Array("node", "relation", "way"))
  }
}

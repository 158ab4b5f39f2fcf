package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import EventStreams.Bucketed

/** [[EventStreams.versionDiff]] — the audit read over the versioned
  * snapshot store: classification semantics, the unchanged-key filter,
  * the zero-Exchange plan over the bucketed layout, the fresh-session
  * fallback, and the missing-pin error.
  */
class VersionDiffSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val warehouse = java.nio.file.Files.createTempDirectory("wh-vd").toString

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("version-diff-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warehouse))
  }

  /** (user_id, value) changeset rows. */
  private def chg(rows: (Long, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("user_id", "value")
  }

  private def buildStore(prefix: String): String = {
    val target = java.nio.file.Files.createTempDirectory(s"vd-$prefix").toString
    // v0: users 1,2,3 — v1: user 2 again (changed) — v2: user 4 (added)
    EventStreams.applyChangeset(
      chg((1L, 1.00), (2L, 2.00), (3L, 3.00)), 0L, target, Bucketed(prefix, 4))
    EventStreams.applyChangeset(
      chg((2L, 0.50)), 1L, target, Bucketed(prefix, 4))
    EventStreams.applyChangeset(
      chg((4L, 4.00)), 2L, target, Bucketed(prefix, 4))
    target
  }

  test("classifies added/changed, filters unchanged keys, both layouts") {
    val prefix = "vd_t1"
    val target = buildStore(prefix)
    try {
      val d = EventStreams.versionDiff(spark, target, 0L, 2L,
        Bucketed(prefix, 4)).orderBy(col("user_id")).collect()
      // users 1 and 3 are identical at v0 and v2 → filtered out;
      // user 2: (1,200)→(2,250) changed; user 4: absent→(1,400) added
      assert(d.map(_.getLong(0)).toSeq === Seq(2L, 4L))
      val byUser = d.map(r => r.getLong(0) -> r).toMap
      assert(byUser(2L).getString(1) === "changed")
      assert(byUser(2L).getLong(2) === 1L && byUser(2L).getLong(3) === 200L)
      assert(byUser(2L).getLong(4) === 2L && byUser(2L).getLong(5) === 250L)
      assert(byUser(4L).getString(1) === "added")
      assert(byUser(4L).isNullAt(2) && byUser(4L).isNullAt(3))
      assert(byUser(4L).getLong(4) === 1L && byUser(4L).getLong(5) === 400L)
      // plain-dir read (no prefix) must produce the identical diff
      val plain = EventStreams.versionDiff(spark, target, 0L, 2L)
        .orderBy(col("user_id")).collect()
      assert(plain.map(_.toString).toSeq === d.map(_.toString).toSeq)
    } finally {
      (0 to 2).foreach(i => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v$i"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(target))
    }
  }

  test("bucketed diff runs as a zero-Exchange zero-shuffle SMJ") {
    val prefix = "vd_t2"
    val target = buildStore(prefix)
    try {
      val d = EventStreams.versionDiff(spark, target, 0L, 2L,
        Bucketed(prefix, 4))
      d.collect() // materialize so AQE finalizes the plan
      val plan = d.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(plan.contains("FullOuter"), s"expected full-outer:\n$plan")
      assert(!plan.contains("Exchange"),
        s"co-bucketed version diff must not shuffle either snapshot:\n$plan")
    } finally {
      (0 to 2).foreach(i => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v$i"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(target))
    }
  }

  test("fresh session fallback: missing catalog entry reads the dir") {
    val prefix = "vd_t3"
    val target = buildStore(prefix)
    try {
      val before = EventStreams.versionDiff(spark, target, 0L, 2L,
        Bucketed(prefix, 4)).orderBy(col("user_id")).collect()
      (0 to 2).foreach(i => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v$i"))
      val after = EventStreams.versionDiff(spark, target, 0L, 2L,
        Bucketed(prefix, 4)).orderBy(col("user_id")).collect()
      assert(after.map(_.toString).toSeq === before.map(_.toString).toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(target))
    }
  }

  test("applyDeletes: removed class, history intact, retry-idempotent") {
    val target = java.nio.file.Files.createTempDirectory("vd-del").toString
    try {
      EventStreams.applyChangeset(
        chg((1L, 1.00), (2L, 2.00), (3L, 3.00)), 0L, target)
      EventStreams.applyChangeset(chg((2L, 0.50)), 1L, target)
      import spark.implicits._
      EventStreams.applyDeletes(Seq(2L).toDF("user_id"), 2L, target)
      // the diff reports the deletion as `removed` with old state intact
      val d = EventStreams.versionDiff(spark, target, 1L, 2L).collect()
      assert(d.length === 1)
      assert(d.head.getLong(0) === 2L && d.head.getString(1) === "removed")
      assert(d.head.getLong(2) === 2L && d.head.getLong(3) === 250L)
      assert(d.head.isNullAt(4) && d.head.isNullAt(5))
      // v2 itself: user 2 gone, others untouched
      val v2 = spark.read.parquet(s"$target/v2")
        .orderBy(col("user_id")).collect()
      assert(v2.map(_.getLong(0)).toSeq === Seq(1L, 3L))
      // history below the tombstone batch still holds the user
      assert(spark.read.parquet(s"$target/v1")
        .filter(col("user_id") === 2L).count() === 1L)
      // hostile retry (same batchId, different payload) must skip on the
      // _SUCCESS guard — deleting user 1 here would corrupt v2
      EventStreams.applyDeletes(Seq(1L).toDF("user_id"), 2L, target)
      assert(spark.read.parquet(s"$target/v2").count() === 2L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(target))
    }
  }

  test("applyDeletesBucketed: layout preserved, marker written, retry skips") {
    val prefix = "vd_t6"
    val target = buildStore(prefix)
    import spark.implicits._
    try {
      EventStreams.applyDeletes(
        Seq(2L).toDF("user_id"), 3L, target, Bucketed(prefix, 4))
      // semantics: user 2 gone from v3, others carried with merged state
      val v3 = spark.read.parquet(s"$target/v3")
        .orderBy(col("user_id")).collect()
      assert(v3.map(_.getLong(0)).toSeq === Seq(1L, 3L, 4L))
      // layout: still a bucketed write — suffixed data files, ≤1 per
      // bucket (the zero-Exchange rewrite can't multiply files), marker
      // present so the NEXT apply re-registers the bucketed scan
      val fs = new org.apache.hadoop.fs.Path(target)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$target/v3"))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
      assert(dataFiles.nonEmpty && dataFiles.length <= 4,
        s"expected <=1 file per bucket, got ${dataFiles.map(_.getPath.getName).toSeq}")
      assert(dataFiles.forall(_.getPath.getName.matches(".*_(\\d{5})(?:\\.c\\d+)?\\..*")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$target/v3/_BUCKETS")))
      // the diff over the delete version reports removed, co-bucketed
      val d = EventStreams.versionDiff(spark, target, 2L, 3L,
        Bucketed(prefix, 4)).collect()
      assert(d.length === 1 && d.head.getLong(0) === 2L &&
        d.head.getString(1) === "removed")
      // hostile retry: same batchId, a tombstone that would delete user 1
      EventStreams.applyDeletes(
        Seq(1L).toDF("user_id"), 3L, target, Bucketed(prefix, 4))
      assert(spark.read.parquet(s"$target/v3").count() === 3L)
      // and a later merge apply composes on top of the delete version
      EventStreams.applyChangeset(
        chg((2L, 9.00)), 4L, target, Bucketed(prefix, 4))
      val v4 = spark.read.parquet(s"$target/v4")
        .filter(col("user_id") === 2L).collect()
      assert(v4.length === 1 && v4.head.getLong(1) === 1L &&
        v4.head.getLong(2) === 900L, "re-inserted user starts fresh")
    } finally {
      (0 to 4).foreach(i => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v$i"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(target))
    }
  }

  test("a foreign same-named catalog entry never redirects the diff") {
    val prefix = "vd_t7"
    val target = buildStore(prefix)
    val decoy = java.nio.file.Files.createTempDirectory("vd-decoy").toString
    try {
      val honest = EventStreams.versionDiff(spark, target, 0L, 2L,
        Bucketed(prefix, 4)).orderBy(col("user_id")).collect()
      // replace v2's entry with one pointing at a DIFFERENT store's dir
      // (two stores sharing a prefix / a rebuilt store at a new path) —
      // the diff must detect the location mismatch and read the
      // committed dir, not the decoy
      EventStreams.applyChangeset(
        chg((99L, 9.99)), 2L, decoy, Bucketed("vd_t7_decoy", 4))
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v2")
      spark.sql(s"""CREATE TABLE ${prefix}_v2 (user_id BIGINT,
        n_events BIGINT, cents BIGINT) USING PARQUET CLUSTERED BY (user_id)
        SORTED BY (user_id) INTO 4 BUCKETS LOCATION '$decoy/v2'""")
      val guarded = EventStreams.versionDiff(spark, target, 0L, 2L,
        Bucketed(prefix, 4)).orderBy(col("user_id")).collect()
      assert(guarded.map(_.toString).toSeq === honest.map(_.toString).toSeq)
    } finally {
      (0 to 2).foreach { i =>
        spark.sql(s"DROP TABLE IF EXISTS ${prefix}_v$i")
        spark.sql(s"DROP TABLE IF EXISTS vd_t7_decoy_v$i")
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(target))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(decoy))
    }
  }

  test("missing pin fails loudly") {
    // pins resolve DOWNWARD (latest committed <= pin), so only a pin
    // below the first committed version can fail; commit v1 only and
    // pin the old side at 0
    val t2 = java.nio.file.Files.createTempDirectory("vd-empty").toString
    EventStreams.applyChangeset(chg((1L, 1.0)), 1L, t2, Bucketed("vd_t4b", 4))
    try {
      val e = intercept[IllegalArgumentException] {
        EventStreams.versionDiff(spark, t2, 0L, 1L)
      }
      assert(e.getMessage.contains("no committed version"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS vd_t4b_v1")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t2))
    }
  }
}

package graft.sources.pbf

import graft.TempDirs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end slice (SURVEY.md §7): PBF → DataFrame → hive-partitioned
  * parquet → read back → the reference's own validation queries
  * (validate.py V1 dup check; indexed.rs F2 predicate + F3 semi-join).
  */
class OsmPbfSparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val fixture = PbfFixtures.path("test.osm.pbf")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      // local[4,2]: maxFailures=2, so the retry-commit pin below can drive
      // a REAL Spark task retry (local[N] defaults to maxFailures=1, under
      // which any task failure fails the job before a retry exists)
      .master("local[4,2]")
      .appName("osmpbf-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  private val tmp = new TempDirs

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    tmp.deleteAll()
  }

  test("read produces the unified schema with 5 elements") {
    val df = OsmPbf.read(spark, fixture)
    assert(df.schema === OsmSchema.schema)
    assert(df.count() === 5)
    val byType = df.groupBy("type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("node" -> 3L, "way" -> 1L, "relation" -> 1L))
  }

  test("transcode of a header-only PBF commits empty type dirs and zero counts") {
    // a valid file with ZERO data blobs (e.g. an extract of an empty
    // region) previously crashed parallelize(_, 0) instead of committing
    val dir = tmp("graft-emptypbf")
    val pbf = s"$dir/empty.osm.pbf"
    PbfWriter.synthesize(pbf, blocks = 0, nodesPerBlock = 0)
    val out = s"$dir/out"
    val counts = OsmPbf.transcode(spark, PbfConfig(input = pbf, output = out))
    assert(counts.values.sum === 0L)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs === Set("type=node", "type=way", "type=relation"))
  }

  test("transcode writes hive-partitioned parquet routed by type (K1/K6)") {
    val out = tmp("osmparq")
    val counts = OsmPbf.transcode(spark, PbfConfig(input = fixture, output = out, compression = 3))
    // A1 element counters ride the write jobs (Observation API)
    assert(counts === Map("node" -> 3L, "way" -> 1L, "relation" -> 1L))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs === Set("type=node", "type=way", "type=relation"))

    val back = spark.read.parquet(out)
    assert(back.count() === 5)
    // V1: no duplicate (id, type) — validate.py:57-64
    assert(back.groupBy("id", "type").count().filter(col("count") > 1).count() === 0)
    // round-trip fidelity for the way row
    val way = back.filter(col("type") === "way").collect().head
    assert(way.getAs[Map[String, String]]("tags") === Map("building" -> "yes", "name" -> "triangle"))
  }

  test("transcode round-trips every column exactly (direct parquet writer fidelity)") {
    val out = tmp("osmfid")
    OsmPbf.transcode(spark, PbfConfig(input = fixture, output = out))
    val cols = OsmSchema.schema.fieldNames
    val src = OsmPbf.read(spark, fixture).select(cols.head, cols.tail: _*)
      .collect().sortBy(r => (r.getAs[String]("type"), r.getAs[Long]("id")))
    val back = spark.read.parquet(out).select(cols.head, cols.tail: _*)
      .collect().sortBy(r => (r.getAs[String]("type"), r.getAs[Long]("id")))
    assert(src.length === back.length)
    src.zip(back).foreach { case (a, b) => assert(a === b) }
  }

  test("re-running transcode into the same output leaves no stale part files") {
    val dir = tmp("osmrerun")
    val big = s"$dir/big.osm.pbf"
    val small = s"$dir/small.osm.pbf"
    PbfWriter.synthesize(big, blocks = 8, nodesPerBlock = 2000)
    val nSmall = PbfWriter.synthesize(small, blocks = 1, nodesPerBlock = 100)
    val out = s"$dir/out"
    // first run fans out to more tasks/files than the second: without
    // cleanup the second run's read-back would mix generations
    OsmPbf.transcode(spark, PbfConfig(input = big, output = out))
    OsmPbf.transcode(spark, PbfConfig(input = small, output = out))
    assert(spark.read.parquet(out).count() === nSmall)
  }

  test("failed transcode leaves the previous good output untouched (staging swap)") {
    val dir = tmp("osmstage")
    val good = s"$dir/good.osm.pbf"
    val n = PbfWriter.synthesize(good, blocks = 2, nodesPerBlock = 500)
    val out = s"$dir/out"
    OsmPbf.transcode(spark, PbfConfig(input = good, output = out))
    // corrupt a copy's zlib payload mid-blob: framing stays parseable,
    // decode fails inside the task, the job aborts
    val bad = s"$dir/bad.osm.pbf"
    java.nio.file.Files.copy(java.nio.file.Paths.get(good), java.nio.file.Paths.get(bad))
    val raf = new java.io.RandomAccessFile(bad, "rw")
    try { raf.seek(raf.length() - 40); raf.write(new Array[Byte](20)) } finally raf.close()
    intercept[Exception] {
      OsmPbf.transcode(spark, PbfConfig(input = bad, output = out))
    }
    assert(spark.read.parquet(out).count() === n) // old output intact
  }

  test("a REAL task retry never publishes the lost attempt's completed staging files") {
    // The zombie-attempt hazard, executed rather than reasoned about: a
    // task attempt finishes writing its staging parquet files (closed,
    // durable — the state a heartbeat-timeout relaunch leaves behind) and
    // THEN dies, so Spark relaunches the partition and a second attempt
    // writes the same rows under its own attempt tag. Without manifest-
    // based per-file publication, job commit would ship BOTH attempts'
    // files — silent duplicate rows. sink.rs:82-105's single-writer
    // rotation assumes this can't happen; Spark's retry semantics make it
    // routine, hence the attempt-manifest protocol under test.
    val dir = tmp("osmretry")
    val pbf = s"$dir/in.osm.pbf"
    // big enough to split into several groups (decoded-weight target
    // floors at 1 MiB) so the retried partition's files coexist with
    // other winners at commit
    val n = PbfWriter.synthesize(pbf, blocks = 24, nodesPerBlock = 8000,
      waysPerBlock = 4, relationsPerBlock = 1)
    val out = s"$dir/out"
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("graft.test.transcode.failPartitionOnce", 0)
    try {
      val counts = OsmPbf.transcode(spark, PbfConfig(input = pbf, output = out))
      // counts come only from winning attempts
      assert(counts.values.sum === n)
      val back = spark.read.parquet(out)
      // exact rows: a published loser file would double partition 0's rows
      assert(back.count() === n)
      // V1 validate: zero duplicate (id, type) — the precise corruption a
      // double-published attempt produces
      assert(OsmValidate.duplicates(back).count() === 0)
      // file-level pin: every partition's files carry exactly ONE attempt
      // tag, i.e. the loser's files are gone, not merely out-voted — via
      // the shared audit (OsmValidate.attemptTags, also driven at 40M by
      // tools/RetrySoak), which itself fails loud on name-shape drift
      val attemptsPerPartition = OsmValidate.attemptTags(new java.io.File(out))
      assert(attemptsPerPartition.values.forall(_.size == 1),
        s"partition published files from multiple attempts: $attemptsPerPartition")
      // (the retry itself is proven by success: partition 0 attempt 0
      // throws unconditionally, so reaching here required attempt 1)
      // full validate sweep (--validate parity): duplicates, missing,
      // scalar + deep mismatches all zero against a fresh decode
      val full = OsmValidate.report(OsmPbf.read(spark, pbf), back).collect()
      assert(full.forall(_.getLong(1) === 0L), full.mkString(", "))
    } finally hc.unset("graft.test.transcode.failPartitionOnce")
  }

  test("transcode progress monitor fires periodic + final events (C4)") {
    val dir = tmp("osmprog")
    val pbf = s"$dir/prog.osm.pbf"
    val n = PbfWriter.synthesize(pbf, blocks = 20, nodesPerBlock = 5000)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[OsmPbf.TranscodeProgress]()
    OsmPbf.transcode(spark, PbfConfig(input = pbf, output = s"$dir/out"),
      onProgress = events.add(_), progressIntervalMs = 25L)
    assert(!events.isEmpty) // at least the guaranteed completion event
    import scala.jdk.CollectionConverters._
    val last = events.asScala.last
    assert(last.elements === n)
    assert(last.inputBytes === OsmPbf.dataSpans(spark, pbf).map(_.length.toLong).sum)
    // phase counters: every phase ran, and the final event carries the commit
    assert(last.readS > 0 && last.inflateS > 0 && last.decodeEncodeS > 0 && last.taskCpuS > 0)
    assert(last.commitS > 0)
    assert(last.decodeEncodeS + last.inflateS + last.readS < last.seconds * spark.sparkContext.defaultParallelism)
  }

  test("row-group sizing: --max-row-group-count bounds rows per row group") {
    val dir = tmp("osmrg")
    val pbf = s"$dir/rg.osm.pbf"
    PbfWriter.synthesize(pbf, blocks = 1, nodesPerBlock = 1000)
    OsmPbf.transcode(spark, PbfConfig(input = pbf, output = s"$dir/out",
      maxRowGroupRows = Some(300)))
    val nodeDir = new java.io.File(s"$dir/out/type=node")
    val files = nodeDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(files.head.getAbsolutePath))
    import scala.jdk.CollectionConverters._
    val groups = footer.getBlocks.asScala
    assert(groups.size >= 3) // 1000 rows / 300-cap => at least 4 groups in-file
    assert(groups.forall(_.getRowCount <= 300L))
  }

  test("file rotation by actual bytes (--file-target-mb feedback loop)") {
    val dir = tmp("osmrot")
    val pbf = s"$dir/rot.osm.pbf"
    val n = PbfWriter.synthesize(pbf, blocks = 10, nodesPerBlock = 20000)
    OsmPbf.transcode(spark, PbfConfig(input = pbf, output = s"$dir/out",
      compression = 0, fileTargetMb = Some(1)))
    val files = new java.io.File(s"$dir/out/type=node").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    // 200k nodes are ~10MB uncompressed; a 1MB byte target must rotate
    assert(files.length > 5, s"expected rotation, got ${files.length} files")
    assert(spark.read.parquet(s"$dir/out").count() === n)
  }

  test("F2/F3: tag predicate filter + broadcast semi-join for dependent nodes") {
    val df = OsmPbf.read(spark, fixture).cache()
    // F2: ways with building=yes (indexed.rs:286-297)
    val matchingWays = df.filter(col("type") === "way" &&
      col("tags").getItem("building") === "yes")
    assert(matchingWays.count() === 1)
    // F3: semi-join nodes on the matching ways' refs (indexed.rs:264-330)
    val refs = matchingWays.select(explode(col("nds.ref")).as("ref")).distinct()
    val depNodes = df.filter(col("type") === "node")
      .join(broadcast(refs), col("id") === col("ref"), "left_semi")
    assert(depNodes.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(105L, 106L, 108L))
    df.unpersist()
  }

  test("typed Dataset[OsmElement] view") {
    val ds = OsmPbf.readTyped(spark, fixture)
    val way = ds.filter(_.isWay).collect().head
    assert(way.id === 107L)
    assert(way.tag("building") === Some("yes"))
    assert(way.nds.get.map(_.ref) === Seq(105L, 106L, 108L, 105L))
    val nodeIds = ds.filter(_.isNode).map(_.id)(org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted
    assert(nodeIds.toSeq === Seq(105L, 106L, 108L))
    val rel = ds.filter(_.isRelation).collect().head
    assert(rel.members.get.head.role === Some("test_role"))
  }

  test("header metadata surface (S6)") {
    val h = OsmPbf.header(spark, fixture).get
    assert(h.requiredFeatures.toSet === Set("OsmSchema-V0.6", "DenseNodes"))
  }

  test("transcode with --file-target-mb 500 writes every element") {
    val out = tmp("osmft")
    OsmPbf.transcode(spark, PbfConfig(input = fixture, output = out, fileTargetMb = Some(500)))
    assert(spark.read.parquet(out).count() === 5)
  }

  test("config validation mirrors util.rs rules") {
    assertThrows[IllegalArgumentException](
      PbfConfig(input = "/x/data.txt").validate())
    assertThrows[IllegalArgumentException](
      PbfConfig(input = "/x/a.pbf", compression = 23).validate())
    assertThrows[IllegalArgumentException](
      PbfConfig(input = "/x/a.pbf", fileTargetMb = Some(0)).validate())
    PbfConfig(input = "/x/a.osm.pbf").validate() // ok
  }

  test("unknown or dangling CLI options fail loudly (clap parity, util.rs:24-64)") {
    // misspelled option: previously silently dropped, default ran instead
    intercept[IllegalArgumentException](
      graft.Main.parseArgs(Array("--input", "a.osm.pbf", "--compresion", "5")))
    intercept[IllegalArgumentException](
      graft.Main.parseArgs(Array("--input", "a.osm.pbf", "--output")))
    assert(graft.Main.parseArgs(Array("--input", "a.osm.pbf", "--compression", "5"))
      === Map("input" -> "a.osm.pbf", "compression" -> "5"))
  }

  test("non-numeric option values fail typed, not as a raw NumberFormatException") {
    // clap parity: `--compression abc` previously escaped main's clean
    // exit-2 path as a bare NumberFormatException stack trace
    val e = intercept[IllegalArgumentException](
      graft.Main.numeric(Map("compression" -> "abc"), "compression", "3"))
    assert(e.getMessage.contains("abc") && e.getMessage.contains("--compression"))
    assert(graft.Main.numeric(Map("compression" -> "-1"), "compression", "3") === "-1")
    assert(graft.Main.numeric(Map.empty, "compression", "3") === "3")
  }

  test("arg-vector fuzz: parseArgs is total (Map or IllegalArgumentException)") {
    val knownish = Array("--input", "--output", "--compression", "--compresion",
      "--file-target-mb", "--validate", "-x", "", "a.osm.pbf", "5", "abc", "--")
    val rnd = new scala.util.Random(316)
    (1 to 300).foreach { i =>
      val n = rnd.nextInt(7)
      val args = Array.fill(n)(knownish(rnd.nextInt(knownish.length)))
      try { graft.Main.parseArgs(args); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"trial $i (${args.mkString(" ")}) escaped with ${e.getClass.getName}")
      }
    }
  }

  test("--worker-threads aliases the local master thread count (util.rs:44-45)") {
    assert(graft.Main.masterOf(Map("worker-threads" -> "6")) === "local[6]")
    assert(graft.Main.masterOf(Map.empty) === "local[*]")
    // an explicit --master wins over the alias
    assert(graft.Main.masterOf(
      Map("master" -> "local[2]", "worker-threads" -> "6")) === "local[2]")
    assertThrows[IllegalArgumentException](
      graft.Main.masterOf(Map("worker-threads" -> "nope")))
    assertThrows[IllegalArgumentException](
      graft.Main.masterOf(Map("worker-threads" -> "0")))
    // huge-digit value: the length cap short-circuits before toInt, so the
    // message is masterOf's own, not toInt's NumberFormatException one —
    // and main now routes masterOf through the same cleanExit as parseArgs
    // (an IAE here previously escaped as a raw stack trace)
    val big = intercept[IllegalArgumentException](
      graft.Main.masterOf(Map("worker-threads" -> "99999999999")))
    assert(big.getMessage.contains("--worker-threads"))
  }

  test("the value-form numeric overload validates without a map lookup") {
    assert(graft.Main.numeric("file-target-mb", "500") === "500")
    val e = intercept[IllegalArgumentException](
      graft.Main.numeric("file-target-mb", "5x0"))
    assert(e.getMessage.contains("--file-target-mb"))
  }
}

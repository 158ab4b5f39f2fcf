package graft.sources.pbf

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Adversarial-input fuzz for the column-direct writer — the write-side
  * twin of DecodeFuzzSpec's contract. The hand-derived Dremel shredding in
  * [[DirectParquet.ColumnarWriter]] was hand-reviewed (r14) but never fed
  * hostile rows; the decode fuzzer found 2 escapes in same-day-reviewed
  * code, so the writer gets the same treatment: every schema-valid row —
  * 10 MB strings, empty/null maps and lists, max-negative coords, NaN/-0.0
  * bit patterns, Long/Int extremes, 100k-ref ways, all-null member structs
  * — must ROUND-TRIP bit-exactly through write → parquet → Spark read, or
  * fail typed. A level mis-derivation shows up as value swaps/nulls in the
  * read-back, not as a crash, which is why the assertion is bitwise
  * equality per field, not just "doesn't throw".
  */
class WriterFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("writer-fuzz-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def nd(ref: Long): Row = Row(ref)
  private def member(t: String, ref: java.lang.Long, role: String): Row = Row(t, ref, role)
  private def ldt(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)

  /** Write external Rows (13-col OsmSchema shape) through ColumnarWriter
    * and read the file back with Spark's parquet reader. */
  private def roundTrip(rows: Seq[Row], dir: String): Seq[Row] = {
    val df = spark.createDataFrame(rows.asJava, OsmSchema.schema)
    val internal = df.queryExecution.toRdd.collect()
    assert(internal.length == rows.length)
    val file = new Path(s"$dir/part-fuzz.parquet")
    val w = new DirectParquet.ColumnarWriter(file, new Configuration(),
      CompressionCodecName.ZSTD, rowGroupBytes = 1L << 20, rowGroupRows = Some(1000))
    try internal.foreach(ColumnSink.appendRow(_, w)) finally w.close()
    // read back WITHOUT the type column (the writer skips field 12 — the
    // transcode routes it into the hive directory); explicit select pins
    // the 12-col positional order the comparison uses
    spark.read.parquet(file.toString)
      .select(OsmSchema.schema.fieldNames.dropRight(1).map(col): _*)
      .collect().toSeq
  }

  /** Bit-exact canonical form: doubles by their raw bits (NaN and -0.0
    * are distinct, exactly what the file stores), maps as sorted entry
    * lists, structs/arrays recursively. */
  private def canon(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    // collection.Map / collection.Seq, not the immutable aliases: Spark's
    // collected rows carry mutable.ArraySeq for arrays, which `case s:
    // Seq[_]` (immutable in 2.13) silently skips
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (canon(k), canon(x)) }
        .sortBy(_._1.toString).toList
    case s: scala.collection.Seq[_] => s.map(canon).toList
    case r: Row => r.toSeq.map(canon).toList
    case x => x
  }

  /** Positional: the source rows are schemaless GenericRows; the read-back
    * rows are resolved to the same 12-col order via an explicit select. */
  private def canonRow(r: Row, fields: Seq[String]): Seq[(String, Any)] =
    fields.zipWithIndex.map { case (f, i) => f -> canon(r.get(i)) }

  test("hand-picked adversarial rows round-trip bit-exactly") {
    val big = "x" * (10 << 20)           // a 10 MB string value
    val manyTags = (1 to 5000).map(i => s"k$i" -> s"v$i").toMap
    val longWay = Row(3L, null, null, null,
      (1 to 100000).map(i => nd(i.toLong * -7)), null,
      null, null, null, null, null, null, "way")
    val rows = Seq(
      // every optional field null (the writer's all-null def-level path)
      Row(Long.MinValue, null, null, null, null, null,
        null, null, null, null, null, null, "node"),
      // empty containers are DISTINCT from null containers in parquet
      Row(Long.MaxValue, Map.empty[String, String], -90.0, -180.0,
        Seq.empty[Row], Seq.empty[Row],
        Long.MinValue, ldt(-62135596800000000L), Int.MinValue, "", Int.MinValue,
        false, "node"),
      // hostile doubles: NaN, infinities, -0.0, denormal
      Row(1L, Map("" -> "", "nan" -> null), Double.NaN, Double.NegativeInfinity,
        null, null, Long.MaxValue, ldt(253402300799999999L), Int.MaxValue,
        big, Int.MaxValue, true, "node"),
      Row(2L, manyTags, -0.0, java.lang.Double.MIN_VALUE, null, null,
        null, ldt(0L), null, "\u0000\ufffd mixed\n\tctrl", null, true, "node"),
      longWay,
      // members with every per-field null combination + a 10 MB role
      Row(4L, Map("big" -> big), null, null, null,
        Seq(member(null, null, null), member("node", 7L, null),
          member(null, -1L, big), member("way", null, "r")),
        5L, null, 0, null, 0, false, "relation"))

    val dir = java.nio.file.Files.createTempDirectory("graft-wfuzz").toString
    try {
      val back = roundTrip(rows, dir)
      assert(back.size === rows.size)
      val fields = OsmSchema.schema.fieldNames.toSeq.dropRight(1) // minus type
      val exp = rows.map(r => canonRow(r, fields)).sortBy(_.head._2.toString)
      val got = back.map(r => canonRow(r, fields)).sortBy(_.head._2.toString)
      exp.zip(got).foreach { case (e, g) =>
        e.zip(g).foreach { case ((fn, ev), (_, gv)) =>
          assert(ev === gv, s"field $fn of row id=${e.head._2}")
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("rotation under adversarial sizes: every rotated file valid, no row lost") {
    // tiny byte target + small record cap force MANY rotations (the path
    // a planet transcode exercises thousands of times), with occasional
    // 1 MB strings stressing the sampled size check's overshoot window;
    // the reads below prove every rotated file is complete, well-formed
    // parquet and the union is exactly the input (single-close
    // discipline: a double-closed or unclosed file would lose rows or
    // corrupt a footer)
    val rows = (1 to 997).map { i =>
      Row(i.toLong,
        if (i % 97 == 0) Map("big" -> ("y" * (1 << 20))) else Map("k" -> s"v$i"),
        i * 0.5, -i * 0.25, null, null, i.toLong, null, i, s"user$i", 1, true, "node")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-wfuzz-rot").toString
    try {
      val df = spark.createDataFrame(rows.asJava, OsmSchema.schema)
      val internal = df.queryExecution.toRdd.collect()
      val w = new DirectParquet.RotatingWriter(
        new Path(dir), new Configuration(), CompressionCodecName.ZSTD,
        taskId = 3, fileTargetBytes = 32 << 10, maxRecords = 100,
        rowGroupBytes = 16 << 10, rowGroupRows = Some(50))
      internal.foreach(w.write)
      w.close()
      assert(w.total === rows.size)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      assert(files.length > 3, s"expected many rotations, got ${files.length}")
      // per-file validity + the record cap held on every file
      files.foreach { f =>
        val n = spark.read.parquet(f.toString).count()
        assert(n > 0 && n <= 100, s"${f.getName}: $n rows")
      }
      // the union is exactly the input
      val back = spark.read.parquet(dir).select(col("id"), col("user"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(back === rows.map(r => (r.getLong(0), r.getString(9))).sorted)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("seeded random rows (mixed extremes) round-trip bit-exactly") {
    val rnd = new scala.util.Random(77)
    def rndString(): String = {
      val n = rnd.nextInt(3) match {
        case 0 => rnd.nextInt(8)
        case 1 => rnd.nextInt(200)
        case _ => rnd.nextInt(20000)
      }
      val sb = new StringBuilder
      (1 to n).foreach(_ => sb.append((rnd.nextInt(0xD7FF) + 1).toChar))
      sb.toString
    }
    def opt[T](v: => T): Any = if (rnd.nextInt(4) == 0) null else v
    def rndDouble(): Double = rnd.nextInt(6) match {
      case 0 => Double.NaN
      case 1 => -0.0
      case 2 => java.lang.Double.longBitsToDouble(rnd.nextLong()) // any bits
      case _ => rnd.nextDouble() * 360 - 180
    }
    val rows = (1 to 300).map { i =>
      Row(i.toLong,
        opt((1 to rnd.nextInt(6)).map(_ => rndString() -> (if (rnd.nextBoolean()) rndString() else null)).toMap),
        opt(rndDouble()), opt(rndDouble()),
        opt((1 to rnd.nextInt(5)).map(_ => nd(rnd.nextLong()))),
        opt((1 to rnd.nextInt(4)).map(_ => member(
          if (rnd.nextBoolean()) rndString() else null,
          if (rnd.nextBoolean()) java.lang.Long.valueOf(rnd.nextLong()) else null,
          if (rnd.nextBoolean()) rndString() else null))),
        opt(rnd.nextLong()), opt(ldt(rnd.nextLong() % 253402300799999999L match {
          case us if us < -62135596800000000L => -us / 2
          case us => us
        })),
        opt(rnd.nextInt()), opt(rndString()), opt(rnd.nextInt()),
        opt(rnd.nextBoolean()), "node")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-wfuzz2").toString
    try {
      val back = roundTrip(rows, dir)
      assert(back.size === rows.size)
      val fields = OsmSchema.schema.fieldNames.toSeq.dropRight(1)
      val exp = rows.map(r => canonRow(r, fields)).sortBy(_.head._2.asInstanceOf[Long])
      val got = back.map(r => canonRow(r, fields)).sortBy(_.head._2.asInstanceOf[Long])
      exp.zip(got).foreach { case (e, g) =>
        e.zip(g).foreach { case ((fn, ev), (_, gv)) =>
          assert(ev === gv, s"field $fn of row id=${e.head._2}")
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}

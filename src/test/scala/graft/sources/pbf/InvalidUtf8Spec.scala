package graft.sources.pbf

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import PbfWriter.MessageBuilder

/** Invalid UTF-8 in a block's string table (osmpbf/src/block.rs:439-456,
  * sink.rs:183, 251-260): a tag pair whose key or value is invalid is
  * dropped and the other pairs keep their order, an invalid member role is
  * null, and an invalid `user` is `""`. Pinned on the decoder, the
  * `osmpbf` scan and the transcode read back as parquet, over a file of two
  * hand-built blocks. The second block swaps which index is invalid, so a
  * string-index keyed memo that outlives its block shows too.
  */
class InvalidUtf8Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val dir = java.nio.file.Files.createTempDirectory("graft-utf8-spec")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("invalid-utf8-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private val Invalid = Array(0xff.toByte, 0xfe.toByte)

  /** A string table; null entries are [[Invalid]]. */
  private def table(strings: String*): MessageBuilder = {
    val st = new MessageBuilder
    strings.foreach(s => st.writeBytesField(1, if (s == null) Invalid else s.getBytes(UTF_8)))
    st
  }

  private def info(userSid: Long) = new MessageBuilder().writeVarintField(1, 1).writeVarintField(5, userSid)

  private def block(st: MessageBuilder, groups: (Int, MessageBuilder)*): Array[Byte] = {
    val b = new MessageBuilder().writeMessageField(1, st)
    groups.foreach { case (field, m) => b.writeMessageField(2, new MessageBuilder().writeMessageField(field, m)) }
    b.result()
  }

  // block 1: 0 "", 1 name, 2 ok, 3 invalid, 4 highway, 5 primary, 6 alice, 7 outer
  private val block1 = block(table("", "name", "ok", null, "highway", "primary", "alice", "outer"),
    2 -> new MessageBuilder() // dense nodes 1 and 2
      .writePackedZigzag(1, Seq(1L, 1L))
      .writeMessageField(5, new MessageBuilder()
        .writePackedVarint(1, Seq(1L, 1L))
        .writePackedZigzag(2, Seq(1000L, 0L))
        .writePackedZigzag(3, Seq(5L, 0L))
        .writePackedZigzag(4, Seq(7L, 0L))
        .writePackedZigzag(5, Seq(3L, 3L))) // users: invalid, alice
      .writePackedZigzag(8, Seq(100L, 1L))
      .writePackedZigzag(9, Seq(200L, 1L))
      .writePackedVarint(10, Seq(1L, 2L, 3L, 2L, 4L, 5L, 0L, 1L, 3L, 4L, 5L, 0L)),
    1 -> new MessageBuilder() // sparse node 10
      .writeZigzagField(1, 10)
      .writePackedVarint(2, Seq(3L, 1L)).writePackedVarint(3, Seq(2L, 2L))
      .writeMessageField(4, info(3))
      .writeZigzagField(8, 300).writeZigzagField(9, 400),
    3 -> new MessageBuilder() // way 20
      .writeVarintField(1, 20)
      .writePackedVarint(2, Seq(1L, 4L, 3L, 4L)).writePackedVarint(3, Seq(2L, 3L, 2L, 5L))
      .writeMessageField(4, info(3))
      .writePackedZigzag(8, Seq(1L, 1L)),
    4 -> new MessageBuilder() // relation 30
      .writeVarintField(1, 30)
      .writePackedVarint(2, Seq(4L)).writePackedVarint(3, Seq(5L))
      .writeMessageField(4, info(3))
      .writePackedVarint(8, Seq(7L, 3L, 0L))
      .writePackedZigzag(9, Seq(1L, 19L, -10L))
      .writePackedVarint(10, Seq(0L, 1L, 0L)))

  // block 2: index 3 is valid and index 1 is not
  private val block2 = block(table("", null, "ok", "note"),
    1 -> new MessageBuilder() // sparse node 40
      .writeZigzagField(1, 40)
      .writePackedVarint(2, Seq(1L, 3L)).writePackedVarint(3, Seq(2L, 2L))
      .writeMessageField(4, info(1)))

  /** (type, id, tag keys, tag values, user, member roles) of each element. */
  private type Elem = (String, Long, Seq[String], Seq[String], String, Option[Seq[String]])

  private val expected: Seq[Elem] = Seq(
    ("node", 1L, Seq("name", "highway"), Seq("ok", "primary"), "", None),
    ("node", 2L, Seq("highway"), Seq("primary"), "alice", None),
    ("node", 10L, Seq("name"), Seq("ok"), "", None),
    ("way", 20L, Seq("name", "highway"), Seq("ok", "primary"), "", None),
    ("relation", 30L, Seq("highway"), Seq("primary"), "", Some(Seq("outer", null, ""))),
    ("node", 40L, Seq("note"), Seq("ok"), "", None))

  private lazy val pbf = {
    val p = dir.resolve("invalid-utf8.osm.pbf").toString
    PbfWriter.writeFile(p, Seq(block1, block2))
    p
  }

  private def elems(df: DataFrame): Seq[Elem] =
    df.select(col("type"), col("id"), map_keys(col("tags")), map_values(col("tags")), col("user"),
        col("members.role")).collect().toSeq.map { r =>
      (r.getString(0), r.getLong(1), r.getSeq[String](2), r.getSeq[String](3), r.getString(4),
        Option(r.getSeq[String](5)))
    }.sortBy(_._2)

  test("decodeBlock drops invalid tag pairs in order, nulls an invalid role, blanks an invalid user") {
    val got = Seq(block1, block2).flatMap(b => BlockDecoder.decodeBlock(b).toSeq).map { r =>
      val tags = r.getMap[String, String](1).toSeq
      (r.getString(12), r.getLong(0), tags.map(_._1), tags.map(_._2), r.getString(9),
        Option(r.getSeq[Row](5)).map(_.map(_.getString(2))))
    }.sortBy(_._2)
    assert(got === expected)
  }

  test("the osmpbf scan drops invalid tag pairs in order, nulls an invalid role, blanks an invalid user") {
    assert(elems(spark.read.format("osmpbf").load(pbf)) === expected)
  }

  test("the transcode read back as parquet drops invalid tag pairs, nulls an invalid role, blanks an invalid user") {
    val out = dir.resolve("out").toString
    assert(OsmPbf.transcode(spark, PbfConfig(input = pbf, output = out), onProgress = _ => ()) ===
      Map("node" -> 4L, "way" -> 1L, "relation" -> 1L))
    assert(elems(spark.read.parquet(out)) === expected)
  }
}

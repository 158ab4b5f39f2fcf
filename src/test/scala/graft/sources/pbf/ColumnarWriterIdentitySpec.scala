package graft.sources.pbf

import java.io.FileInputStream
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The column-batched [[DirectParquet.ColumnarWriter]] must write the same
  * file bytes as [[RowwiseOracleWriter]], parquet-mr's row-by-row
  * `ColumnWriteStoreV1` path, for the same rows: same page and row-group
  * cuts, encodings, dictionaries, statistics and indexes. Fixture-free:
  * rows come from [[PbfWriter.synthesize]] corpora decoded the way the
  * transcode decodes them, from the writer fuzz spec's adversarial rows,
  * and from a user column whose dictionary overflows mid-chunk. The
  * transcode's fused path (the decoder appending into the writer, with
  * the dictionary memo keyed on string-table indices) must write the
  * same bytes as the oracle fed the same elements as rows.
  */
class ColumnarWriterIdentitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("columnar-writer-identity-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = dir = Files.createTempDirectory("graft-wident")

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private val conf = new Configuration()

  /** A production and an oracle writer fed the same rows. The production
    * writer is also asked for its size every 1024 rows, as
    * `RotatingWriter` asks, which drains it between size checks. */
  private final class Pair(name: String, codec: CompressionCodecName,
      rowGroupBytes: Long, rowGroupRows: Option[Int]) {
    val newPath = new Path(dir.resolve(s"$name.new.parquet").toString)
    val oraclePath = new Path(dir.resolve(s"$name.oracle.parquet").toString)
    val w = new DirectParquet.ColumnarWriter(newPath, conf, codec, rowGroupBytes, rowGroupRows)
    val o = new RowwiseOracleWriter(oraclePath, conf, codec, rowGroupBytes, rowGroupRows)
    private var rows = 0L
    def write(row: InternalRow): Unit = {
      ColumnSink.appendRow(row, w)
      o.write(row)
      rows += 1
      if ((rows & 0x3ff) == 0) w.getDataSize
    }
    def close(): Unit = { w.close(); o.close() }
    def assertIdentical(): Unit = {
      val a = Files.readAllBytes(Paths.get(newPath.toString))
      val b = Files.readAllBytes(Paths.get(oraclePath.toString))
      assert(a.length === b.length, s"$name: file sizes differ")
      assert(java.util.Arrays.equals(a, b), s"$name: file bytes differ")
    }
  }

  private def footer(p: Path) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try (r.getFooter, r.getRowGroups.asScala.map(b => b.getColumns.asScala.map(r.readOffsetIndex(_).getPageCount).max).max)
    finally r.close()
  }

  private val types = Seq(OsmSchema.TypeNode, OsmSchema.TypeWay, OsmSchema.TypeRelation)

  /** The inflated data blocks of a synthesized corpus. */
  private def corpus(tag: String, blocks: Int, nodesPerBlock: Int, waysPerBlock: Int,
      relationsPerBlock: Int): Seq[Array[Byte]] = {
    val pbf = dir.resolve(s"$tag.osm.pbf").toString
    PbfWriter.synthesize(pbf, blocks, nodesPerBlock, waysPerBlock, relationsPerBlock)
    val in = new FileInputStream(pbf)
    val spans = try Blobs.enumerate(in) finally in.close()
    val bytes = Files.readAllBytes(Paths.get(pbf))
    spans.filter(_.blobType == Blobs.TypeOsmData).map { s =>
      Blobs.decode(java.util.Arrays.copyOfRange(bytes, s.offset.toInt, s.offset.toInt + s.length))
    }
  }

  /** Decodes a synthesized corpus into rows and routes each type to its
    * own pair. */
  private def transcodeBoth(tag: String, blocks: Int, nodesPerBlock: Int, waysPerBlock: Int,
      relationsPerBlock: Int, codec: CompressionCodecName, rowGroupBytes: Long,
      rowGroupRows: Option[Int]): Map[String, Pair] = {
    val pairs = types.map(t => t -> new Pair(s"$tag-$t", codec, rowGroupBytes, rowGroupRows)).toMap
    try corpus(tag, blocks, nodesPerBlock, waysPerBlock, relationsPerBlock).foreach { b =>
      BlockDecoder.decodeBlockInternal(b, BlockDecoder.FullProjection)
        .foreach(row => pairs(row.getUTF8String(12).toString).write(row))
    } finally pairs.values.foreach(_.close())
    pairs
  }

  /** The transcode's fused path: the decoder appends each block straight
    * into the production writer of its element type, with a `block()` per
    * block; the oracle gets the same corpus as rows. */
  private def fusedBoth(tag: String, blocks: Int, nodesPerBlock: Int, waysPerBlock: Int,
      relationsPerBlock: Int, codec: CompressionCodecName, rowGroupBytes: Long,
      rowGroupRows: Option[Int]): Map[String, Pair] = {
    val pairs = types.map(t => t -> new Pair(s"$tag-$t", codec, rowGroupBytes, rowGroupRows)).toMap
    val sinks = new ColumnSinks {
      def block(): Unit = pairs.values.foreach(_.w.block())
      def sink(kind: Int): ColumnSink = pairs(types(kind)).w
    }
    try corpus(tag, blocks, nodesPerBlock, waysPerBlock, relationsPerBlock).foreach { b =>
      BlockDecoder.decode(b, BlockDecoder.FullProjection, sinks)
      BlockDecoder.decodeBlockInternal(b, BlockDecoder.FullProjection)
        .foreach(row => pairs(row.getUTF8String(12).toString).o.write(row))
    } finally pairs.values.foreach(_.close())
    pairs
  }

  /** A node of [[nodesBoth]]: the string-table indices of its user (-1:
    * none) and of its tags' keys and values, and its uid and version. */
  private final case class N(user: Int, tags: Seq[(Int, Int)] = Nil, uid: Option[Int] = None,
      version: Option[Int] = None)

  /** Nodes appended block by block the way the decoder appends them: each
    * block is its string table and its nodes, whose strings are indices
    * into that table. The oracle gets the same nodes as rows. The
    * production writer is asked for its size every 1024 rows, as
    * `RotatingWriter` asks. */
  private def nodesBoth(name: String, blocks: Seq[(Array[String], Seq[N])],
      rowGroupBytes: Long, rowGroupRows: Option[Int]): Pair = {
    val p = new Pair(name, CompressionCodecName.ZSTD, rowGroupBytes, rowGroupRows)
    val node = UTF8String.fromString(OsmSchema.TypeNode)
    def boxed(v: Option[Int]): Any = v.fold[Any](null)(identity)
    var id = 0L
    try blocks.foreach { case (table, nodes) =>
      val u = table.map(UTF8String.fromString)
      p.w.block()
      nodes.foreach { n =>
        p.w.id(id)
        n.tags.foreach { case (k, v) => p.w.tag(k, u(k), v, u(v)) }
        p.w.lat(1.0)
        n.uid.foreach(p.w.uid)
        if (n.user >= 0) p.w.user(n.user, u(n.user))
        n.version.foreach(p.w.version)
        p.w.end()
        p.o.write(new GenericInternalRow(Array[Any](id,
          new ArrayBasedMapData(new GenericArrayData(n.tags.map(t => u(t._1): Any).toArray),
            new GenericArrayData(n.tags.map(t => u(t._2): Any).toArray)),
          1.0, null, null, null, null, null, boxed(n.uid), if (n.user >= 0) u(n.user) else null,
          boxed(n.version), null, node)))
        id += 1
        if ((id & 0x3ff) == 0) p.w.getDataSize
      }
    } finally p.close()
    p
  }

  /** [[nodesBoth]] for nodes of one user and one tag, as (user, key, value). */
  private def appendBoth(name: String, blocks: Seq[(Array[String], Seq[(Int, Int, Int)])],
      rowGroupBytes: Long, rowGroupRows: Option[Int]): Pair =
    nodesBoth(name, blocks.map { case (t, ns) => (t, ns.map { case (user, k, v) => N(user, Seq(k -> v)) }) },
      rowGroupBytes, rowGroupRows)

  private def chunks(f: org.apache.parquet.hadoop.metadata.ParquetMetadata, column: String) =
    f.getBlocks.asScala.map(_.getColumns.asScala.find(_.getPath.toDotString == column).get)

  private def chunkEncodings(f: org.apache.parquet.hadoop.metadata.ParquetMetadata, column: String) =
    chunks(f, column).map(_.getEncodings.asScala)

  test("synthesized nodes, ways and relations: identical bytes over many pages and row groups") {
    val pairs = transcodeBoth("synth", blocks = 24, nodesPerBlock = 8000, waysPerBlock = 2500,
      relationsPerBlock = 40, CompressionCodecName.ZSTD, rowGroupBytes = 3L << 20,
      rowGroupRows = Some(50000))
    pairs.values.foreach(_.assertIdentical())
    val (nodeFooter, nodePages) = footer(pairs(OsmSchema.TypeNode).newPath)
    assert(nodeFooter.getBlocks.size > 1, "node file should span several row groups")
    assert(nodePages > 1, "node row groups should hold several pages")
    val (wayFooter, wayPages) = footer(pairs(OsmSchema.TypeWay).newPath)
    assert(wayFooter.getBlocks.size > 1 && wayPages > 1)
  }

  test("row-count-capped tiny row groups, uncompressed: identical bytes") {
    val pairs = transcodeBoth("tiny", blocks = 3, nodesPerBlock = 3000, waysPerBlock = 200,
      relationsPerBlock = 30, CompressionCodecName.UNCOMPRESSED, rowGroupBytes = 64L << 20,
      rowGroupRows = Some(7))
    pairs.values.foreach(_.assertIdentical())
    assert(footer(pairs(OsmSchema.TypeRelation).newPath)._1.getBlocks.size === 90 / 7 + 1)
  }

  private def nd(ref: Long): Row = Row(ref)
  private def member(t: String, ref: java.lang.Long, role: String): Row = Row(t, ref, role)
  private def ldt(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)

  private def internal(rows: Seq[Row]): Array[InternalRow] =
    spark.createDataFrame(rows.asJava, OsmSchema.schema).queryExecution.toRdd.collect()

  test("the writer fuzz spec's adversarial rows: identical bytes") {
    val big = "x" * (10 << 20)
    val manyTags = (1 to 5000).map(i => s"k$i" -> s"v$i").toMap
    val hostile = Seq(
      Row(Long.MinValue, null, null, null, null, null,
        null, null, null, null, null, null, "node"),
      Row(Long.MaxValue, Map.empty[String, String], -90.0, -180.0,
        Seq.empty[Row], Seq.empty[Row],
        Long.MinValue, ldt(-62135596800000000L), Int.MinValue, "", Int.MinValue,
        false, "node"),
      Row(1L, Map("" -> "", "nan" -> null), Double.NaN, Double.NegativeInfinity,
        null, null, Long.MaxValue, ldt(253402300799999999L), Int.MaxValue,
        big, Int.MaxValue, true, "node"),
      Row(2L, manyTags, -0.0, java.lang.Double.MIN_VALUE, null, null,
        null, ldt(0L), null, "\u0000\ufffd mixed\n\tctrl", null, true, "node"),
      Row(3L, null, null, null, (1 to 100000).map(i => nd(i.toLong * -7)), null,
        null, null, null, null, null, null, "way"),
      Row(4L, Map("big" -> big), null, null, null,
        Seq(member(null, null, null), member("node", 7L, null),
          member(null, -1L, big), member("way", null, "r")),
        5L, null, 0, null, 0, false, "relation"))
    val rotation = (1 to 997).map { i =>
      Row(i.toLong,
        if (i % 97 == 0) Map("big" -> ("y" * (1 << 20))) else Map("k" -> s"v$i"),
        i * 0.5, -i * 0.25, null, null, i.toLong, null, i, s"user$i", 1, true, "node")
    }
    for ((name, rows, rgRows) <- Seq(("hostile", hostile, Some(1000)), ("rotation", rotation, Some(50)))) {
      val p = new Pair(s"fuzz-$name", CompressionCodecName.ZSTD, 16L << 10, rgRows)
      try internal(rows).foreach(p.write) finally p.close()
      p.assertIdentical()
    }
  }

  test("a user dictionary past 1 MB: one chunk holds dictionary and PLAIN pages, identical bytes") {
    // 5000 recurring 100-byte users fill the first pages dictionary-encoded
    // (~0.5 MB of dictionary); 15000 fresh ones then push the dictionary
    // over the 1 MB threshold, so the rest of the chunk falls back to PLAIN
    def user(i: Int): String = f"u$i%09d" + ("." * 90)
    val rows = (0 until 35000).map { i =>
      Row(i.toLong, null, 1.0, 2.0, null, null, 1L, null, 17,
        if (i < 20000) user(i % 5000) else user(5000 + i), 1, true, "node")
    }
    val p = new Pair("dict-overflow", CompressionCodecName.ZSTD, 256L << 20, None)
    try internal(rows).foreach(p.write) finally p.close()
    p.assertIdentical()
    val (f, _) = footer(p.newPath)
    assert(f.getBlocks.size === 1)
    val userChunk = f.getBlocks.get(0).getColumns.asScala.find(_.getPath.toDotString == "user").get
    val encodings = userChunk.getEncodings.asScala
    assert(encodings.contains(Encoding.PLAIN_DICTIONARY), encodings)
    assert(encodings.contains(Encoding.PLAIN), encodings)
    assert(userChunk.hasDictionaryPage)
    assert(spark.read.parquet(p.newPath.toString).select("user").distinct().count() === 20000L)
  }

  test("the writer's column settings hold whatever else builds ParquetProperties in the JVM") {
    // ParquetProperties' default values-writer factory is one shared
    // object, re-initialized by every build() with that build's settings
    // (here: dictionaries on for every column). A writer that relied on it
    // would dictionary-encode changeset, which the transcode turns off.
    assert(DirectParquet.MessageSchema.getColumns.size === 15) // writer settings built first
    org.apache.parquet.column.ParquetProperties.builder().build()
    val rows = (0 until 5000).map { i =>
      Row(i.toLong, null, 1.0, 2.0, null, null, (i % 7).toLong, null, 17, "u", 1, true, "node")
    }
    val p = new Pair("shared-factory", CompressionCodecName.ZSTD, 64L << 20, None)
    try internal(rows).foreach(p.write) finally p.close()
    p.assertIdentical()
    val (f, _) = footer(p.newPath)
    val encodings = f.getBlocks.get(0).getColumns.asScala
      .find(_.getPath.toDotString == "changeset").get.getEncodings.asScala
    assert(!encodings.contains(Encoding.PLAIN_DICTIONARY), encodings)
  }

  test("an id-range read with parquet filter pushdown equals the read without it") {
    val pairs = transcodeBoth("pushdown", blocks = 12, nodesPerBlock = 8000, waysPerBlock = 100,
      relationsPerBlock = 0, CompressionCodecName.ZSTD, rowGroupBytes = 2L << 20,
      rowGroupRows = Some(40000))
    val nodes = pairs(OsmSchema.TypeNode)
    nodes.assertIdentical()
    val (f, pages) = footer(nodes.newPath)
    assert(f.getBlocks.size > 1 && pages > 1)
    def read(pushdown: Boolean): Seq[Row] = {
      spark.conf.set("spark.sql.parquet.filterPushdown", pushdown.toString)
      try spark.read.parquet(nodes.newPath.toString)
        .filter(col("id").between(31234L, 52345L))
        .orderBy("id").collect().toSeq
      finally spark.conf.unset("spark.sql.parquet.filterPushdown")
    }
    val pushed = read(pushdown = true)
    assert(pushed.size === 52345 - 31234 + 1)
    assert(pushed === read(pushdown = false))
  }

  test("the fused path: the decoder's appends and the oracle's rows give identical bytes") {
    val synth = fusedBoth("fused-synth", blocks = 24, nodesPerBlock = 8000, waysPerBlock = 2500,
      relationsPerBlock = 40, CompressionCodecName.ZSTD, rowGroupBytes = 3L << 20,
      rowGroupRows = Some(50000))
    synth.values.foreach(_.assertIdentical())
    assert(footer(synth(OsmSchema.TypeNode).newPath)._1.getBlocks.size > 1)
    val tiny = fusedBoth("fused-tiny", blocks = 3, nodesPerBlock = 3000, waysPerBlock = 200,
      relationsPerBlock = 30, CompressionCodecName.UNCOMPRESSED, rowGroupBytes = 64L << 20,
      rowGroupRows = Some(7))
    tiny.values.foreach(_.assertIdentical())
    assert(footer(tiny(OsmSchema.TypeRelation).newPath)._1.getBlocks.size === 90 / 7 + 1)
  }

  test("the fused path: a user dictionary past 1 MB, appended by string-table index, identical bytes") {
    // the users of the row-fed case above, in blocks of 5000 nodes whose
    // tables list each block's strings (reversed in odd blocks)
    def user(i: Int): String = f"u$i%09d" + ("." * 90)
    val users = (0 until 35000).map(i => if (i < 20000) user(i % 5000) else user(5000 + i))
    val blocks = users.grouped(5000).zipWithIndex.map { case (us, b) =>
      val table = ("k" +: us.distinct).toArray
      val order = if (b % 2 == 1) table.indices.reverse.toArray else table.indices.toArray
      val t = order.map(table)
      val at = t.zipWithIndex.toMap
      (t, us.map(x => (at(x), at("k"), at(x))))
    }.toSeq
    val p = appendBoth("fused-dict-overflow", blocks, 256L << 20, None)
    p.assertIdentical()
    val encodings = chunkEncodings(footer(p.newPath)._1, "user")
    assert(encodings.size === 1)
    assert(encodings.head.contains(Encoding.PLAIN_DICTIONARY) && encodings.head.contains(Encoding.PLAIN),
      encodings)
  }

  test("the dictionary memo: indices that change strings between blocks, across row-group resets and PLAIN fallback") {
    // a pool of 100-byte strings; block b's table is the pool from
    // b * step on, so a string shared by two blocks sits at a different
    // index in each, and an index names a different string in each
    val pool = (0 until 15000).map(i => f"s$i%09d" + ("-" * 90))
    def blocks(n: Int, perBlock: Int, tableSize: Int, step: Int) = (0 until n).map { b =>
      val table = Array.tabulate(tableSize)(i => pool((i + b * step) % pool.size))
      (table, (0 until perBlock).map(i => ((i * 13) % tableSize, i % 5, (i * 7 + b) % tableSize)))
    }
    // row groups of 7 rows: the dictionaries reset many times per block
    val small = appendBoth("memo-tiny-groups", blocks(4, 300, 40, step = 17), 64L << 20, Some(7))
    small.assertIdentical()
    assert(footer(small.newPath)._1.getBlocks.size === 1200 / 7 + 1)
    // five blocks per row group hold 13,000 distinct strings, which push
    // the user dictionary past 1 MB: PLAIN fallback in every group
    val big = appendBoth("memo-fallback", blocks(20, 3000, 3000, step = 2500), 256L << 20, Some(15000))
    big.assertIdentical()
    val users = chunkEncodings(footer(big.newPath)._1, "user")
    assert(users.size === 4)
    assert(users.forall(e => e.contains(Encoding.PLAIN) && e.contains(Encoding.PLAIN_DICTIONARY)), users)
  }

  private val Key = "tags.key_value.key"
  private val Value = "tags.key_value.value"

  test("the dictionary writer: a binary first page that does not compress is PLAIN, and so is the rest of its chunk") {
    // 20,000 distinct users (a string per node) fill the first page: its
    // ids plus its dictionary outweigh its PLAIN bytes. Two more blocks
    // then repeat 100 of them, as memo hits on a fallen-back writer.
    val distinct = (0 until 4).map { b =>
      val table = "k" +: Array.tabulate(5000)(i => f"first-page-user-${b * 5000 + i}%08d")
      (table, (1 to 5000).map(i => N(i, Seq(0 -> i))))
    }
    val repeats = (0 until 2).map { b =>
      val table = "k" +: Array.tabulate(100)(i => f"first-page-user-${i * 7 + b}%08d")
      (table, (0 until 5000).map(i => N(1 + i % 100, Seq(0 -> (1 + i % 100)))))
    }
    val p = nodesBoth("dict-first-page", distinct ++ repeats, 256L << 20, None)
    p.assertIdentical()
    val f = footer(p.newPath)._1
    for (c <- Seq("user", Value); chunk <- chunks(f, c)) {
      val e = chunk.getEncodings.asScala
      assert(e.contains(Encoding.PLAIN) && !e.contains(Encoding.PLAIN_DICTIONARY), s"$c: $e")
      assert(!chunk.hasDictionaryPage, c)
    }
    assert(chunkEncodings(f, Key).forall(_.contains(Encoding.PLAIN_DICTIONARY)))
  }

  test("the dictionary writer: a tag-value dictionary past 1 MB falls back mid-chunk, appended by string-table index") {
    // four blocks of values from a pool of 50 (the first page ends at
    // 20,000 rows), then six blocks of 200-byte values seen once each:
    // past about 5,100 of them the dictionary is over 1 MB and the
    // chunk's later pages are PLAIN
    val pool = (0 until 50).map(i => f"pooled-$i%04d")
    val blocks = (0 until 10).map { b =>
      val values = if (b < 4) pool else (0 until 5000).map(i => f"v${b * 5000 + i}%09d" + ("=" * 190))
      val table = (Array("k0", "k1", "k2") ++ values).toArray
      (table, (0 until 5000).map(i => N(-1, Seq((i % 3) -> (3 + i % values.size)))))
    }
    val p = nodesBoth("dict-value-overflow", blocks, 256L << 20, None)
    p.assertIdentical()
    val f = footer(p.newPath)._1
    val value = chunks(f, Value)
    assert(value.size === 1)
    val e = value.head.getEncodings.asScala
    assert(e.contains(Encoding.PLAIN_DICTIONARY) && e.contains(Encoding.PLAIN), e)
    assert(value.head.hasDictionaryPage)
    assert(chunkEncodings(f, Key).forall(e => !e.contains(Encoding.PLAIN)))
  }

  test("the dictionary writer: an INT32 uid dictionary past 1 MB falls back mid-chunk; version keeps its dictionary") {
    // 40,000 nodes of 50 uids in runs of 7, then 320,000 nodes whose uids
    // are new in 7 of every 8 (runs of one or two): 262,145 uids take the
    // dictionary past 1 MB
    val uids = (0 until 40000).map(i => (i / 7) % 50) ++ (0 until 320000).map(i => 1000 + i * 7 / 8)
    val blocks = uids.grouped(8000).map { g =>
      (Array("k"), g.zipWithIndex.map { case (uid, i) => N(-1, uid = Some(uid), version = Some(1 + (i / 5) % 4)) })
    }.toSeq
    val p = nodesBoth("dict-uid-overflow", blocks, 256L << 20, None)
    p.assertIdentical()
    val f = footer(p.newPath)._1
    val uid = chunks(f, "uid")
    assert(uid.size === 1)
    val e = uid.head.getEncodings.asScala
    assert(e.contains(Encoding.PLAIN_DICTIONARY) && e.contains(Encoding.PLAIN), e)
    assert(uid.head.hasDictionaryPage)
    assert(chunkEncodings(f, "version").forall(e => !e.contains(Encoding.PLAIN)))
  }

  test("the dictionary writer: memo hits at the first row of a new page are in that page's statistics") {
    // one 40,000-node block whose users and tag values cycle over five
    // 100-byte strings: every page after the first opens with memo hits
    // of strings the previous page already folded into its statistics
    val table = Array("k") ++ (0 until 5).map(i => s"$i" * 100) ++ (0 until 5).map(i => s"value-$i")
    val nodes = (0 until 40000).map(i => N(1 + i % 5, Seq(0 -> (6 + (i * 3) % 5))))
    val p = nodesBoth("dict-memo-page-stats", Seq(table -> nodes), 256L << 20, None)
    p.assertIdentical()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p.newPath, conf))
    try {
      val user = r.getRowGroups.get(0).getColumns.asScala.find(_.getPath.toDotString == "user").get
      assert(r.readOffsetIndex(user).getPageCount > 2)
      assert(r.readColumnIndex(user).getNullPages.asScala.forall(b => !b.booleanValue))
    } finally r.close()
  }

  test("the dictionary writer: each row group starts a fresh dictionary, even inside one block") {
    // one block spans three 10,000-row groups: the first group's 10,000
    // distinct users make its first page PLAIN; the next groups cycle
    // over 20 of those users, at the same string-table indices, and are
    // dictionary-encoded from their own dictionaries
    val table = Array.tabulate(10000)(i => f"group-user-$i%06d")
    val nodes = (0 until 30000).map(i => N(if (i < 10000) i else (i * 37) % 20))
    val p = nodesBoth("dict-row-group-reset", Seq(table -> nodes), 256L << 20, Some(10000))
    p.assertIdentical()
    val user = chunks(footer(p.newPath)._1, "user")
    assert(user.size === 3)
    assert(!user.head.getEncodings.contains(Encoding.PLAIN_DICTIONARY) && !user.head.hasDictionaryPage)
    assert(user.tail.forall(c => !c.getEncodings.contains(Encoding.PLAIN) && c.hasDictionaryPage))
  }
}

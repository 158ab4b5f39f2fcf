package graft.sources.pbf

import org.scalatest.funsuite.AnyFunSuite

/** Corruption fuzzing over the decode surface — the contract the round-15
  * bounds work establishes: feed the decoder ARBITRARILY corrupted block
  * payloads and it must either decode (possibly garbage values — a flipped
  * coordinate byte is indistinguishable from real data) or fail with the
  * TYPED PbfFormatException. What must NEVER escape: raw
  * ArrayIndexOutOfBounds/NegativeArraySize from an unguarded read, an
  * IllegalArgument from a backwards length, or a hang from a
  * negative-length skip loop (all three were reachable before the guards).
  * Seeded and deterministic.
  */
class DecodeFuzzSpec extends AnyFunSuite {
  import DecodeFuzzSpec._

  private def assertTotal(payload: Array[Byte], what: String): Unit =
    try {
      // force the full iterator (decode is lazy per dense row)
      BlockDecoder.decodeBlock(payload).length
      BlockDecoder.idRanges(payload)
      ()
    } catch {
      case _: PbfFormatException => () // the typed contract
      case e: Throwable =>
        fail(s"$what escaped with ${e.getClass.getName}: ${e.getMessage}")
    }

  test("single-byte corruptions: decode is total (rows or PbfFormatException)") {
    singleByteFlips().foreach { case (what, b) => assertTotal(b, what) }
  }

  test("truncations and random suffixes: decode is total") {
    val base = validPayload()
    val rnd = new scala.util.Random(99)
    (1 to 200).foreach { i =>
      val cut = rnd.nextInt(base.length)
      assertTotal(java.util.Arrays.copyOf(base, cut), s"truncate at $cut")
      val junk = new Array[Byte](rnd.nextInt(64) + 1)
      rnd.nextBytes(junk)
      assertTotal(base ++ junk, s"suffix trial $i")
    }
    // pure noise payloads
    (1 to 200).foreach { i =>
      val junk = new Array[Byte](rnd.nextInt(512))
      rnd.nextBytes(junk)
      assertTotal(junk, s"noise trial $i")
    }
  }

  test("blob-level corruptions (zlib stream + framing) fail typed") {
    // a whole framed blob body: raw_size + deflated payload
    def deflate(data: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(data); d.finish()
      val out = new Array[Byte](data.length * 2 + 64)
      val n = d.deflate(out); d.end()
      java.util.Arrays.copyOf(out, n)
    }
    val payload = validPayload()
    val blob = {
      val b = new PbfWriter.MessageBuilder
      b.writeVarintField(2, payload.length.toLong)
      b.writeBytesField(3, deflate(payload))
      b.result()
    }
    assert(Blobs.decode(blob).toSeq == payload.toSeq) // sanity
    val rnd = new scala.util.Random(7)
    (1 to 800).foreach { i =>
      val c = blob.clone()
      val at = rnd.nextInt(c.length)
      c(at) = (c(at) ^ (1 << rnd.nextInt(8))).toByte
      try { Blobs.decode(c); () }
      catch {
        case _: PbfFormatException => ()
        case e: Throwable =>
          fail(s"blob trial $i (flip at $at) escaped with ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  test("header payload corruptions: decodeHeader is total (header or typed)") {
    // a rich valid HeaderBlock exercising every field decodeHeader reads:
    // bbox (sub-message, 4 zigzags), features, program/source, replication
    val valid = {
      val bbox = new PbfWriter.MessageBuilder
      bbox.writeZigzagField(1, -180000000000L) // left (nanodeg)
      bbox.writeZigzagField(2, 180000000000L)  // right
      bbox.writeZigzagField(3, 90000000000L)   // top
      bbox.writeZigzagField(4, -90000000000L)  // bottom
      val h = new PbfWriter.MessageBuilder
      h.writeMessageField(1, bbox)
      h.writeStringField(4, "OsmSchema-V0.6")
      h.writeStringField(4, "DenseNodes")
      h.writeStringField(5, "Sort.Type_then_ID")
      h.writeStringField(16, "graft-pbf-writer")
      h.writeStringField(17, "fuzz-source")
      h.writeVarintField(32, 1700000000L)
      h.writeVarintField(33, 424242L)
      h.writeStringField(34, "https://example.invalid/replication")
      h.result()
    }
    // sanity: the valid payload decodes to its own values
    val ok = BlockDecoder.decodeHeader(valid)
    assert(ok.requiredFeatures === Seq("OsmSchema-V0.6", "DenseNodes"))
    assert(ok.replicationSequence === Some(424242L))

    def total(payload: Array[Byte], what: String): Unit =
      try { BlockDecoder.decodeHeader(payload); () }
      catch {
        case _: PbfFormatException => ()
        case e: Throwable =>
          fail(s"$what escaped with ${e.getClass.getName}: ${e.getMessage}")
      }

    val rnd = new scala.util.Random(2026)
    (1 to 500).foreach { i =>
      val b = valid.clone()
      val at = rnd.nextInt(b.length)
      b(at) = (b(at) ^ (1 << rnd.nextInt(8))).toByte
      total(b, s"header flip trial $i (at $at)")
    }
    (1 to 100).foreach { _ =>
      total(java.util.Arrays.copyOf(valid, rnd.nextInt(valid.length)), "header truncation")
      val junk = new Array[Byte](rnd.nextInt(128))
      rnd.nextBytes(junk)
      total(junk, "header noise")
    }
  }

  test("file-framing corruptions: enumerate fails typed or EOF, never raw") {
    import PbfWriter._
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzz").toString
    val path = s"$dir/f.osm.pbf"
    writeFile(path, Seq(validPayload(), validPayload()))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val rnd = new scala.util.Random(5)
    (1 to 400).foreach { i =>
      val c = bytes.clone()
      val at = rnd.nextInt(c.length)
      c(at) = (c(at) ^ (1 << rnd.nextInt(8))).toByte
      try { Blobs.enumerate(new java.io.ByteArrayInputStream(c)); () }
      catch {
        case _: PbfFormatException => ()
        case _: java.io.EOFException => () // truncation mid-record is an IO-level EOF
        case e: Throwable =>
          fail(s"enumerate trial $i (flip at $at) escaped with ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    (1 to 100).foreach { i => // truncations
      val cut = rnd.nextInt(bytes.length)
      try { Blobs.enumerate(new java.io.ByteArrayInputStream(bytes.take(cut))); () }
      catch {
        case _: PbfFormatException => ()
        case _: java.io.EOFException => ()
        case e: Throwable =>
          fail(s"enumerate truncation at $cut escaped with ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}

object DecodeFuzzSpec {

  def validPayload(): Array[Byte] = {
    import PbfWriter._
    primitiveBlock(
      (0 until 200).map(i => DenseNode(1000L + i, 52000000000L + i * 1000,
        11000000000L + i * 700, if (i % 7 == 0) Seq("k" -> s"v$i") else Nil,
        1, 1049522828000L + i, 10L, 17, "u")),
      ways = Seq(WayData(900001L, (1000L to 1015L), Seq("highway" -> "x"))),
      relations = Seq(RelationData(800001L,
        Seq((1000L, 0, "outer"), (900001L, 1, "")), Seq("type" -> "mp"))))
  }

  /** 1,500 seeded copies of [[validPayload]], each with one bit flipped,
    * with a label naming the trial and the byte. */
  def singleByteFlips(): Iterator[(String, Array[Byte])] = {
    val base = validPayload()
    val rnd = new scala.util.Random(1234)
    Iterator.range(1, 1501).map { i =>
      val b = base.clone()
      val at = rnd.nextInt(b.length)
      b(at) = (b(at) ^ (1 << rnd.nextInt(8))).toByte
      (s"trial $i (flip at $at)", b)
    }
  }
}

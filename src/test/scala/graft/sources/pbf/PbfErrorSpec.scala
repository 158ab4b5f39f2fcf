package graft.sources.pbf

import graft.TempDirs
import java.io.{ByteArrayInputStream, DataOutputStream, FileOutputStream}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Error taxonomy (reference §2.7 C6): malformed inputs fail with typed
  * errors instead of silent corruption — caps from blob.rs:22-25, unknown
  * blob types from pbf.rs:85-87.
  */
class PbfErrorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = new TempDirs

  override def afterAll(): Unit = tmp.deleteAll()

  test("oversized BlobHeader length is rejected (64KB cap)") {
    val bytes = Array[Byte](0x00, 0x11, 0x00, 0x00) // 0x110000 > 64K
    assertThrows[PbfFormatException](Blobs.enumerate(new ByteArrayInputStream(bytes)))
  }

  test("oversized blob datasize is rejected (32MB cap)") {
    val header = new PbfWriter.MessageBuilder
    header.writeStringField(1, "OSMData")
    header.writeVarintField(3, 33L * 1024 * 1024) // 33MB
    val hb = header.result()
    val out = new java.io.ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    d.writeInt(hb.length); d.write(hb)
    assertThrows[PbfFormatException](
      Blobs.enumerate(new ByteArrayInputStream(out.toByteArray)))
  }

  test("truncated blob body fails with EOF") {
    val header = new PbfWriter.MessageBuilder
    header.writeStringField(1, "OSMData")
    header.writeVarintField(3, 100) // body claims 100 bytes, none present
    val hb = header.result()
    val out = new java.io.ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    d.writeInt(hb.length); d.write(hb)
    assertThrows[java.io.EOFException](
      Blobs.enumerate(new ByteArrayInputStream(out.toByteArray)))
  }

  test("unknown blob type fails the scan like the reference") {
    val dir = tmp("pbferr")
    val path = s"$dir/bogus.osm.pbf"
    val payload = new PbfWriter.MessageBuilder
    payload.writeStringField(1, "junk")
    val blob = new PbfWriter.MessageBuilder
    blob.writeBytesField(1, payload.result()) // raw, uncompressed
    val blobBytes = blob.result()
    val header = new PbfWriter.MessageBuilder
    header.writeStringField(1, "OSMFuture") // reserved/unknown type
    header.writeVarintField(3, blobBytes.length.toLong)
    val hb = header.result()
    val o = new DataOutputStream(new FileOutputStream(path))
    o.writeInt(hb.length); o.write(hb); o.write(blobBytes); o.close()

    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    def hasPbfCause(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[PbfFormatException] || hasPbfCause(t.getCause))
    try Seq[() => Long](
      () => OsmPbf.read(spark, path).count(),
      () => IndexedPbf.readWaysAndDeps(spark, path, org.apache.spark.sql.functions.lit(true)).count()
    ).foreach { run =>
      val e = intercept[Exception](run())
      assert(hasPbfCause(e) || e.getMessage.contains("unknown blob type"))
    } finally spark.stop()
  }

  test("blob with no supported payload is rejected") {
    val blob = new PbfWriter.MessageBuilder
    blob.writeBytesField(4, Array[Byte](1, 2, 3)) // lzma_data — unsupported
    assertThrows[PbfFormatException](Blobs.decode(blob.result()))
  }
}

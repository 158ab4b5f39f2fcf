package graft.sources.pbf

import org.scalatest.funsuite.AnyFunSuite

/** [[OsmPbf.planSplits]] on synthetic span lists: the per-task cap is a
  * ceiling, a small input fans out to ~2 tasks per core, and the
  * transcode's groups are exactly what its former inline sizing produced.
  */
class PlanSplitsSpec extends AnyFunSuite {

  private def span(i: Int, raw: Int): Blobs.BlobSpan =
    Blobs.BlobSpan(i * 1000L, raw / 4, Blobs.TypeOsmData, rawSize = raw)

  private def weight(g: Array[Blobs.BlobSpan]): Long = g.iterator.map(OsmPbf.spanWeight).sum

  // 127 blobs, 17.8MB decoded in total: a file far below the 64MB cap
  private val small = (0 until 127).map(span(_, 146966))

  test("a small input fans out to about 2 tasks per core") {
    val groups = OsmPbf.planSplits(small, 64L << 20, parallelism = 4)
    assert(groups.size >= 4 && groups.size <= 9, groups.map(_.length).mkString(","))
    assert(groups.flatten.toSeq === small)
  }

  test("a cap below the auto target wins") {
    val groups = OsmPbf.planSplits(small, 1L << 20, parallelism = 4)
    assert(groups.forall(weight(_) <= (1L << 20)))
    assert(groups.size === 19) // 7 blobs of 146966 bytes fit under 1MB
  }

  test("empty input plans no groups") {
    assert(OsmPbf.planSplits(Seq.empty, 64L << 20, parallelism = 4).isEmpty)
  }

  test("a single 32MB blob stays one group") {
    val groups = OsmPbf.planSplits(Seq(span(0, 32 << 20)), 64L << 20, parallelism = 4)
    assert(groups.size === 1 && groups.head.length === 1)
  }

  test("transcode groups are unchanged: the buffer size caps the same auto target") {
    val spans = (0 until 627).map(i => span(i, (16 + (i * 7919) % 251) << 10))
    val cap = PbfConfig(input = "in.pbf", output = "out").inputBufferSizeMb.toLong << 20
    val groups = OsmPbf.planSplits(spans, cap, parallelism = 4)
    // the transcode's sizing before the planner was shared, inline
    val total = spans.iterator.map(OsmPbf.spanWeight).sum
    val before = OsmPbf.groupSpans(spans, math.min(cap, math.max(1L << 20, total / 8)))
    assert(groups.map(_.toSeq) === before.map(_.toSeq))
    assert(groups.map(_.length) === Seq(78, 78, 80, 76, 78, 79, 78, 76, 4))
  }
}

package graft.functions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class ZOrderSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("zorder-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  /** Plain-Scala reference: quantize then interleave bit-by-bit. */
  private def refMorton(lat: Double, lon: Double, bits: Int): Long = {
    def q(c: Double, lo: Double, hi: Double): Long = {
      val cells = 1L << bits
      math.min(cells - 1, math.max(0L,
        math.floor((c - lo) / (hi - lo) * cells.toDouble).toLong))
    }
    val y = q(lat, -90.0, 90.0)
    val x = q(lon, -180.0, 180.0)
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("mortonKey matches the bit-by-bit reference on random and edge coords") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(42)
    val coords = Seq(
      (-90.0, -180.0), (90.0, 180.0), (0.0, 0.0), (89.9999999, 179.9999999),
      (-89.9999999, -179.9999999), (52.5200066, 13.404954), (-33.86, 151.21)
    ) ++ (1 to 500).map(_ => (rnd.nextDouble() * 180 - 90, rnd.nextDouble() * 360 - 180))
    val df = coords.zipWithIndex.map { case ((la, lo), i) => (i.toLong, la, lo) }
      .toDF("id", "lat", "lon")
    val got = df.select(col("id"), ZOrder.mortonKey(col("lat"), col("lon")).as("z"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    coords.zipWithIndex.foreach { case ((la, lo), i) =>
      assert(got(i.toLong) === refMorton(la, lo, ZOrder.DefaultBits),
        s"mismatch at ($la, $lo)")
    }
  }

  test("mortonKey does not mutate the caller's FunctionRegistry") {
    // Building a Column must not overwrite a same-named user function in
    // the caller's session (the r15 shape registered graft_morton_key as
    // a side effect). Isolated child session: register a DECOY under the
    // name, build a mortonKey Column, evaluate it — the decoy survives.
    val child = spark.newSession()
    child.udf.register("graft_morton_key",
      (_: Double, _: Double, _: Int) => -1L)
    val df = child.range(4)
      .select((col("id") * 1.0).as("lat"), (col("id") * 2.0).as("lon"))
    val viaColumn = df.select(ZOrder.mortonKey(col("lat"), col("lon")).as("z"))
      .collect().map(_.getLong(0))
    // the Column path computes REAL keys (expression built directly)...
    assert(viaColumn.toSeq === (0 until 4).map(i =>
      refMorton(i * 1.0, i * 2.0, ZOrder.DefaultBits)))
    // ...and the session's name still resolves to the decoy
    df.createOrReplaceTempView("mk_probe")
    val decoy = child.sql(
      "SELECT graft_morton_key(lat, lon, 26) AS z FROM mk_probe")
      .collect().map(_.getLong(0))
    assert(decoy.forall(_ === -1L), decoy.toSeq.toString)
  }

  test("mortonKey stays inside whole-stage codegen (no UDF in the plan)") {
    val df = spark.range(64)
      .select((col("id") * 0.5 - 16.0).as("lat"), (col("id") * 0.25 - 8.0).as("lon"))
      .select(ZOrder.mortonKey(col("lat"), col("lon")).as("z"))
    val plan = df.queryExecution.executedPlan
    assert(plan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).isDefined,
      plan.toString)
    assert(!plan.toString.toLowerCase.contains("scalaudf"), plan.toString.take(500))
  }

  /** Per row group, the (min, max) footer statistics of a double column —
    * exactly what drives parquet row-group skipping under a pushed bbox
    * filter. */
  private def rowGroupStats(dir: String, column: String): Seq[(Double, Double)] = {
    val conf = new Configuration()
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    files.toSeq.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try r.getFooter.getBlocks.asScala.toSeq.map { b =>
        val cc = b.getColumns.asScala.find(_.getPath.toDotString == column).get
        val st = cc.getStatistics
        (st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue(),
         st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue())
      } finally r.close()
    }
  }

  test("zorderWrite: bbox prunes row groups; spatially-shuffled layout cannot") {
    val sp = spark; import sp.implicits._
    // 256x256 grid over [50,51) x [10,11), ids scrambled so "natural"
    // insert order is spatially random (the adversarial layout)
    val pts = (0 until 65536).map { i =>
      val gy = i / 256; val gx = i % 256
      (i.toLong * 2654435761L % 65536, 50.0 + gy / 256.0, 10.0 + gx / 256.0)
    }
    val df = pts.toDF("id", "lat", "lon")
    val base = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val shuffled = s"$base/shuffled"
    val zordered = s"$base/zordered"
    df.orderBy("id").repartition(128).write.mode("overwrite").parquet(shuffled)
    ZOrder.zorderWrite(df, zordered, partitions = 128)

    val bbox = (50.4, 50.6, 10.4, 10.6) // 4% of the area
    def intersecting(dir: String): Int = {
      val lat = rowGroupStats(dir, "lat")
      val lon = rowGroupStats(dir, "lon")
      assert(lat.size == lon.size && lat.nonEmpty)
      lat.zip(lon).count { case ((laMin, laMax), (loMin, loMax)) =>
        laMax >= bbox._1 && laMin <= bbox._2 && loMax >= bbox._3 && loMin <= bbox._4
      }
    }
    val total = rowGroupStats(zordered, "lat").size
    val zHit = intersecting(zordered)
    val sTotal = rowGroupStats(shuffled, "lat").size
    val sHit = intersecting(shuffled)
    info(s"z-ordered: $zHit of $total row groups intersect; shuffled: $sHit of $sTotal")
    // z-ordered: a 4% box decomposes into a handful of z-runs — the scan
    // skips the overwhelming majority of row groups off footer stats alone
    assert(zHit.toDouble / total <= 0.25, s"z-ordered layout pruned poorly: $zHit/$total")
    // shuffled: every row group spans ~the whole square, nothing prunes
    assert(sHit.toDouble / sTotal >= 0.75, s"shuffled layout unexpectedly prunable: $sHit/$sTotal")

    // clustering is a pure layout change: same rows back
    val back = spark.read.parquet(zordered)
    assert(back.count() === 65536L)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("bboxRanges covers exactly the in-box cells (exhaustive 64x64 grid)") {
    val bits = 6 // 64x64 world grid — small enough to check every cell
    // a box NOT aligned to any quadtree boundary
    val (laMin, laMax, loMin, loMax) = (-90.0 + 7 * (180.0 / 64), -90.0 + 23.5 * (180.0 / 64),
      -180.0 + 11 * (360.0 / 64), -180.0 + 41.5 * (360.0 / 64))
    val ranges = ZOrder.bboxRanges(laMin, laMax, loMin, loMax, bits, maxRanges = 4096)
    def inRanges(z: Long) = ranges.exists(r => z >= r._1 && z <= r._2)
    val (x0, x1) = (ZOrder.quantizeScalar(loMin, -180, 180, bits),
      ZOrder.quantizeScalar(loMax, -180, 180, bits))
    val (y0, y1) = (ZOrder.quantizeScalar(laMin, -90, 90, bits),
      ZOrder.quantizeScalar(laMax, -90, 90, bits))
    for (cy <- 0L until 64L; cx <- 0L until 64L) {
      var z = 0L
      for (i <- 0 until bits) {
        z |= ((cx >> i) & 1L) << (2 * i)
        z |= ((cy >> i) & 1L) << (2 * i + 1)
      }
      val inBox = cx >= x0 && cx <= x1 && cy >= y0 && cy <= y1
      assert(inRanges(z) === inBox, s"cell ($cx, $cy) z=$z inBox=$inBox")
    }
    // coarsened ranges must stay a SUPERSET (safe over-approximation)
    val coarse = ZOrder.bboxRanges(laMin, laMax, loMin, loMax, bits, maxRanges = 4)
    assert(coarse.size <= 4)
    ranges.foreach { r =>
      assert(coarse.exists(c => c._1 <= r._1 && r._2 <= c._2),
        s"coarse ranges dropped exact range $r")
    }
  }

  test("zkey range predicate selects exactly the bbox rows on clustered data") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(11)
    val pts = (0 until 20000).map { i =>
      (i.toLong, 50.0 + rnd.nextDouble(), 10.0 + rnd.nextDouble())
    }
    val df = pts.toDF("id", "lat", "lon")
      .withColumn("zkey", ZOrder.mortonKey(col("lat"), col("lon")))
    val bbox = (50.3, 50.7, 10.2, 10.5)
    val ranges = ZOrder.bboxRanges(bbox._1, bbox._2, bbox._3, bbox._4)
    // range predicate alone is a superset (cell granularity); AND'ed with
    // the exact bbox filter it must equal the plain bbox filter — i.e.
    // the ranges never EXCLUDE a matching row
    val exact = df.filter(col("lat").between(bbox._1, bbox._2) &&
      col("lon").between(bbox._3, bbox._4))
    val pruned = exact.filter(ZOrder.zRangePredicate(col("zkey"), ranges))
    assert(pruned.count() === exact.count())
    assert(exact.count() > 1000) // the box is ~12% of the area; non-trivial
  }

  test("bboxCells: disjoint aligned cells, exact-or-superset cover (exhaustive grid)") {
    val bits = 6
    val (laMin, laMax, loMin, loMax) = (-90.0 + 7 * (180.0 / 64), -90.0 + 23.5 * (180.0 / 64),
      -180.0 + 11 * (360.0 / 64), -180.0 + 41.5 * (360.0 / 64))
    for (maxCells <- Seq(4096, 8)) {
      val cells = ZOrder.bboxCells(laMin, laMax, loMin, loMax, bits, maxCells)
      // every cell is an ALIGNED quadtree node; expand to z-intervals
      val ivals = cells.map { case (d, p) =>
        assert(d >= 0 && d <= bits)
        val span = 1L << (2 * (bits - d))
        (p * span, p * span + span - 1)
      }.sortBy(_._1)
      ivals.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 < b._1, s"overlapping cells $a $b")
        case _ =>
      }
      def covered(z: Long) = cells.exists { case (d, p) => (z >> (2 * (bits - d))) == p }
      val (x0, x1) = (ZOrder.quantizeScalar(loMin, -180, 180, bits),
        ZOrder.quantizeScalar(loMax, -180, 180, bits))
      val (y0, y1) = (ZOrder.quantizeScalar(laMin, -90, 90, bits),
        ZOrder.quantizeScalar(laMax, -90, 90, bits))
      for (cy <- 0L until 64L; cx <- 0L until 64L) {
        var z = 0L
        for (i <- 0 until bits) {
          z |= ((cx >> i) & 1L) << (2 * i)
          z |= ((cy >> i) & 1L) << (2 * i + 1)
        }
        val inBox = cx >= x0 && cx <= x1 && cy >= y0 && cy <= y1
        if (maxCells == 4096) // unconstrained budget: cover is EXACT
          assert(covered(z) === inBox, s"cell ($cx, $cy)")
        else if (inBox) // coarsened: still never drops an in-box cell
          assert(covered(z), s"coarsened cover dropped in-box cell ($cx, $cy)")
      }
    }
  }

  test("prefix equi-join on bboxCells equals the brute-force containment join") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(13)
    val pts = (0 until 20000).map { i =>
      (i.toLong, 50.0 + rnd.nextDouble(), 10.0 + rnd.nextDouble() * 2)
    }
    val bits = ZOrder.DefaultBits
    val boxes = Seq(
      (1, 50.1, 50.9, 10.2, 11.8), (2, 50.4, 50.42, 10.7, 10.74),
      (3, 50.0, 51.0, 11.97, 12.0))
    val cells = boxes.flatMap { case (bid, la0, la1, lo0, lo1) =>
      ZOrder.bboxCells(la0, la1, lo0, lo1, bits)
        .map { case (d, p) => (bid, d, p, la0, la1, lo0, lo1) }
    }
    val depths = cells.map(_._2).distinct.sorted
    val cellsDf = cells.toDF("box_id", "depth", "prefix",
      "lat_min", "lat_max", "lon_min", "lon_max")
    val df = pts.toDF("id", "lat", "lon")
      .withColumn("zkey", ZOrder.mortonKey(col("lat"), col("lon"), bits))
    val joined = df
      .withColumn("depth", explode(array(depths.map(lit(_)): _*)))
      .withColumn("prefix", expr(s"shiftrightunsigned(zkey, 2 * ($bits - depth))"))
      .join(broadcast(cellsDf), Seq("depth", "prefix"))
      .filter(col("lat") >= col("lat_min") && col("lat") <= col("lat_max") &&
        col("lon") >= col("lon_min") && col("lon") <= col("lon_max"))
      .select(col("box_id"), col("id"))
    val brute = boxes.map { case (bid, la0, la1, lo0, lo1) =>
      df.filter(col("lat").between(la0, la1) && col("lon").between(lo0, lo1))
        .select(lit(bid).as("box_id"), col("id"))
    }.reduce(_ unionByName _)
    val got = joined.collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    val want = brute.collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(got === want)
    assert(want.size > 5000) // box 1 alone is ~28% of the area
    // disjoint cells: no (point, box) pair may match twice
    assert(got.distinct.size === got.size)
  }

  test("envelope vs z-range pre-filter: measured pruning + the selectivity gate's call") {
    // The round-7 question: does the z-range pre-filter (rows surviving
    // scan pruning INTO the ×depths explode) beat the plain lat/lon
    // envelope — measured, per box set, on p04's own scattered corpus
    // (the same LCG, replicated here). The answer drives the gate:
    // rangeCellCount(cover) / envelopeCells ≈ the kept fraction under a
    // uniform spread, so the driver can decide without reading data.
    val sp = spark; import sp.implicits._
    val bits = ZOrder.DefaultBits
    var seed = 0x9E3779B97F4A7C15L
    def next(): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      seed >>> 17
    }
    val pts = (0 until 20000).map { i =>
      (1L + i, 52.0 + (next() % 10000000L) * 100L / 1e9,
        11.0 + (next() % 20000000L) * 100L / 1e9)
    }
    val df = pts.toDF("id", "lat", "lon")
      .withColumn("z", ZOrder.mortonKey(col("lat"), col("lon"), bits))

    // the gate's driver-side estimate is the RANGE-cell ratio (what the
    // filter can actually pass), mirroring PbfQueries.p04_spatial_join —
    // the Σ-box-area ratio it replaced is also computed here to pin WHY:
    // capped covers over-cover mid-size boxes, so area and realized
    // selectivity diverge exactly where the old gate got it wrong
    def measure(boxes: Seq[(Double, Double, Double, Double)]): (Long, Long, Boolean, Double, Double) = {
      val (laLo, laHi) = (boxes.map(_._1).min, boxes.map(_._2).max)
      val (loLo, loHi) = (boxes.map(_._3).min, boxes.map(_._4).max)
      val zr = ZOrder.unionRanges(boxes.flatMap { case (a, b, c, d) =>
        ZOrder.bboxRanges(a, b, c, d, bits) })
      val env = df.filter(col("lat").between(laLo, laHi) && col("lon").between(loLo, loHi))
      val envN = env.count()
      val zN = env.filter(ZRangeContains.zInRanges(sp, col("z"), zr)).count()
      val envCells = ZOrder.envelopeCells(laLo, laHi, loLo, loHi, bits)
      val rangeCells = zr.map(r => r._2 - r._1 + 1).sum
      val boxCells = boxes.map { case (a, b, c, d) =>
        ZOrder.envelopeCells(a, b, c, d, bits) }.sum
      (envN, zN, rangeCells < envCells / 2,
        math.min(1.0, rangeCells.toDouble / envCells), boxCells.toDouble / envCells)
    }

    // p04's actual box set: one dominant box → filter keeps ~90% of
    // envelope survivors; the gate must say NO
    val p04Boxes = Seq(
      (52.05, 52.95, 11.1, 12.9), (52.2, 52.4, 11.5, 11.9),
      (52.72, 52.74, 12.3, 12.34), (52.5, 52.5005, 12.0, 12.0008),
      (52.9995, 53.0, 12.9995, 13.0), (52.0, 53.0, 12.985, 13.0))
    val (envA, zA, gateA, estA, _) = measure(p04Boxes)
    info(f"p04 boxes: envelope keeps $envA rows, +zranges keeps $zA " +
      f"(${100.0 * zA / envA}%.1f%%); range-cell estimate ${100 * estA}%.1f%%; gate=$gateA")
    assert(!gateA, "dominant-box cover must fail the selectivity gate")
    assert(zA.toDouble / envA > 0.8, "filter keeps >80% here — it cannot pay")
    // the driver-side estimate tracks the measured kept fraction
    assert(math.abs(estA - zA.toDouble / envA) < 0.1)

    // scattered small boxes → filter drops ~99% of envelope survivors
    // before the explode; the gate must say YES
    val scattered = Seq(
      (52.10, 52.12, 11.10, 11.13), (52.50, 52.52, 12.00, 12.04),
      (52.90, 52.92, 12.80, 12.83), (52.30, 52.31, 12.95, 12.97))
    val (envB, zB, gateB, estB, _) = measure(scattered)
    info(f"scattered boxes: envelope keeps $envB rows, +zranges keeps $zB " +
      f"(${100.0 * zB / envB}%.1f%%); range-cell estimate ${100 * estB}%.2f%%; gate=$gateB")
    assert(gateB, "scattered cover must pass the selectivity gate")
    assert(zB.toDouble / envB < 0.05,
      s"filter keeps $zB of $envB envelope survivors — expected <5%")

    // MID-BAND (the round-9 crossover probe's finding, COVERAGE.md):
    // a 4×4 grid of mid-size boxes covering 5% of the envelope BY AREA.
    // The 64-range capped cover over-covers such boxes so much that the
    // filter keeps nearly everything — the area ratio (~5%) would have
    // turned the filter ON for a measured speedup_on of 0.74× (pure
    // loss); the range-cell estimate sees the over-coverage and gates
    // OFF. This pins the divergence that forced the estimate change.
    val s = 0.05; val frac = math.sqrt(s)
    val grid = for { i <- 0 until 4; j <- 0 until 4 } yield {
      val la0 = 52.0 + i * 0.25; val lo0 = 11.0 + j * 0.5
      (la0, la0 + frac * 0.25, lo0, lo0 + frac * 0.5)
    }
    val (envC, zC, gateC, estC, areaC) = measure(grid)
    info(f"mid-band grid: envelope keeps $envC rows, +zranges keeps $zC " +
      f"(${100.0 * zC / envC}%.1f%%); range-cell estimate ${100 * estC}%.1f%%; " +
      f"area estimate ${100 * areaC}%.1f%%; gate=$gateC")
    assert(areaC < 0.10, "grid covers ~5% by area — the OLD estimate would gate ON")
    assert(zC.toDouble / envC > 0.8,
      "capped covers over-cover mid-size boxes: filter keeps >80%, it cannot pay")
    assert(!gateC, "range-cell gate must stay OFF for an over-covering mid-band cover")
    // and the range-cell estimate still tracks the measured kept fraction
    assert(math.abs(estC - zC.toDouble / envC) < 0.2)
  }
}

package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: one JVM, one client in a closed loop against
  * `local[nproc]`. Set-up, warm-up (which doubles as the output check),
  * the timed loop, and, when traced, a traced loop and the layer probes.
  * Writes everything measured to `<work>/result.json`; `run.py` turns it
  * into the metrics line.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <tablesDir>
  */
object Main {
  /** Untimed passes after the check pass run for at least this long. */
  val WarmSeconds = 10.0

  /** One named call into the program; a pass runs every entry once. */
  final case class Entry(name: String, run: SparkSession => Unit)

  trait Workload {
    /** The PBF corpus the workload reads, and its element count. */
    def corpus: String
    def elements: Long
    /** Cheap per-session registration, repeated in every set-up. */
    def register(spark: SparkSession): Unit
    def entries: Seq[Entry]
    /** The first warm-up pass, which also checks outputs: one result per
      * check, None when it passed, else what differed. */
    def checkPass(spark: SparkSession): Seq[Option[String]]
    def report: Map[String, Any] = Map.empty
  }

  def main(args: Array[String]): Unit = {
    val mainAt = System.currentTimeMillis()
    val Array(workload, seedS, secondsS, traceS, workDir, tablesDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    new File(workDir).mkdirs()
    val out = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> seed,
      "cores" -> cores, "main_at_ms" -> mainAt)

    val genT0 = System.nanoTime()
    val w: Workload = workload match {
      case "transcode-planet" => new Workloads.Transcode(seed, workDir, cores)
      case "pbf-query" => new Workloads.PbfQuery(seed, workDir, cores)
      case other => sys.error(s"unknown workload $other")
    }
    out("gen_s") = secs(genT0)
    out("elements") = w.elements

    // set-up, three times: a fresh session plus input registration
    val sessionS = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      val spark = session(cores, workDir)
      w.register(spark)
      val s = secs(t0)
      if (i < 2) spark.stop()
      s
    }
    out("session_s") = sessionS
    val spark = SparkSession.active
    val sc = spark.sparkContext

    // warm-up: the check pass, then the workload's extra warm passes
    val warmT0 = System.nanoTime()
    val checks =
      try w.checkPass(spark)
      catch { case e: Exception => e.printStackTrace(); Seq(Some(s"check pass failed: $e")) }

    val rnd = new scala.util.Random(seed)
    var failedOps = 0
    /** One pass: every entry once, in a seeded order, each under its own
      * job group; traced passes report to `tracer`. */
    def pass(id: String, tracer: Option[Tracer],
             entries: Seq[Entry] = w.entries): Map[String, Any] = {
      val order = rnd.shuffle(entries)
      val (c0, j0) = cpuNs(); val t0 = System.nanoTime()
      tracer.foreach(sc.addSparkListener)
      val times = order.map { e =>
        val op = s"$id-${e.name}"
        sc.setJobGroup(op, e.name)
        sc.setLocalProperty(Tracer.OpKey, op)
        val s0 = System.nanoTime()
        try e.run(spark)
        catch { case ex: Exception =>
          System.err.println(s"[perfbench] ${e.name} failed: $ex"); failedOps += 1
        }
        val s1 = System.nanoTime()
        tracer.foreach(_.entrySpan(op, id, s0, s1))
        e.name -> (s1 - s0) / 1e9
      }.toMap
      sc.clearJobGroup(); sc.setLocalProperty(Tracer.OpKey, null)
      val wall = secs(t0); val (c1, j1) = cpuNs()
      tracer.foreach { t => BusDrain(sc); sc.removeSparkListener(t) }
      Map("wall_s" -> wall, "cpu_s" -> (c1 - j1 - c0 + j0) / 1e9, "jit_cpu_s" -> (j1 - j0) / 1e9,
        "entries" -> times)
    }

    // JIT and Spark's code caches keep speeding passes up for a few
    // seconds after the first one; timing starts once that has settled
    val warmEnd = System.nanoTime() + (WarmSeconds * 1e9).toLong
    var warm = 0
    while (warm == 0 || System.nanoTime() < warmEnd) { pass(s"w$warm", None); warm += 1 }
    out("warmup_s") = secs(warmT0)
    out("warm_passes") = warm

    // the timed loop: closed, one client; a traced run alternates untraced
    // and traced passes, so both halves sit at the same point of warm-up
    val tracer = if (trace) Some(new Tracer(System.currentTimeMillis(), System.nanoTime())) else None
    val timed, traced = ArrayBuffer.empty[Map[String, Any]]
    val host0 = HostStat.read()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (timed.isEmpty || (trace && traced.isEmpty) || System.nanoTime() < end) {
      if (trace && timed.size > traced.size) traced += pass(s"t${traced.size}", tracer)
      else timed += pass(s"u${timed.size}", None)
    }
    out("host") = HostStat.delta(host0, HostStat.read())
    out("passes") = timed.toSeq
    tracer.foreach { tr =>
      out("traced_passes") = traced.toSeq
      val layers = mutable.LinkedHashMap[String, Any]()
      layers ++= tr.summary(traced.size)
      // entry probes: each entry once to check its output (and warm it),
      // then once traced
      out("dumps") = Workloads.dumpEntries(spark,
        Workloads.SqlProbe ++ Workloads.StreamProbe, tablesDir, workDir)
      val sql = new Tracer(System.currentTimeMillis(), System.nanoTime())
      val sqlPass = pass("sql", Some(sql), Workloads.entries(Workloads.SqlProbe, tablesDir))
      val sqlLayer = sql.summary(1)
      layers("sql.pass_s") = sqlPass("wall_s")
      Seq("op.plan_s", "op.jobs_s", "spark.stages", "spark.task_cpu_s", "spark.gc_s",
        "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes")
        .foreach(k => layers("sql." + k.substring(k.indexOf('.') + 1)) = sqlLayer(k))
      val stream = new Tracer(System.currentTimeMillis(), System.nanoTime())
      pass("stream", Some(stream), Workloads.entries(Workloads.StreamProbe, tablesDir))
      layers ++= stream.summary(1).filter(_._1.startsWith("stream."))
      layers ++= LayerProbe.run(spark, w.corpus, seed, w.elements, s"$workDir/probe")
      out("layers") = layers
      tr.flush(s"$workDir/spans.jsonl")
    }
    val probed = if (trace) Workloads.SqlProbe.size + Workloads.StreamProbe.size else 0
    out("attempted") = (timed.size + traced.size) * w.entries.size + probed + checks.size
    out("failed_ops") = failedOps
    out("check_failures") = checks.flatten
    out ++= w.report
    spark.stop()
    Json.write(s"$workDir/result.json", out.toMap)
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val jitTicks = mutable.HashMap.empty[String, Long]

  /** (process CPU, CPU of the JIT compiler threads so far), in ns. An op's
    * CPU excludes the JIT: compilation is warm-up work, still running in a
    * run this short, and its amount varies from JVM to JVM. Compiler
    * threads come and go, so each keeps the last value it was seen with. */
  def cpuNs(): (Long, Long) = {
    val process = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.foreach { t =>
      try {
        if (java.nio.file.Files.readString(new File(t, "comm").toPath).contains("CompilerThre")) {
          // fields after the ")" that ends the thread name: utime is 12th, stime 13th
          val stat = java.nio.file.Files.readString(new File(t, "stat").toPath)
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          jitTicks(t.getName) = f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => () } // the thread just exited
    }
    (process, jitTicks.values.sum * 10000000L) // USER_HZ = 100
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Host-noise context from /proc/stat: shares of the window's CPU ticks. */
object HostStat {
  def read(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }
  def delta(a: Array[Long], b: Array[Long]): Map[String, Double] = {
    val d = a.indices.map(i => (b(i) - a(i)).toDouble)
    val tot = math.max(d.take(8).sum, 1.0)
    def pct(i: Int) = if (i < d.length) 100.0 * d(i) / tot else 0.0
    Map("user_pct" -> pct(0), "system_pct" -> pct(2), "idle_pct" -> pct(3),
      "iowait_pct" -> pct(4), "steal_pct" -> pct(7))
  }
}

/** JSON for the result and span files (Jackson ships with Spark). */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
  def render(v: Any): String = mapper.writeValueAsString(v)
  def write(path: String, v: Any): Unit = mapper.writeValue(new File(path), v)
}

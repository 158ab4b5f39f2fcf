package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Traced-run recorder: a SparkListener that files every job, stage and
  * task under the op (one entry run) whose id the job carries in the
  * [[Tracer.OpKey]] local property, and keeps every streaming progress
  * event (they reach the SparkContext's bus from every session). Spans and
  * counts stay in memory; [[summary]] and [[flush]] read them at the end,
  * after the bus has drained. The listener bus delivers events on one
  * thread, so no locking is needed.
  */
final class Tracer(epochMs0: Long, nano0: Long) extends SparkListener {
  import Tracer._

  private final class Op {
    var startMs, endMs = 0.0
    var pass = ""
    val jobs = ArrayBuffer.empty[(Long, Long)]
    var stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleW, shuffleR, spill, input = 0L
    val stageTaskMs = mutable.HashMap.empty[Int, ArrayBuffer[Long]]
  }
  private val ops = mutable.LinkedHashMap.empty[String, Op]
  private val jobOp = mutable.HashMap.empty[Int, (String, Long)]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]

  private def op(id: String) = ops.getOrElseUpdate(id, new Op)

  /** Records an entry run's span (nanoTime clock, mapped to epoch ms). */
  def entrySpan(id: String, pass: String, s0: Long, s1: Long): Unit = synchronized {
    val o = op(id)
    o.pass = pass
    o.startMs = epochMs0 + (s0 - nano0) / 1e6
    o.endMs = epochMs0 + (s1 - nano0) / 1e6
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { id =>
      jobOp(e.jobId) = (id, e.time)
      e.stageIds.foreach(stageOp(_) = id)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.get(e.jobId).foreach { case (id, t0) => op(id).jobs += ((t0, e.time)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op(_).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val o = op(id)
      o.tasks += 1
      o.runMs += m.executorRunTime; o.cpuNs += m.executorCpuTime; o.gcMs += m.jvmGCTime
      o.shuffleW += m.shuffleWriteMetrics.bytesWritten
      o.shuffleR += m.shuffleReadMetrics.totalBytesRead
      o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      o.input += m.inputMetrics.bytesRead
      o.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized { progress += p.progress }
    case _ =>
  }

  /** Per-layer numbers: per-pass medians of the op split and task
    * counters, and per-pass streaming totals. */
  def summary(passes: Int): Map[String, Double] = synchronized {
    val byPass = ops.values.groupBy(_.pass).values.toSeq
    def perPass(f: Op => Double): Double = median(byPass.map(_.map(f).sum))
    def jobsMs(o: Op): Double = union(o.jobs.toSeq)
    val skews = ops.values.flatMap { o =>
      o.stageTaskMs.values.maxByOption(_.sum).filter(_.nonEmpty).map { ts =>
        ts.max.toDouble / math.max(median(ts.map(_.toDouble).toSeq), 1.0)
      }
    }.toSeq
    val n = math.max(passes, 1).toDouble
    def durSum(k: String): Double =
      progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / 1e3
    val stateRows = progress.groupBy(_.runId).values.map(_.maxBy(_.batchId))
      .map(_.stateOperators.map(_.numRowsTotal).sum).sum
    Map(
      "op.jobs_s" -> perPass(o => jobsMs(o) / 1e3),
      "op.plan_s" -> perPass(o => o.jobs.map(_._1).minOption.fold(o.endMs - o.startMs)(_ - o.startMs) / 1e3),
      "op.tail_s" -> perPass(o => o.jobs.map(_._2).maxOption.fold(0.0)(o.endMs - _) / 1e3),
      "op.outside_jobs_s" -> perPass(o => (o.endMs - o.startMs - jobsMs(o)) / 1e3),
      "spark.jobs" -> perPass(_.jobs.size.toDouble),
      "spark.stages" -> perPass(_.stages.toDouble),
      "spark.tasks" -> perPass(_.tasks.toDouble),
      "spark.task_run_s" -> perPass(_.runMs / 1e3),
      "spark.task_cpu_s" -> perPass(_.cpuNs / 1e9),
      "spark.gc_s" -> ops.values.map(_.gcMs / 1e3).sum / n,
      "spark.task_skew" -> median(skews),
      "spark.shuffle_write_bytes" -> perPass(_.shuffleW.toDouble),
      "spark.shuffle_read_bytes" -> perPass(_.shuffleR.toDouble),
      "spark.spill_bytes" -> perPass(_.spill.toDouble),
      "spark.input_bytes" -> perPass(_.input.toDouble),
      "stream.batches" -> progress.size / n,
      "stream.batch_s" -> durSum("triggerExecution") / n,
      "stream.add_batch_s" -> durSum("addBatch") / n,
      "stream.wal_commit_s" -> durSum("walCommit") / n,
      "stream.commit_offsets_s" -> durSum("commitOffsets") / n,
      "stream.query_planning_s" -> durSum("queryPlanning") / n,
      "stream.state_commit_s" ->
        progress.map(_.stateOperators.map(_.commitTimeMs).sum).sum / 1e3 / n,
      "stream.state_rows" -> stateRows / n)
  }

  /** Writes the spans: one line per op and per job, jobs naming their op. */
  def flush(path: String): Unit = synchronized {
    val lines = ops.toSeq.flatMap { case (id, o) =>
      Json.render(Map("span" -> "op", "id" -> id, "pass" -> o.pass,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs, "tasks" -> o.tasks,
        "task_cpu_s" -> o.cpuNs / 1e9)) +:
        o.jobs.map { case (a, b) =>
          Json.render(Map("span" -> "job", "parent" -> id, "start_ms" -> a, "end_ms" -> b))
        }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Local property naming the op a job belongs to; threads started by the
    * op (stream executions) inherit it. */
  val OpKey = "perfbench.op"

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** Length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

package org.apache.spark

/** `private[spark]` seam for the measurement tools: Spark's listener bus
  * is ASYNCHRONOUS, so when an action returns, the final stages'
  * `SparkListenerStageCompleted` events can still be queued — a tool that
  * detaches its metrics listener immediately undercounts shuffle bytes
  * nondeterministically. Draining the bus before detaching makes the
  * read exact. Same package-access pattern as
  * [[org.apache.spark.sql.GraftBridge]].
  */
object GraftListenerBus {
  /** Blocks until every queued listener event has been delivered (or the
    * timeout lapses — a bounded wait, never a hang). Spark's
    * `waitUntilEmpty(long)` THROWS `TimeoutException` when the timeout
    * lapses; callers sit in `finally` blocks, where a throw would mask
    * the body's real exception and skip `removeSparkListener` — so a
    * lapse is logged and swallowed, making the wait genuinely
    * non-throwing as documented. A lapsed drain means the metric read MAY
    * be short; returns `false` in that case so callers can record
    * `listener_drained` next to the numbers the drain protects — the
    * stderr line alone leaves no trace in the artifacts where the
    * possibly-short metric is consumed. */
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(
          s"[GraftListenerBus] listener bus not drained after ${timeoutMs}ms; " +
            "metrics read may undercount — continuing (bounded, non-throwing)")
        false
    }
}

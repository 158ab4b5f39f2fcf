package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run reads complete counts. (The bus is Spark-private.) */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

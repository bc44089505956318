package org.apache.spark

/** The listener bus is Spark-private; the traced run drains it before
  * reading its counters so no event of the measured work is still queued. */
object LifebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

package org.apache.spark

/** The listener bus is Spark-private; counter tests drain it so every event
  * of the work they measured has reached their listener before they read. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

package org.apache.spark

/** Waits for queued listener events; the bus is package-private to Spark. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}

package org.apache.spark

/** The listener bus is asynchronous and `SparkContext.listenerBus` is
  * package-private; the trace drains it before reading what its
  * listeners recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** The listener bus is private to Spark; the traced run flushes it before
  * reading what its listeners recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs with a
  * listener flush it before reading what the listener recorded. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

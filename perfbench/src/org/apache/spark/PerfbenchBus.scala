package org.apache.spark

/** The listener bus is private to Spark; the traced run must wait for
  * it to deliver every job and task event before it sums them. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to know
  * that every event of the timed region has been delivered before it
  * reads the listener's totals. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

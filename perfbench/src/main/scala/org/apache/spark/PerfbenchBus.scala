package org.apache.spark

/** The listener bus is delivered asynchronously; a measurement read
  * right after an action must first wait for every queued event. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

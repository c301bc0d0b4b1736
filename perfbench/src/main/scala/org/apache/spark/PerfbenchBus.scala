package org.apache.spark

/** Access to SparkContext's listener bus, which Spark keeps package-private.
  * The tracer drains it before reading span counters, because listener
  * events are delivered asynchronously. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

package org.apache.spark

/** Test access to SparkContext's listener bus, which Spark keeps
  * package-private. Listener events arrive asynchronously, so a spec that
  * counts jobs drains the bus before it reads its counters. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

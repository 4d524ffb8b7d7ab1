package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus, which is private to Spark. */
object ListenerBusProbe {
  /** Block until every event posted so far reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

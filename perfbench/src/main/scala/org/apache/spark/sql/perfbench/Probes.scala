package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession

/** The two Spark internals the benchmark reads from outside: the size of
  * the catalog cache (a leak probe) and the listener bus, which it drains
  * before reading what its listener collected.
  */
object Probes {
  def cachedRelations(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries

  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}

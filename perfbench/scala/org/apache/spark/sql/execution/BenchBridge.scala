package org.apache.spark.sql.execution

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Two Spark internals the harness reads, both package-private to Spark:
  * the listener bus, which the traced run drains before reading what its
  * listener recorded, and the CacheManager's entry count, which is how many
  * persists an op left behind. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}

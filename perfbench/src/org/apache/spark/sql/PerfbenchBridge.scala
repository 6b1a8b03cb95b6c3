package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Benchmark-local bridge to two members Spark keeps package-private:
  * the listener bus's own drain, so listener counters are read only
  * after every event posted so far has been delivered (instead of
  * sleeping and hoping the bus has caught up), and the number of
  * cached plans, which the session-hygiene check compares.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def cachedEntries(spark: classic.SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}

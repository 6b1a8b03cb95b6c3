package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Test-scope bridge to the listener bus's package-private drain, so a
  * listener's counters are read only after every event posted so far
  * has been delivered — instead of sleeping and hoping the bus caught up.
  */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

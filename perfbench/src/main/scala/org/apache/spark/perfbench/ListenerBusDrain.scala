package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * Listener delivery is asynchronous; the harness calls this outside
  * its timers, before reading what the listeners recorded for a pass.
  * (The bus is package-private to Spark, hence this package.) */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus: the traced run must see every
  * queued listener event (job ends, SQL execution ends, query-execution
  * callbacks) before it reads its span buffer. */
object BusShim {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

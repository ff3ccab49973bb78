package org.apache.spark

/** Bridge to `SparkContext.listenerBus`, which is private to the `spark`
  * package (the same trick as `org.apache.spark.sql.GraftShims`). The
  * benchmark reads its listener counters only after the bus has delivered
  * every queued event, instead of sleeping for a fixed time and hoping.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

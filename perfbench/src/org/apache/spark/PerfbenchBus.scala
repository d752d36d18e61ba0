package org.apache.spark

/** The one private hook the traced run needs: block until every queued
  * listener event has been delivered, so the job ledger is complete
  * before it is read. Lives in this package because the listener bus is
  * `private[spark]`; the benchmark touches nothing else here. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

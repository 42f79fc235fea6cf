package org.apache.spark

/** The listener bus is `private[spark]`; the traced run needs to wait for
  * it to drain so every job, stage and query event of a span has arrived
  * before the span's counters are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

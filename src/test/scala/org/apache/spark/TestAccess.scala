package org.apache.spark

/** The listener bus is `private[spark]`; a spec that counts jobs or
  * captures query executions waits for it to drain before reading. */
object TestAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

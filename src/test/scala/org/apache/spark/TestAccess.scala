package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The listener bus is `private[spark]`; a spec that counts jobs or
  * captures query executions waits for it to drain before reading. */
object TestAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of Spark jobs started while `f` runs. */
  def jobsDuring(sc: SparkContext)(f: => Unit): Int = {
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drainListeners(sc)
    sc.addSparkListener(l)
    try { f; drainListeners(sc) } finally sc.removeSparkListener(l)
    jobs.get
  }
}

package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits. Lives in Spark's package only
  * to reach the listener bus's `private[spark]` drain, so the count
  * includes every job start the block's actions posted. */
object TestJobs {
  def count(sc: SparkContext)(f: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try { f; sc.listenerBus.waitUntilEmpty() }
    finally sc.removeSparkListener(l)
    n.get
  }

  /** Waits until the listeners have seen every event posted so far
    * (block updates included, which the storage status is built from). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

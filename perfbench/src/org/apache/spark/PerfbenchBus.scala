package org.apache.spark

/** The listener bus's drain is `private[spark]`; this object lives in
  * Spark's package only to reach it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Drains the asynchronous listener bus (`private[spark]`), so every
  * event of a query has been delivered before the next query starts. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

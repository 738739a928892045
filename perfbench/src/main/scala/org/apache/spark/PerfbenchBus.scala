package org.apache.spark

/** The listener bus is private[spark]. The benchmark's listener totals
  * task metrics asynchronously, so before it reads them it waits until
  * every event posted so far has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

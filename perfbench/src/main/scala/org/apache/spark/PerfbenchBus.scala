package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark reads complete records. It lives in Spark's package
  * because the bus is private to it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}

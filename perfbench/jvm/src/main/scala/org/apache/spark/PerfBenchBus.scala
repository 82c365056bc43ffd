package org.apache.spark

/** The listener bus is private to Spark; the benchmark's trace needs to wait
  * until every posted event has reached its listeners before it reads them.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

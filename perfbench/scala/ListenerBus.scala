package org.apache.spark

/** The listener bus is asynchronous; the benchmark's trace listener reads its
  * counts only after every posted event has been delivered. The bus is
  * package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

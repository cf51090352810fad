package org.apache.spark

/** Specs that count jobs with a SparkListener read the counts only after
  * every posted event has been delivered; the listener bus is private to
  * Spark, hence this bridge. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * benchmark can wait until every job and stage event has been seen.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

package org.apache.spark

/** Reaches Spark's package-private listener bus, so counters are read only
  * after every event has been delivered. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Reaches Spark's package-private listener bus, so the measurement tools
  * read listener counters only after every posted event has been delivered
  * (instead of sleeping for a guessed drain time). */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

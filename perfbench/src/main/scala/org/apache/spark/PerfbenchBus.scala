package org.apache.spark

/** Drains Spark's listener bus, so task counters charged by a listener are
  * complete before they are read. `listenerBus` is package-private, hence
  * this one-method shim in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

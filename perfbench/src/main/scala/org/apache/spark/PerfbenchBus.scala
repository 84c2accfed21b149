package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the
  * traced run waits for queued events before it attributes them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

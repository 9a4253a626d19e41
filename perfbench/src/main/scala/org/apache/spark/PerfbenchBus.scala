package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced span's counters are complete before the next span starts.
  * (`listenerBus` is package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec that counts listener events sees all of them. (`listenerBus` is
  * package-private to Spark.) */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

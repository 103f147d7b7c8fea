package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced span's jobs and stages are all recorded before it is read. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

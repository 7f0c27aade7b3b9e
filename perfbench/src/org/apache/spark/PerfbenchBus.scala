package org.apache.spark

/** Reaches the listener bus, which is private to the `org.apache.spark`
  * package: the traced run must see every job, task and plan event of
  * its spans before it reduces them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Reaches the listener bus, which is private to `org.apache.spark`: a
  * spec that counts jobs through a `SparkListener` drains the bus so it
  * has seen every event of the actions it ran. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

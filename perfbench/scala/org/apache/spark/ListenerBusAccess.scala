package org.apache.spark

/** Drains the listener bus, whose `waitUntilEmpty` is package-private. The
  * traced run calls it before reading what its listeners recorded. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}

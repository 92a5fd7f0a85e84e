package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered on a background thread; the traced run
  * waits for them before reading what the listeners counted. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

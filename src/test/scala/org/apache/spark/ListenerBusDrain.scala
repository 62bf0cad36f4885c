package org.apache.spark

/** Test-only bridge: `SparkContext.listenerBus` is private[spark]. A spec
  * that reads events a call posted (SQL execution plans, job ends) drains
  * the asynchronous bus first, so every event has reached its listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

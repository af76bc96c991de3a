package org.apache.spark

/** Test-only bridge: `waitUntilEmpty` is package-private to Spark, and a
  * listener count read right after an action would otherwise miss the
  * events still queued on the asynchronous bus.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

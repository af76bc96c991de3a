package org.apache.spark

/** Drains Spark's asynchronous listener bus. `waitUntilEmpty` is
  * package-private to Spark, so the benchmark reaches it from inside the
  * package: listener counts read right after an action would otherwise
  * miss the events still queued on the bus.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

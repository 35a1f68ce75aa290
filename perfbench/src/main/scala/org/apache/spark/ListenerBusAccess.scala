package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait
  * for it so that per-operation scheduler counters are complete before
  * they are read. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

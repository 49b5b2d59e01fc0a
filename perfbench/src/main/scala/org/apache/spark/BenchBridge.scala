package org.apache.spark

/** Access to the listener bus, which is private[spark]: the benchmark
  * drains it before reading counters so no event of a finished action
  * is still queued.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

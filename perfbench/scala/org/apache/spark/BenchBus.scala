package org.apache.spark

/** Listener events arrive asynchronously; the benchmark reads its
  * listener's totals only after the bus has delivered every event.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

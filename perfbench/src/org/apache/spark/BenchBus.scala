package org.apache.spark

/** The listener bus is private to Spark; the benchmark reads its layer
  * counters only after every posted event has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

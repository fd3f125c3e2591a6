package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting for the
  * listener bus to deliver every posted event before counters are read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}

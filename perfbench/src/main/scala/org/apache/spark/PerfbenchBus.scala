package org.apache.spark

/** The listener bus is Spark-private; the benchmark only needs to wait for
  * it to deliver every posted event before reading its listener's counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

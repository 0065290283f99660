package org.apache.spark

/** The listener bus is private to Spark; the benchmark must wait for it to
  * deliver a pass's task events before it reads that pass's metrics. */
object JqBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * calls it so per-span job metrics are complete before they are read.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so an op's engine counters are complete when it ends. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

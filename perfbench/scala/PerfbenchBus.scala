package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark needs one
  * call on it to read complete per-span counters at the end of a run. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark's
  * tracer needs it to read complete per-span counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

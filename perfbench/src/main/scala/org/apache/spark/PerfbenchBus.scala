package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for it
  * so that every job, stage and task event of a run is in before the trace
  * is resolved.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

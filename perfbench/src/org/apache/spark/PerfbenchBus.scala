package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-pass listener totals are complete when they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

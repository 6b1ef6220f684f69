package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the traced run's listener-side counters are complete when it reports.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

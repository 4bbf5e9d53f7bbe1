package org.apache.spark

/** Waits until every posted listener event has been delivered, so counters
  * read after a pass hold all of that pass's jobs, tasks and plans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

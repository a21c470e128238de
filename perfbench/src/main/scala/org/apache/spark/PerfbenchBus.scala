package org.apache.spark

/** Waits until every queued listener event has been delivered, so a traced
  * phase's job and task events are all counted before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

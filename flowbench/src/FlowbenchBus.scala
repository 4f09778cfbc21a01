package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so counters read after a flow include all of its jobs and tasks. */
object FlowbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Lets the harness wait until every posted listener event was delivered,
  * so a traced pass is closed only after its job and task events arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

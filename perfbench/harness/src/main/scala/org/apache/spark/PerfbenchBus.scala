package org.apache.spark

/** The benchmark's one reach into Spark internals: waiting until the
  * listener bus has delivered every posted event, so a traced pass's jobs,
  * tasks and query phases are all recorded before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

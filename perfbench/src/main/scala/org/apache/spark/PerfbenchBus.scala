package org.apache.spark

/** The benchmark's one reach into Spark internals: waiting until the
  * listener bus has delivered every posted event, so collected metrics are
  * complete before they are attributed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

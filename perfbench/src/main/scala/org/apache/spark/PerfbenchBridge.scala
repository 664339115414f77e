package org.apache.spark

/** The one Spark-internal call the harness needs: wait until the listener
  * bus has delivered every posted event, so per-operation job and task
  * counts are complete before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** The one Spark-internal call the benchmark harness needs: waiting until
  * the listener bus has delivered every posted event, so per-span job
  * counts are complete before they are read. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

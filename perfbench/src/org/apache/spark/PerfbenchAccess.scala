package org.apache.spark

/** The one Spark-internal call the benchmark makes: wait until the
  * listener bus has delivered every posted event, so the traced record
  * sees all jobs, tasks and query executions before it is summarized. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

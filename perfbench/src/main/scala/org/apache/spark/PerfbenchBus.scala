package org.apache.spark

/** Blocks until the async listener bus has delivered every queued event,
  * so job, stage, task and query-execution records are complete before
  * the tracer reads them. `waitUntilEmpty` is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

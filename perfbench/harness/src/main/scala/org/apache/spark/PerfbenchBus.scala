package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * tracer attributes jobs, tasks and query executions to the phase that
  * just ended. `listenerBus` is package-private to Spark, hence this file's
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

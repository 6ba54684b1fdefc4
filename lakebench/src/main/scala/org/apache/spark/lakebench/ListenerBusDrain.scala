package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  *
  * `LiveListenerBus.waitUntilEmpty` is package-private to Spark; this shim
  * lives in Spark's package to reach it. The tracer calls it at every span
  * boundary, so the job, task, query and streaming events of a span are all
  * delivered before the span closes. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}

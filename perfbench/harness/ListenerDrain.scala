package org.apache.spark

/** Blocks until every queued listener event has been delivered. The
  * tracer reads its counters only after this, so no job, task or query
  * event of a traced pipeline is still in flight. Lives in this package
  * only because `SparkContext.listenerBus` is `private[spark]`. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

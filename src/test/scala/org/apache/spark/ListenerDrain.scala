package org.apache.spark

/** Test hook: block until every posted listener event has been delivered
 *  (`listenerBus` is package-private), so counters a test reads after an
 *  action include that action's jobs and SQL executions. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

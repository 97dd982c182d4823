package org.apache.spark.graftaccess

import org.apache.spark.SparkContext

/** Narrow bridge into one `private[spark]` member.
  *
  * `graft.util.QueryProfile` measures a query with a `SparkListener` summing
  * `TaskMetrics`, but listener-bus delivery is asynchronous:
  * after an action returns, its task-end events may still be in flight. The
  * only deterministic fence is `LiveListenerBus.waitUntilEmpty()`, which is
  * `private[spark]` — so this one-method object lives in an `org.apache.spark`
  * subpackage purely to expose it. Nothing else from Spark internals is
  * touched; queries and operators never use this.
  */
object GraftSparkAccess {
  /** Block until every queued listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

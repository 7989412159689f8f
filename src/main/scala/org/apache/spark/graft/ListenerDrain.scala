package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Minimal `private[spark]` bridge for [[graft.Harness]]'s per-query
  * task-time attribution: the listener bus is asynchronous, so when an
  * action returns, `SparkListenerTaskEnd` events for its tasks may
  * still be queued — snapshotting a metrics accumulator right after the
  * action would leak one query's tail into the next query's delta.
  * Spark's own test harness drains with
  * `LiveListenerBus.waitUntilEmpty` (`private[spark]`); this object
  * exposes exactly that call, nothing else. Lives under
  * `org.apache.spark` solely for the access qualifier — the standard
  * idiom for reaching a `private[spark]` member from library code.
  */
object ListenerDrain {
  /** Block until every queued listener event has been delivered
    * (10 s default timeout inside Spark — far above a local bus's
    * drain time; a TimeoutException here would signal a genuinely
    * wedged bus, which SHOULD fail the bench run loudly). */
  def waitUntilEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

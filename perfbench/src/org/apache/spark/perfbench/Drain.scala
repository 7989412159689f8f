package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until the asynchronous listener bus has delivered every queued
  * event, so counters read after an action include all of its tasks.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`; this package
  * exists only for that access qualifier. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

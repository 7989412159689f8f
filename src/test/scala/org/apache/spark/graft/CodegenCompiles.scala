package org.apache.spark.graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Test bridge to Spark's `private[spark]` codegen metrics: how many
  * classes Spark has compiled in this JVM, one per miss of its
  * generated-class cache. Lives under `org.apache.spark` solely for the
  * access qualifier, as [[ListenerDrain]] does. */
object CodegenCompiles {
  def count: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

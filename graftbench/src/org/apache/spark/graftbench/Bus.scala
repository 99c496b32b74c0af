package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** `SparkContext.listenerBus` is `private[spark]`; the benchmark needs it
  * only to wait until every event of a finished pass has been delivered
  * to its listener before reading the counters. */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Generated classes compiled so far in this JVM. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

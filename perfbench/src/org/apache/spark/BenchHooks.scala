package org.apache.spark

/** The two Spark internals the traced run reads: draining the listener
  * bus, so listener counts are complete before an op's numbers are read,
  * and the whole-stage codegen compile counter. */
object BenchHooks {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

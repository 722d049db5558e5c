package org.apache.spark

/** The two Spark internals the traced mode reads: the listener bus (drained
  * before a counter snapshot, so every task of the measured phase is
  * counted) and the codegen compile counters. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (Janino compiles so far, mean compile ms over the histogram sample). */
  def codegenCompiles(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}

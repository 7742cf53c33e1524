package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The two package-private Spark hooks the traced run needs. Both are
  * read outside every timed region.
  */
object SparkInternals {

  /** Block until every listener has seen every event posted so far, so
    * a finished operation's jobs, tasks and query executions are all
    * attributed before the next operation starts.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression code compilations since JVM start. The
    * histogram's sums are a sampled reservoir; its count is exact.
    */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

package org.apache.spark

/** The two Spark internals the benchmark reads from outside the engine:
  * draining the listener bus before totals are read, and the count of
  * generated classes Janino has compiled in this JVM. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def codegenCompiles: Long =
    metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

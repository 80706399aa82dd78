package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * posted listener event has been delivered, so the per-span counts are
  * complete before they are read. */
object PerfBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

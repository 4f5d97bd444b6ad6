package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until the
  * listener bus has delivered every queued event, so per-span counters are
  * complete before they are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

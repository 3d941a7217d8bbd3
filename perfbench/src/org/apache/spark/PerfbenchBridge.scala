package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every posted event, so span counters are
  * complete before they are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

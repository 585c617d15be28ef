package org.apache.spark

/** Access to the one package-private SparkContext call the benchmark needs:
  * waiting until every listener event posted so far has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** Access to the private[spark] listener-bus flush, so the benchmark reads
  * its listener's records only after every event of a step was delivered. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}

package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. The
  * traced run drains it after every operation so that each task, job and
  * query event is counted before the next operation starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

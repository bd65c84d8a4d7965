package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private:
  * `drain` returns once every event posted so far has reached every
  * listener.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

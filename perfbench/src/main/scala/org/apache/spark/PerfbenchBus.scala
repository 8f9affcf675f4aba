package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced benchmark run waits on it before it reads its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

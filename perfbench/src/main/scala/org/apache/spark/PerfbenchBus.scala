package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the trace
  * reads its counters only after every posted event has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

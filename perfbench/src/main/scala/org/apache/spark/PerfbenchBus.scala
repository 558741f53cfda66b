package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run drains it so every event of a pass is counted before the
  * pass's counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package org.apache.spark

/** The one piece of Spark-internal access the benchmark needs: its
  * traced run keys listener events to ops after the fact, so before it
  * reads the listener's counters it must know every posted event has
  * been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

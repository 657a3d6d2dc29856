package org.apache.spark

/** Access to the Spark-private listener bus: counters are read only after
  * every event posted so far has been delivered.
  */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

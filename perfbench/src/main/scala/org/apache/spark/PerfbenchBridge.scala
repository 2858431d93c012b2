package org.apache.spark

/** Access to the listener bus, which is private to Spark: the traced run
  * reads its task counters only after every event of a phase is delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

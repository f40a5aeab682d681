package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The benchmark's listener reads its counters only after every event
  * posted so far has been delivered.
  */
object PerfbenchShims {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

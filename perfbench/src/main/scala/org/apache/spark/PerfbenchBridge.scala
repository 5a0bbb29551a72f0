package org.apache.spark

/** Access to the listener bus, which is private to Spark: a traced
  * measurement waits until every event of the call it timed is delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

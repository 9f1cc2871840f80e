package org.apache.spark

/** Test access to Spark's private listener bus: returns once every posted
  * event, QueryExecutionListener callbacks included, has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

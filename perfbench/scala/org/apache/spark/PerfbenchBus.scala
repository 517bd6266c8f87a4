package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The two listener-bus calls the tracer needs and Spark keeps
  * package-private: post a marker in order with the engine's own events,
  * and wait until every queue has delivered what was posted before. */
object PerfbenchBus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

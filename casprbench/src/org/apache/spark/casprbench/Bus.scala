package org.apache.spark.casprbench

import org.apache.spark.SparkContext

/** The listener bus is Spark-private; the tracer needs to wait until every
  * posted task and job event has reached its listener before reading the
  * counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

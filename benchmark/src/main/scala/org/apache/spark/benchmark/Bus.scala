package org.apache.spark.benchmark

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously. The harness reads its
  * listeners only after the bus has delivered every event posted so far;
  * `waitUntilEmpty` is Spark-internal, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

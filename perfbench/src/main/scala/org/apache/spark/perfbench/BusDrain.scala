package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; a traced round must see every event
  * of its jobs before it is attributed. `waitUntilEmpty` is Spark-internal,
  * hence this shim in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

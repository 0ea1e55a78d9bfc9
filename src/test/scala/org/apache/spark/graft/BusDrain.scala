package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: a test that counts jobs must see every
  * event of a call before it reads the count. `waitUntilEmpty` is
  * Spark-internal, hence this shim in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

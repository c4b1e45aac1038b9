package org.apache.spark.mrbench

import org.apache.spark.SparkContext

/** Spark keeps the listener bus package-private. The traced run drains
  * it after each query so that every stage, task and query-execution
  * event of that query has been delivered before it is attributed. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

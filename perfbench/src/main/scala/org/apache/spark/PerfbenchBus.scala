package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event,
  * so the traced run can charge listener callbacks to the operation
  * that caused them. The bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

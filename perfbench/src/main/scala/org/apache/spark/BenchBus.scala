package org.apache.spark

/** Waits until every event posted so far has reached every listener, so the
  * traced run can attribute Spark's job, stage and task events to the call
  * that caused them. The listener bus is package-private to Spark.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}

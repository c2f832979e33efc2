package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `body`'s result and the number of Spark jobs it started on the calling
  * thread: it runs under a job group of its own, and the listener bus
  * (package-private to Spark) is drained before the count is read.
  */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val n     = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count")
    val result =
      try body
      finally {
        sc.clearJobGroup()
        sc.listenerBus.waitUntilEmpty(60000L)
        sc.removeSparkListener(l)
      }
    (result, n.get)
  }
}

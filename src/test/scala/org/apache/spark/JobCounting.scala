package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block submits, for tests that pin job counts.
  *
  * Jobs are attributed through a local property set on the calling
  * thread, which Spark hands on to every job the block causes (broadcast
  * and subquery threads capture it), so jobs of other threads never
  * count. The listener bus is drained once the block returns — it lives
  * in this package because `listenerBus` is Spark-private — so the count
  * is exact without sleeping or polling. */
object JobCounting {
  private val Key = "graft.test.jobCount"

  def countJobs[A](sc: SparkContext)(body: => A): (A, Int) = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, jobs.get)
    } finally {
      sc.setLocalProperty(Key, outer)
      sc.removeSparkListener(listener)
    }
  }
}

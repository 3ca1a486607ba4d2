package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Records the Spark jobs a block submits: the one job-counting path for
  * `graft.Inspect` and the specs that pin job counts.
  *
  * Jobs are attributed through a local property set on the calling
  * thread, which Spark hands on to every job the block causes (broadcast
  * and subquery threads capture it), so jobs of other threads never
  * count. The listener bus is drained once the block returns — it lives
  * in this package because `listenerBus` is Spark-private — so the
  * record is exact without sleeping or polling, and every listener on
  * the shared queue (a session's QueryExecutionListeners included) has
  * seen the block's events too. */
object JobCounting {
  private val Key = "graft.jobCount"

  /** One job the block submitted. `seconds` is NaN for a job that had not
    * ended when the block returned; `description` is the job
    * description if one was set, else its stages' call sites. */
  final case class Job(id: Int, seconds: Double, description: String)

  def countJobs[A](sc: SparkContext)(body: => A): (A, Int) = {
    val (a, jobs) = recordJobs(sc)(body)
    (a, jobs.size)
  }

  def recordJobs[A](sc: SparkContext)(body: => A): (A, Seq[Job]) = {
    val tag = java.util.UUID.randomUUID().toString
    val starts = new ConcurrentHashMap[Int, (Long, String)]
    val ends = new ConcurrentHashMap[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag)
          starts.put(e.jobId, (e.time, describe(e)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (starts.containsKey(e.jobId)) ends.put(e.jobId, e.time)
    }
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      val jobs = starts.asScala.toSeq.sortBy(_._1).map { case (id, (t0, desc)) =>
        val secs =
          if (ends.containsKey(id)) (ends.get(id) - t0) / 1000.0 else Double.NaN
        Job(id, secs, desc)
      }
      (a, jobs)
    } finally {
      sc.setLocalProperty(Key, outer)
      sc.removeSparkListener(listener)
    }
  }

  private def describe(e: SparkListenerJobStart): String = {
    val sites = e.stageInfos.map(_.name.takeWhile(_ != '<'))
      .filterNot(_.contains("CompletableFuture")).distinct
    Option(e.properties.getProperty(SparkContext.SPARK_JOB_DESCRIPTION))
      .getOrElse(if (sites.nonEmpty) sites.mkString(" | ") else "?")
  }
}

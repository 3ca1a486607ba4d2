package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Records the Spark jobs a block submits: the one job-counting path for
  * `graft.Inspect` and the specs that pin job counts. [[described]] is
  * the one way an operator names the jobs of its phases.
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
    * ended when the block returned. `description` is the job description
    * if one was set; else the call site of the SQL execution the job ran
    * under (AQE query-stage jobs have no call site of their own); else
    * its stages' call sites. */
  final case class Job(id: Int, seconds: Double, description: String)

  def countJobs[A](sc: SparkContext)(body: => A): (A, Int) = {
    val (a, jobs) = recordJobs(sc)(body)
    (a, jobs.size)
  }

  /** Runs `body` with `description` as the job description of every job
    * it submits, then restores the caller's description — or its
    * absence — so an operator phase never names a later caller's jobs. */
  def described[A](sc: SparkContext, description: String)(body: => A): A = {
    val outer = sc.getLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION)
    sc.setJobDescription(description)
    try body
    finally sc.setLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION, outer)
  }

  def recordJobs[A](sc: SparkContext)(body: => A): (A, Seq[Job]) = {
    val tag = java.util.UUID.randomUUID().toString
    val starts = new ConcurrentHashMap[Int, (Long, String)]
    val ends = new ConcurrentHashMap[Int, Long]
    // execution id -> its description, which is the call site of the
    // action unless a job description was set; execution starts reach
    // the listener before the jobs of the execution
    val executions = new ConcurrentHashMap[String, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          executions.put(x.executionId.toString, x.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag)
          starts.put(e.jobId, (e.time, describe(e, executions)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (starts.containsKey(e.jobId)) ends.put(e.jobId, e.time)
    }
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val a = body
      drain(sc)
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

  /** Waits until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private def describe(e: SparkListenerJobStart,
                       executions: ConcurrentHashMap[String, String]): String = {
    val sites = e.stageInfos.map(_.name.takeWhile(_ != '<'))
      .filterNot(_.contains("CompletableFuture")).distinct
    Option(e.properties.getProperty(SparkContext.SPARK_JOB_DESCRIPTION))
      .orElse(Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
        .flatMap(id => Option(executions.get(id))))
      .getOrElse(if (sites.nonEmpty) sites.mkString(" | ") else "?")
  }
}

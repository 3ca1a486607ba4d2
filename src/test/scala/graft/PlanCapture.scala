package graft

import scala.jdk.CollectionConverters._

/** Captures the physical-plan description of EVERY SQL execution
  * started while `body` runs. The incremental-probe operators snapshot
  * (eager `localCheckpoint`) their warehouse-scanning stages — the r15
  * fix for noop-tracker persists aliasing post-compaction reads — so
  * partition-pruning evidence now lives in the checkpoint job's plan,
  * not the final collect's `queryExecution`. Listener delivery is
  * async: after `body` returns the listener bus is drained
  * ([[org.apache.spark.JobCounting.drain]]), so every execution `body`
  * started has been captured. */
object PlanCapture {
  def plansDuring(spark: org.apache.spark.sql.SparkSession)
                 (body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            plans.add(e.physicalPlanDescription)
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.JobCounting.drain(spark.sparkContext)
      plans.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Does any captured plan line carry a `PartitionFilters` entry
    * naming `col`? (One line per scan in the description format.) */
  def prunedOn(plans: Seq[String], col: String): Boolean =
    plans.exists(_.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains(col)))
}

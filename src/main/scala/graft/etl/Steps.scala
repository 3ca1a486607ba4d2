package graft.etl

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import java.util.concurrent.{CompletionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

/** Runs independent Spark steps at the same time. Two callers use it:
  * the ETL, for the steps of one medallion layer, and a multi-table
  * warehouse commit ([[Warehouse.commit]]), for the data files of each
  * table of a dedup index group.
  *
  * At warehouse sizes where a step is a handful of small Spark jobs, its
  * wall time goes to per-job fixed cost (planning, scheduling, the write
  * commit) rather than to tasks; steps that share no table pay those
  * costs side by side instead of one after another.
  *
  * Steps run on one fixed-size pool of daemon threads that lives as long
  * as the JVM: no batch creates or shuts down threads. Each step runs
  * with a copy of the caller's Spark local properties and active session
  * (`SQLExecution.withThreadLocalCaptured`, the path broadcast exchanges
  * take), so job descriptions, job-counting tags and any other
  * thread-local job labels reach every job the step submits.
  */
object Steps {
  /** The widest layer: six bronze loads, six silver steps. */
  private val Width = 6

  private val pool = Executors.newFixedThreadPool(Width, new ThreadFactory {
    private val n = new AtomicInteger(0)
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-etl-step-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Run `steps` concurrently and wait for every one of them. A failing
    * step does not cancel its siblings; once all have ended, the first
    * failure in step order is thrown with the others attached as
    * suppressed. Steps must not call back into this method: a step
    * waiting on steps queued behind it on the fixed pool could wait
    * forever. */
  def inParallel(spark: SparkSession)(steps: (() => Unit)*): Unit = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val running = steps.map(s => SQLExecution.withThreadLocalCaptured(session, pool)(s()))
    val failures = running.flatMap { f =>
      try { f.join(); None }
      catch { case e: CompletionException => Some(Option(e.getCause).getOrElse(e)) }
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }
}

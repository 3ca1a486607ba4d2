package graft
import org.apache.spark.JobCounting
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Where a declared entry's time and plans go — the evidence files of
  * the optimization rounds (plans/r15/..., plans/r16/...). Usage:
  *   runMain graft.Inspect <names,csv> [sfDir] [outDir] [tag]
  *
  * Each entry runs once (construction + count) on Bench's session shape
  * ([[Sessions.build]] on [[Bench.defaultCpus]]). It writes
  * `<outDir>/<name>_<tag>.txt`: the formatted plan of the returned frame,
  * then the formatted plan of every SQL execution the run submitted. The
  * second half is what an EAGER entry (one that collects its result and
  * returns a LocalTableScan, e.g. d_dedup_recall_eval) needs, since its
  * returned frame's plan shows none of the executed pipeline (r15
  * ADVICE). It prints each job of 50 ms or more with its description or
  * call site — the local-mode stand-in for the UI's Jobs page — and
  * `TOTAL <name> <s> rows=<n> jobs=<n>`.
  *
  * Timing a subset is Bench's job (`SPARK_GRAFT_BENCH_FILTER`: two
  * passes, minimum taken); a pushdown/broadcast audit is a line filter
  * over the plan files written here.
  */
object Inspect {
  /** What one entry's run did, and where its plans went. */
  final case class Report(seconds: Double, rows: Long,
                          jobs: Seq[JobCounting.Job], planFile: String)

  private def formatted(qe: QueryExecution): String =
    qe.explainString(ExplainMode.fromString("formatted"))

  def inspect(spark: SparkSession, name: String, sfDir: String,
              outDir: String, tag: String): Report = {
    val executed =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        executed.add((funcName, formatted(qe)))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // a job description the caller left on this thread would name this
    // entry's jobs
    spark.sparkContext.setJobDescription(null)
    try {
      // recordJobs drains the listener bus, so `executed` is complete
      val ((df, rows, seconds), jobs) =
        JobCounting.recordJobs(spark.sparkContext) {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, sfDir)
          val rows = df.count()
          (df, rows, (System.nanoTime() - t0) / 1e9)
        }
      val txt = new StringBuilder(formatted(df.queryExecution))
      executed.asScala.zipWithIndex.foreach { case ((fn, plan), i) =>
        txt ++= s"\n\n===== executed[${i + 1}] ($fn) =====\n" ++= plan
      }
      Files.createDirectories(Paths.get(outDir))
      val planFile = s"$outDir/${name}_$tag.txt"
      Files.writeString(Paths.get(planFile), txt.result())
      Report(seconds, rows, jobs, planFile)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.catalog.clearCache()
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(2).getOrElse("plans/inspect")
    val tag = args.lift(3).getOrElse("before")
    val spark = Sessions.build(Bench.defaultCpus)
    names.foreach { n =>
      println(s"===== $n =====")
      val r = inspect(spark, n, sfDir, outDir, tag)
      r.jobs.filter(_.seconds >= 0.05).foreach { j =>
        println(f"JOB ${j.id}%4d ${j.seconds}%7.2f s  ${j.description}")
      }
      println(f"TOTAL $n ${r.seconds}%.2f s rows=${r.rows} jobs=${r.jobs.size}")
      println(s"wrote ${r.planFile}")
    }
    spark.stop()
  }
}

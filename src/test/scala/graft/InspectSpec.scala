package graft

import org.apache.spark.JobCounting
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** `Inspect`'s per-entry run on one cheap entry: the plan file holds the
  * returned frame's plan followed by every executed plan, and the job
  * count it reports is the one `JobCounting` sees for the same work. */
class InspectSpec extends AnyFunSuite {
  lazy val spark = graft.etl.TestSessions.spark
  private val sf = "/root/testdata/sf0.001"
  private val entry = "q02_date_range"

  /** Expression and exchange ids differ between two plannings of the
    * same query. */
  private def stripIds(plan: String) =
    plan.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")

  test("writes the returned plan and every executed plan, and counts the jobs it ran") {
    val dir = org.apache.spark.ScratchDirs.create("graft_inspect").toString
    // a label an earlier operator left on this thread must not name the
    // entry's jobs
    spark.sparkContext.setJobDescription("stale label")
    val r = Inspect.inspect(spark, entry, sf, dir, "spec")
    assert(r.planFile == s"$dir/${entry}_spec.txt")
    val txt = Files.readString(Paths.get(r.planFile))

    val returned = SparkEntry.queries(entry)(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(stripIds(txt).startsWith(stripIds(returned)))
    assert(txt.contains("===== executed[1] (count) ====="), txt)

    val (rows, jobs) = JobCounting.countJobs(spark.sparkContext)(
      SparkEntry.queries(entry)(spark, sf).count())
    assert(r.rows == rows)
    assert(r.jobs.size == jobs)
    assert(jobs > 0)

    // the count runs as AQE query-stage jobs, whose stages carry only
    // CompletableFuture call sites: they are named by the call site of
    // their SQL execution instead of printing `?`
    assert(!r.jobs.exists(_.description == "?"), r.jobs)
    assert(r.jobs.exists(_.description.startsWith("count at Inspect.scala")), r.jobs)
  }
}

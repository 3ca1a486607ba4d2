package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.JobCounting
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class AuditWatermarkSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private def freshWh() =
    Warehouse(org.apache.spark.ScratchDirs.create("graft_awm").toString)

  test("watermark: default before first advance, max-wins after appends") {
    val wm = Watermark(freshWh())
    assert(wm.read(spark, "t1") === wm.default)
    wm.advance(spark, "t1", Timestamp.valueOf("2025-01-10 00:00:00"))
    wm.advance(spark, "t1", Timestamp.valueOf("2025-02-10 00:00:00"))
    wm.advance(spark, "t2", Timestamp.valueOf("2025-03-10 00:00:00"))
    // per-table isolation + max over appended history
    assert(wm.read(spark, "t1") === Timestamp.valueOf("2025-02-10 00:00:00"))
    assert(wm.read(spark, "t2") === Timestamp.valueOf("2025-03-10 00:00:00"))
  }

  test("watermark: next = max(event) - 1 day buffer; None on empty delta") {
    val wm = Watermark(freshWh())
    val delta = Seq(
      ("a", Timestamp.valueOf("2025-06-15 12:00:00")),
      ("b", Timestamp.valueOf("2025-06-20 08:00:00"))).toDF("k", "ts")
    assert(wm.nextWatermark(delta, "ts")
      === Some(Timestamp.valueOf("2025-06-19 08:00:00")))
    assert(wm.nextWatermark(delta.filter(lit(false)), "ts") === None)
  }

  test("audit: batch ids increment; timed() records success and failure") {
    val wh = freshWh()
    val audit = Audit(wh)
    assert(audit.nextBatchId(spark) === 1L)
    audit.timed(spark, 1L, "bronze", "ok_table") { 42L }
    intercept[RuntimeException] {
      audit.timed(spark, 1L, "bronze", "bad_table") {
        throw new RuntimeException("boom"); 0L
      }
    }
    assert(audit.nextBatchId(spark) === 2L)
    val log = wh.read(spark, "audit", "etl_log")
    val ok = log.filter(col("table_name") === "ok_table").head()
    assert(ok.getAs[String]("status") === "Success")
    assert(ok.getAs[Long]("rows_loaded") === 42L)
    val bad = log.filter(col("table_name") === "bad_table").head()
    assert(bad.getAs[String]("status") === "Failed")
    assert(bad.getAs[String]("error_message") === "boom")
  }

  test("audit: DQ check logs only when violations exist") {
    val wh = freshWh()
    val audit = Audit(wh)
    val clean = Seq((1, "x")).toDF("id", "v").filter(lit(false))
    assert(audit.check(spark, 1L, "t", "none", clean, "d") === 0L)
    assert(!wh.exists("audit", "data_quality_issues"))
    val dirty = Seq((1, "x"), (2, "y")).toDF("id", "v")
    assert(audit.check(spark, 1L, "t", "some", dirty, "d") === 2L)
    assert(wh.read(spark, "audit", "data_quality_issues")
      .filter(col("check_name") === "some").head().getAs[Long]("n_bad_rows") === 2L)
  }

  test("audit rows, DQ issues and watermarks are appended without a Spark job") {
    val wh = freshWh()
    val (audit, wm) = (Audit(wh), Watermark(wh))
    def jobs(body: => Unit): Int = JobCounting.countJobs(spark.sparkContext)(body)._2
    val t = Timestamp.valueOf("2025-04-01 00:00:00")
    // the first round creates each table, the second appends to it
    for (i <- 1 to 2) {
      assert(jobs(audit.log(spark, EtlLogEntry(i, "bronze", "t", t, t, 5L, "Success", ""))) === 0)
      assert(jobs(audit.logIssue(spark, DqIssue(i, "t", "dup_keys", 2L, "d", t))) === 0)
      assert(jobs(wm.advance(spark, "t", t)) === 0)
    }
    assert(wh.read(spark, "audit", "etl_log").count() === 2L)
    assert(wh.read(spark, "audit", "data_quality_issues").count() === 2L)
    assert(wm.read(spark, "t") === t)
  }

  test("audit: N threads logging at once onto a fresh warehouse leave N rows") {
    val n = 8
    // fresh warehouses: the first writes race to create the table
    (1 to 3).foreach { round =>
      val wh = freshWh()
      val audit = Audit(wh)
      val start = new java.util.concurrent.CyclicBarrier(n)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to n).map { i =>
        new Thread(() =>
          try {
            start.await()
            val t = new Timestamp(System.currentTimeMillis())
            audit.log(spark, EtlLogEntry(1L, "bronze", s"t$i", t, t, i, "Success", ""))
          } catch { case e: Throwable => errors.add(e) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errors.isEmpty, s"round $round: $errors")
      val tables = wh.read(spark, "audit", "etl_log").select("table_name")
        .as[String].collect().sorted.toSeq
      assert(tables === (1 to n).map(i => s"t$i").sorted, s"round $round")
    }
  }
}

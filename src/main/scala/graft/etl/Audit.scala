package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Per-table ETL audit log row (audit.etl_log, ddl_audit.sql:26-35). */
final case class EtlLogEntry(
    batch_id: Long, layer: String, table_name: String,
    start_time: Timestamp, end_time: Timestamp,
    rows_loaded: Long, status: String, error_message: String)

/** Data-quality issue row (audit.data_quality_issues, ddl_audit.sql:45-55). */
final case class DqIssue(
    batch_id: Long, table_name: String, check_name: String,
    n_bad_rows: Long, detail: String, check_time: Timestamp)

/** Metadata-driven load config row (audit.etl_config, ddl_audit.sql:65-72). */
final case class EtlConfig(
    source_table: String, target_table: String, is_active: Boolean)

/** A frame a load step writes, with a row counter that the writing action
  * fills in: the step's `rows_loaded` is observed at write time instead of
  * read back from the table with a second `count()` job. `metrics` are
  * further named counts observed the same way (a DQ check over the rows
  * written). Write [[frame]] exactly once; [[rows]] and [[apply]] wait
  * for that write's metrics. */
final class Counted(df: DataFrame, metrics: (String, Column)*) {
  private val obs = Observation()
  val frame: DataFrame = df.observe(obs, count(lit(1)).as("rows"),
    metrics.map { case (name, c) => c.as(name) }: _*)
  def rows: Long = apply("rows")
  def apply(metric: String): Long = obs.get(metric).asInstanceOf[Long]
}

/** Audit logging + in-pipeline DQ validation (SURVEY.md §2.9 I8-I9).
  *
  * DQ checks LOG rather than fail (matching the reference's design): each
  * is an aggregate + comparison appended to `audit/data_quality_issues`.
  * Hard failures (missing config) THROW, matching init_load_all.sql:43-47.
  *
  * Each `etl_log` and `data_quality_issues` row is its own durable
  * append, one committed version per row. The row is already on the
  * driver, so [[Warehouse]] encodes it there: an append submits no Spark
  * job, and costs the Parquet encode plus the manifest rewrite. What
  * still runs jobs here is reading: [[nextBatchId]] scans every `etl_log`
  * file, and [[check]] counts its violations frame.
  */
final case class Audit(wh: Warehouse) {

  def nextBatchId(spark: SparkSession): Long =
    if (!wh.exists("audit", "etl_log")) 1L
    else {
      val r = wh.read(spark, "audit", "etl_log").agg(max("batch_id")).collect().head
      if (r.isNullAt(0)) 1L else r.getLong(0) + 1L
    }

  def log(spark: SparkSession, e: EtlLogEntry): Unit = {
    import spark.implicits._
    appendRow(Seq(e).toDF(), "etl_log")
  }

  def logIssue(spark: SparkSession, i: DqIssue): Unit = {
    import spark.implicits._
    appendRow(Seq(i).toDF(), "data_quality_issues")
  }

  /** Append to an audit table, creating it on the first write. The steps
    * of a layer log at the same time; each append commits its own version
    * ([[Warehouse.append]]), so concurrent first writers and appenders
    * all keep their rows. */
  private def appendRow(df: DataFrame, table: String): Unit =
    wh.append(df, "audit", table)

  /** Run a counting DQ check; log an issue row iff violations exist.
    * Returns the violation count so loaders can also surface it. */
  def check(spark: SparkSession, batchId: Long, tableName: String,
            checkName: String, violations: DataFrame, detail: String): Long =
    checkCount(spark, batchId, tableName, checkName, violations.count(), detail)

  /** [[check]] for a violation count the caller already has (observed on
    * the frame a step wrote, or taken in one aggregate with other counts). */
  def checkCount(spark: SparkSession, batchId: Long, tableName: String,
                 checkName: String, violations: Long, detail: String): Long = {
    if (violations > 0)
      logIssue(spark, DqIssue(batchId, tableName, checkName, violations, detail,
        new Timestamp(System.currentTimeMillis())))
    violations
  }

  /** Wrap a table load with timing + success/failure audit rows
    * (TRY/CATCH pattern, proc_load_bronze.sql:150-160). */
  def timed(spark: SparkSession, batchId: Long, layer: String, table: String)
           (body: => Long): Long = {
    val start = new Timestamp(System.currentTimeMillis())
    try {
      val rows = body
      log(spark, EtlLogEntry(batchId, layer, table, start,
        new Timestamp(System.currentTimeMillis()), rows, "Success", ""))
      rows
    } catch {
      case e: Throwable =>
        log(spark, EtlLogEntry(batchId, layer, table, start,
          new Timestamp(System.currentTimeMillis()), -1L, "Failed",
          Option(e.getMessage).getOrElse(e.getClass.getName)))
        throw e
    }
  }
}

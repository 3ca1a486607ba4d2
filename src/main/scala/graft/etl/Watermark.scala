package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Watermark-based incremental loading (SURVEY.md §2.9 I1-I3): per-table
  * `last_load` thresholds in a small control table, a delta filter that
  * Catalyst pushes into the Parquet scan, and an advance rule with the
  * reference's 1-day late-data safety buffer
  * (proc_load_silver.sql:51-53,119-122,248-251).
  *
  * The control table stays tiny (one row per managed table), so reads are
  * driver-cheap; the delta filter is where the scale win lives — at 100 TB
  * it prunes year partitions and row groups before any shuffle.
  */
final case class Watermark(wh: Warehouse) {

  private val layer = "audit"
  private val table = "watermarks"
  val default: Timestamp = Timestamp.valueOf("1900-01-01 00:00:00")

  def read(spark: SparkSession, tableName: String): Timestamp =
    if (!wh.exists(layer, table)) default
    else {
      val rows = wh.read(spark, layer, table)
        .filter(col("table_name") === tableName)
        .agg(max("last_load").as("wm"))
        .collect()
      Option(rows.head.getTimestamp(0)).getOrElse(default)
    }

  /** I2 — delta predicate `event_col > watermark` (pushed to the scan). */
  def deltaFilter(df: DataFrame, eventCol: String, wm: Timestamp): DataFrame =
    df.filter(col(eventCol) > lit(wm))

  /** I3 — next watermark: `max(event_col) − 1 day` so late rows within the
    * buffer are re-read next load rather than lost. Returns None on an
    * empty delta (watermark must not move backwards). */
  def nextWatermark(delta: DataFrame, eventCol: String): Option[Timestamp] = {
    val row = delta.agg(max(col(eventCol).cast("timestamp"))).collect().head
    Option(row.getTimestamp(0)).map(buffered)
  }

  /** The watermark after a load whose newest event is `newest`: one day
    * behind it (the late-data buffer). */
  def buffered(newest: Timestamp): Timestamp =
    Timestamp.from(newest.toInstant.minus(java.time.Duration.ofDays(1)))

  def advance(spark: SparkSession, tableName: String, wm: Timestamp): Unit = {
    import spark.implicits._
    val row = Seq((tableName, wm)).toDF("table_name", "last_load")
    wh.append(row, layer, table)
  }
}

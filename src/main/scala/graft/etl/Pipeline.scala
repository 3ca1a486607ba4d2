package graft.etl

import org.apache.spark.sql.SparkSession
import java.sql.Timestamp

final case class PipelineConf(
    sourceDir: String,
    warehouseRoot: String,
    etlConfig: Seq[EtlConfig] = Seq(EtlConfig("bronze.erp_px_cat_g1v2",
      "silver.erp_px_cat_g1v2", is_active = true)))

/** Master ETL orchestration — the Spark analog of `EXEC init.load_all`
  * (init_load_all.sql:24-111): batch id → config hard-stop validation →
  * bronze → silver → gold → finalize, with per-layer audit rows and
  * failure capture.
  *
  * The layers run one after another, but inside a layer the steps that
  * share no table run at the same time ([[Steps.inParallel]]): the bronze
  * CSV loads; the six silver steps (customers, products, sales and the
  * three ERP copies); `dim_customers` with `dim_products`, then
  * `fact_sales` once both are done.
  *
  * Failure: a layer waits for all of its steps. Each step writes its own
  * Success or Failed `etl_log` row; if any failed, no later layer starts,
  * the `MASTER_PIPELINE` row is Failed, and [[runAll]] throws the first
  * failing step's error (in step order), with the others attached as
  * suppressed.
  *
  * A finished batch vacuums the warehouse ([[Warehouse.vacuum]]): table
  * versions the batch superseded stay readable for the retention period,
  * and a later batch reclaims them.
  */
object Pipeline {

  def runAll(spark: SparkSession, conf: PipelineConf): Long = {
    val wh = Warehouse(conf.warehouseRoot)
    val audit = Audit(wh)
    val batchId = audit.nextBatchId(spark)
    val loadTs = new Timestamp(System.currentTimeMillis())
    // Hard stop on empty config (init_load_all.sql:43-47, THROW 50001)
    require(conf.etlConfig.exists(_.is_active),
      "etl_config has no active rows — aborting batch")
    audit.timed(spark, batchId, "init", "MASTER_PIPELINE") {
      BronzeLoader(wh, audit).run(spark, conf.sourceDir, batchId)
      SilverLoader(wh, audit).run(spark, batchId, loadTs)
      val factRows = GoldLoader(wh, audit).run(spark, batchId)
      Reports.registerViews(spark, wh)
      factRows
    }
    wh.vacuum()
    batchId
  }
}

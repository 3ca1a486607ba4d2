package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}
import java.sql.Timestamp

/** Bronze: CSV extracts → declared-schema Parquet tables
  * (proc_load_bronze.sql — truncate-and-load per source, audit per table).
  */
final case class BronzeLoader(wh: Warehouse, audit: Audit) {

  /** Load every source CSV found under `sourceDir`, all at once: each
    * source truncates and loads its own table. */
  def run(spark: SparkSession, sourceDir: String, batchId: Long): Unit =
    Steps.inParallel(spark)(Schemas.bronzeSources.collect {
      case (file, table, schema) if new java.io.File(s"$sourceDir/$file").exists() =>
        () => load(spark, s"$sourceDir/$file", batchId, table, schema)
    }: _*)

  /** Load one source CSV (header row skipped via `header=true`,
    * comma-delimited — the BULK INSERT contract). */
  def load(spark: SparkSession, path: String, batchId: Long, table: String,
           schema: StructType): Unit =
    audit.timed(spark, batchId, "bronze", table) {
      val out = new Counted(spark.read.schema(schema)
        .option("header", "true").option("mode", "PERMISSIVE")
        .csv(path))
      wh.overwrite(out.frame, "bronze", table)
      out.rows
    }
}

/** Silver: cleaning + dedup + hash change detection + SCD1/SCD2 + the
  * watermarked fact delta (proc_load_silver.sql).
  */
final case class SilverLoader(wh: Warehouse, audit: Audit) {
  import Cleaning._

  private val custTracked = Seq("cst_key", "cst_firstname", "cst_lastname",
    "cst_marital_status", "cst_gndr", "cst_create_date")
  private val prdTracked = Seq("cat_id", "prd_key", "prd_nm", "prd_cost",
    "prd_line", "prd_start_dt", "prd_end_dt")

  /** The six silver steps, all at once: each reads its own bronze table
    * and writes its own silver table. */
  def run(spark: SparkSession, batchId: Long, loadTs: Timestamp): Unit =
    Steps.inParallel(spark)(
      () => customers(spark, batchId, loadTs),
      () => products(spark, batchId, loadTs),
      () => sales(spark, batchId, loadTs),
      () => erpCustomers(spark, batchId),
      () => erpLocations(spark, batchId),
      () => erpCategories(spark, batchId))

  /** SCD1 customers: filter null keys → keep-latest dedup → standardize →
    * hash → merge (proc_load_silver.sql:48-137). */
  def customers(spark: SparkSession, batchId: Long, loadTs: Timestamp): Unit =
    audit.timed(spark, batchId, "silver", "crm_cust_info") {
      val src0 = wh.read(spark, "bronze", "crm_cust_info")
        .filter(col("cst_id").isNotNull)
      val deduped = Scd.keepLatest(src0, Seq("cst_id"),
        Seq(col("cst_create_date"), col("cst_key")))
      val cleaned = deduped.select(
        col("cst_id"), col("cst_key"),
        trim(col("cst_firstname")).as("cst_firstname"),
        trim(col("cst_lastname")).as("cst_lastname"),
        maritalStatus(col("cst_marital_status")).as("cst_marital_status"),
        gender(col("cst_gndr")).as("cst_gndr"),
        col("cst_create_date"))
      val hashed = Scd.withHash(cleaned, custTracked)
      val merged = new Counted(
        if (!wh.exists("silver", "crm_cust_info"))
          hashed.withColumn("dwh_create_date", lit(loadTs))
            .withColumn("dwh_update_date", lit(loadTs))
        else Scd.scd1Merge(wh.read(spark, "silver", "crm_cust_info"), hashed,
          Seq("cst_id"), "dwh_hash_full", loadTs))
      wh.overwrite(merged.frame, "silver", "crm_cust_info")
      // I9: post-merge duplicate-key check (quality_checks_silver.sql:25-30)
      val dups = wh.read(spark, "silver", "crm_cust_info")
        .groupBy("cst_id").count().filter(col("count") > 1)
      audit.check(spark, batchId, "crm_cust_info", "duplicate_pk", dups,
        "cst_id must be unique after merge")
      merged.rows
    }

  /** SCD2 products: split compound key, parse dd-MM-yyyy dates, cost/line
    * rules → hash → expire+insert (proc_load_silver.sql:141-213). */
  def products(spark: SparkSession, batchId: Long, loadTs: Timestamp): Unit =
    audit.timed(spark, batchId, "silver", "crm_prd_info") {
      val src = wh.read(spark, "bronze", "crm_prd_info")
        .filter(col("prd_id").isNotNull)
      val latest = Scd.keepLatest(src, Seq("prd_id"),
        Seq(parseDmyDate(col("prd_start_dt")), col("prd_key")))
      val cleaned = latest.select(
        col("prd_id"),
        catId(col("prd_key")).as("cat_id"),
        productNumber(col("prd_key")).as("prd_key"),
        col("prd_nm"),
        coalesce(col("prd_cost"), lit(0)).as("prd_cost"),
        productLine(col("prd_line")).as("prd_line"),
        parseDmyDate(col("prd_start_dt")).as("prd_start_dt"),
        parseDmyDate(col("prd_end_dt")).as("prd_end_dt"))
      val hashed = Scd.withHash(cleaned, prdTracked)
      val applied = new Counted(
        if (!wh.exists("silver", "crm_prd_info")) Scd.scd2Init(hashed, loadTs)
        else Scd.scd2Apply(wh.read(spark, "silver", "crm_prd_info"), hashed,
          Seq("prd_id"), "dwh_hash_full", loadTs))
      wh.overwrite(applied.frame, "silver", "crm_prd_info")
      val multiCurrent = wh.read(spark, "silver", "crm_prd_info")
        .filter(col("is_current")).groupBy("prd_id").count()
        .filter(col("count") > 1)
      audit.check(spark, batchId, "crm_prd_info", "multiple_current_rows",
        multiCurrent, "exactly one is_current per prd_id")
      applied.rows
    }

  /** Watermarked fact delta: yyyyMMdd int dates → DATE, sales-fix rule,
    * append-only past the watermark, advance with the 1-day buffer,
    * revenue reconciliation DQ (proc_load_silver.sql:217-272). */
  def sales(spark: SparkSession, batchId: Long, loadTs: Timestamp): Unit =
    audit.timed(spark, batchId, "silver", "crm_sales_details") {
      val wmCtl = Watermark(wh)
      val wm = wmCtl.read(spark, "crm_sales_details")
      val src = wh.read(spark, "bronze", "crm_sales_details")
      val cleaned = src.select(
        col("sls_ord_num"), col("sls_prd_key"), col("sls_cust_id"),
        intDate(col("sls_order_dt")).as("sls_order_dt"),
        intDate(col("sls_ship_dt")).as("sls_ship_dt"),
        intDate(col("sls_due_dt")).as("sls_due_dt"),
        fixedSales(col("sls_sales"), col("sls_quantity"), col("sls_price")).as("sls_sales"),
        col("sls_quantity"),
        fixedPrice(col("sls_sales"), col("sls_quantity"), col("sls_price")).as("sls_price"))
      val inDelta = col("sls_order_dt") > lit(new java.sql.Date(wm.getTime))
      // One aggregate over the extract gives the DQ count, the delta's
      // size and its newest order date.
      val stats = cleaned.agg(count_if(col("sls_order_dt").isNull),
        count_if(inDelta), max(when(inDelta, col("sls_order_dt"))).cast("timestamp")).head()
      // I9: rows whose order date cleaned to NULL can never pass a
      // watermark filter — count them out loud instead of dropping
      // silently (the reference's int-compare filter drops them too).
      audit.checkCount(spark, batchId, "crm_sales_details", "unparseable_order_date",
        stats.getLong(0), "sls_order_dt null/garbage — row excluded from delta loads")
      val n = stats.getLong(1)
      if (n > 0) {
        val delta = cleaned.filter(inDelta)
        if (!wh.exists("silver", "crm_sales_details"))
          wh.overwrite(delta, "silver", "crm_sales_details")
        else {
          // The 1-day late-data buffer re-reads the tail window on every
          // run; make the append idempotent by anti-joining rows already
          // landed (natural line grain: order number + product key).
          val existing = wh.read(spark, "silver", "crm_sales_details")
            .select("sls_ord_num", "sls_prd_key")
          wh.append(delta.join(existing,
            Seq("sls_ord_num", "sls_prd_key"), "left_anti"),
            "silver", "crm_sales_details")
        }
        Option(stats.getTimestamp(2)).map(wmCtl.buffered)
          .foreach(wmCtl.advance(spark, "crm_sales_details", _))
        // I9: revenue reconciliation — sales must equal qty × |price|
        val bad = wh.read(spark, "silver", "crm_sales_details")
          .filter(col("sls_sales") =!=
            (col("sls_quantity").cast(DecimalType(19, 4)) * abs(col("sls_price")))
              .cast(DecimalType(19, 4)))
        audit.check(spark, batchId, "crm_sales_details", "revenue_reconciliation",
          bad, "sls_sales = sls_quantity * abs(sls_price)")
      }
      n
    }

  // ERP tables: metadata-driven copy + the documented-but-unimplemented
  // cleanings the analytics need (SURVEY.md §4 quirk 2): NAS prefix strip,
  // country standardization. Each step skips a table bronze doesn't have.

  def erpCustomers(spark: SparkSession, batchId: Long): Unit =
    if (wh.exists("bronze", "erp_cust_az12"))
      audit.timed(spark, batchId, "silver", "erp_cust_az12") {
        val out = new Counted(wh.read(spark, "bronze", "erp_cust_az12").select(
          stripNasPrefix(col("cid")).as("cid"),
          when(col("bdate") > current_date(), lit(null)).otherwise(col("bdate")).as("bdate"),
          gender(col("gen")).as("gen")))
        wh.overwrite(out.frame, "silver", "erp_cust_az12")
        out.rows
      }

  def erpLocations(spark: SparkSession, batchId: Long): Unit =
    if (wh.exists("bronze", "erp_loc_a101"))
      audit.timed(spark, batchId, "silver", "erp_loc_a101") {
        val out = new Counted(wh.read(spark, "bronze", "erp_loc_a101").select(
          regexp_replace(col("cid"), "-", "").as("cid"),
          country(col("cntry")).as("cntry")))
        wh.overwrite(out.frame, "silver", "erp_loc_a101")
        out.rows
      }

  def erpCategories(spark: SparkSession, batchId: Long): Unit =
    if (wh.exists("bronze", "erp_px_cat_g1v2"))
      audit.timed(spark, batchId, "silver", "erp_px_cat_g1v2") {
        MetadataDriven.copy(spark, wh, "bronze", "erp_px_cat_g1v2",
          "silver", "erp_px_cat_g1v2")
      }
}

/** Metadata-driven full loads (proc_load_metadata_driven.sql:26-118): a
  * config-table loop that copies source → target over the intersected
  * column list — dynamic SQL in the reference, a plain Scala loop over a
  * config Dataset here.
  */
object MetadataDriven {

  /** Copy one table; returns the number of rows written. */
  def copy(spark: SparkSession, wh: Warehouse, srcLayer: String, srcTable: String,
           tgtLayer: String, tgtTable: String): Long = {
    val src = wh.read(spark, srcLayer, srcTable)
    val cols: Seq[String] =
      if (wh.exists(tgtLayer, tgtTable))
        src.columns.toSeq.intersect(wh.read(spark, tgtLayer, tgtTable).columns.toSeq)
      else src.columns.toSeq
    require(cols.nonEmpty, s"no intersecting columns for $srcTable → $tgtTable")
    val out = new Counted(src.select(cols.map(col): _*))
    wh.overwrite(out.frame, tgtLayer, tgtTable)
    out.rows
  }

  /** Run every active config row; throw on empty config (the reference's
    * hard stop, proc_load_metadata_driven.sql:59-61). */
  def runAll(spark: SparkSession, wh: Warehouse, config: Seq[EtlConfig]): Unit = {
    val active = config.filter(_.is_active)
    require(active.nonEmpty, "etl_config has no active rows — hard stop (THROW 50001)")
    active.foreach { c =>
      val Array(sl, st) = c.source_table.split("\\.", 2)
      val Array(tl, tt) = c.target_table.split("\\.", 2)
      copy(spark, wh, sl, st, tl, tt)
    }
  }
}

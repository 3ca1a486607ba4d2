package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gold: the star schema — dim_customers, dim_products, fact_sales
  * (proc_load_gold.sql), with surrogate keys, −1 unknown members, and the
  * *intended* fact→dim join keys (SURVEY.md §4 quirk 1: the reference's
  * SUBSTRING mangling of already-short sales keys is a bug; the documented
  * star join is `sls_prd_key = prd_key`).
  *
  * Scale design: dims are small → broadcast at fact-join time; the fact is
  * written partitioned by order year (the reference's range partitioning,
  * ddl_gold.sql:78-103) so year predicates prune files.
  */
final case class GoldLoader(wh: Warehouse, audit: Audit) {

  /** Load the two dimensions at once, then the fact that looks both up;
    * returns the fact's row count. */
  def run(spark: SparkSession, batchId: Long): Long = {
    Steps.inParallel(spark)(
      () => dimCustomers(spark, batchId),
      () => dimProducts(spark, batchId))
    factSales(spark, batchId)
  }

  /** Unknown member: surrogate −1 with n/a attributes, preserved across
    * rebuilds (proc_load_gold.sql:38-43). */
  private def unknownCustomer(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((-1L, -1, "n/a", "n/a", "n/a", "n/a", "n/a", "n/a",
         null.asInstanceOf[java.sql.Date], null.asInstanceOf[java.sql.Date]))
      .toDF("customer_key", "customer_id", "customer_number", "first_name",
            "last_name", "marital_status", "gender", "country",
            "birth_date", "create_date")
  }

  /** 3-way enrichment join (CRM ⟕ ERP demographics ⟕ ERP location,
    * proc_load_gold.sql:47-69), CRM gender wins over ERP when known. */
  def dimCustomers(spark: SparkSession, batchId: Long): Unit =
    audit.timed(spark, batchId, "gold", "dim_customers") {
      val ci = wh.read(spark, "silver", "crm_cust_info")
      val ca =
        if (wh.exists("silver", "erp_cust_az12"))
          wh.read(spark, "silver", "erp_cust_az12")
        else spark.emptyDataFrame.select(lit(null).cast("string").as("cid"),
          lit(null).cast("date").as("bdate"), lit(null).cast("string").as("gen"))
      val la =
        if (wh.exists("silver", "erp_loc_a101"))
          wh.read(spark, "silver", "erp_loc_a101")
        else spark.emptyDataFrame.select(lit(null).cast("string").as("cid"),
          lit(null).cast("string").as("cntry"))
      val joined = ci
        .join(ca.withColumnRenamed("cid", "ca_cid"),
          col("cst_key") === col("ca_cid"), "left")
        .join(la.withColumnRenamed("cid", "la_cid"),
          col("cst_key") === col("la_cid"), "left")
        .select(
          col("cst_id").as("customer_id"),
          col("cst_key").as("customer_number"),
          col("cst_firstname").as("first_name"),
          col("cst_lastname").as("last_name"),
          col("cst_marital_status").as("marital_status"),
          when(col("cst_gndr") =!= "n/a", col("cst_gndr"))
            .otherwise(coalesce(col("gen"), lit("n/a"))).as("gender"),
          coalesce(col("cntry"), lit("n/a")).as("country"),
          col("bdate").as("birth_date"),
          col("cst_create_date").as("create_date"))
      val keyed = SurrogateKeys.scalable(joined, "customer_key",
        Seq(col("customer_id")))
        .select(unknownCustomer(spark).columns.map(col): _*)
      val out = new Counted(keyed.unionByName(unknownCustomer(spark)))
      wh.overwrite(out.frame, "gold", "dim_customers")
      val dups = wh.read(spark, "gold", "dim_customers")
        .groupBy("customer_key").count().filter(col("count") > 1)
      audit.check(spark, batchId, "dim_customers", "surrogate_uniqueness",
        dups, "customer_key must be unique")
      out.rows
    }

  private def unknownProduct(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((-1L, -1, "n/a", "n/a", "n/a", "n/a", "n/a", "n/a", 0,
         null.asInstanceOf[java.sql.Date]))
      .toDF("product_key", "product_id", "product_number", "product_name",
            "category_id", "category", "subcategory", "product_line", "cost",
            "start_date")
  }

  /** Current-only SCD2 slice + category lookup (proc_load_gold.sql:95-122). */
  def dimProducts(spark: SparkSession, batchId: Long): Unit =
    audit.timed(spark, batchId, "gold", "dim_products") {
      val pr = wh.read(spark, "silver", "crm_prd_info").filter(col("is_current"))
      val cat =
        if (wh.exists("silver", "erp_px_cat_g1v2"))
          wh.read(spark, "silver", "erp_px_cat_g1v2")
        else spark.emptyDataFrame.select(lit(null).cast("string").as("id"),
          lit(null).cast("string").as("cat"), lit(null).cast("string").as("subcat"),
          lit(null).cast("string").as("maintenance"))
      val joined = pr
        .join(broadcast(cat), col("cat_id") === col("id"), "left")
        .select(
          col("prd_id").as("product_id"),
          col("prd_key").as("product_number"),
          col("prd_nm").as("product_name"),
          col("cat_id").as("category_id"),
          coalesce(col("cat"), lit("n/a")).as("category"),
          coalesce(col("subcat"), lit("n/a")).as("subcategory"),
          col("prd_line").as("product_line"),
          col("prd_cost").as("cost"),
          col("prd_start_dt").as("start_date"))
      val keyed = SurrogateKeys.scalable(joined, "product_key",
        Seq(col("product_id")))
        .select(unknownProduct(spark).columns.map(col): _*)
      val out = new Counted(keyed.unionByName(unknownProduct(spark)))
      wh.overwrite(out.frame, "gold", "dim_products")
      out.rows
    }

  /** Fact build: dim-key lookups with −1 fallback, year-partitioned write
    * (proc_load_gold.sql:133-179 + ddl_gold.sql partitioning). Dims are
    * broadcast — the fact side never shuffles. */
  def factSales(spark: SparkSession, batchId: Long): Long =
    audit.timed(spark, batchId, "gold", "fact_sales") {
      val sd = wh.read(spark, "silver", "crm_sales_details")
      // Current versions of distinct products can still share a
      // product_number (the source keeps date-ranged versions under fresh
      // prd_ids) — a raw lookup join would fan the fact out. Keep the
      // latest version per product_number for key resolution.
      val dp = Scd.keepLatest(
          wh.read(spark, "gold", "dim_products")
            .select(col("product_key"), col("product_number"), col("start_date")),
          Seq("product_number"), Seq(col("start_date"), col("product_key")))
        .select(col("product_key"), col("product_number"))
      val dc = wh.read(spark, "gold", "dim_customers")
        .select(col("customer_key"), col("customer_id"))
      // I9: referential integrity — the −1 fallbacks are counted as the
      // fact is written, and logged, not fatal
      val fact = new Counted(sd
        .join(broadcast(dp), col("sls_prd_key") === col("product_number"), "left")
        .join(broadcast(dc), col("sls_cust_id") === col("customer_id"), "left")
        .select(
          col("sls_ord_num").as("order_number"),
          coalesce(col("product_key"), lit(-1L)).as("product_key"),
          coalesce(col("customer_key"), lit(-1L)).as("customer_key"),
          col("sls_order_dt").as("order_date"),
          col("sls_ship_dt").as("ship_date"),
          col("sls_due_dt").as("due_date"),
          col("sls_sales").as("sales_amount"),
          col("sls_quantity").as("quantity"),
          col("sls_price").as("price"),
          coalesce(year(col("sls_order_dt")), lit(0)).as("order_year")),
        "orphans" -> count_if(col("product_key") === -1L || col("customer_key") === -1L))
      wh.overwritePartitioned(fact.frame, "gold", "fact_sales", Seq("order_year"))
      audit.checkCount(spark, batchId, "fact_sales", "unknown_member_fallbacks",
        fact("orphans"), "fact rows resolved to the -1 unknown member")
      fact.rows
    }
}

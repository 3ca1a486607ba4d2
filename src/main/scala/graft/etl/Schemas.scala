package graft.etl

import org.apache.spark.sql.types._

/** Declared schemas for every medallion and audit table (SURVEY.md
  * §1.3-1.4).
  *
  * The pipeline never infers schemas: bronze CSVs load into these exact
  * StructTypes, and [[Warehouse]] refuses to commit a write of a table
  * listed in [[declared]] whose columns differ from its declaration, so
  * the schema every read plans from (its manifest's) is the declared
  * one. They mirror the reference
  * DDL (`scripts/bronze/ddl_bronze.sql`, `ddl_silver.sql`, `ddl_gold.sql`,
  * `ddl_audit.sql`). MONEY columns are DecimalType(19,4) so revenue
  * reconciliation is exact; raw-quirk columns (yyyyMMdd INT dates,
  * dd-MM-yyyy product-date strings) keep their dirty types in bronze and
  * are cleaned in silver.
  *
  * Every field is nullable: Spark reads Parquet columns as nullable
  * whatever the writer declared, so these are exactly the schemas an
  * inferring read would return (PipelineSpec pins that). A loader that
  * changes an output column must change its declaration here too.
  */
object Schemas {

  // ----- bronze (raw contracts; ddl_bronze.sql:16-89) -----

  val crmCustInfo: StructType = StructType(Seq(
    StructField("cst_id", IntegerType),
    StructField("cst_key", StringType),
    StructField("cst_firstname", StringType),
    StructField("cst_lastname", StringType),
    StructField("cst_marital_status", StringType),
    StructField("cst_gndr", StringType),
    StructField("cst_create_date", DateType)))

  /** prd dates arrive as dd-MM-yyyy strings (FIXTURES.md A2) — kept raw in
    * bronze, parsed in silver (Cleaning.parseDmyDate). */
  val crmPrdInfo: StructType = StructType(Seq(
    StructField("prd_id", IntegerType),
    StructField("prd_key", StringType),
    StructField("prd_nm", StringType),
    StructField("prd_cost", IntegerType),
    StructField("prd_line", StringType),
    StructField("prd_start_dt", StringType),
    StructField("prd_end_dt", StringType)))

  /** sales dates are yyyyMMdd INTs, incl. 0 / garbage (ddl_bronze.sql:50-52). */
  val crmSalesDetails: StructType = StructType(Seq(
    StructField("sls_ord_num", StringType),
    StructField("sls_prd_key", StringType),
    StructField("sls_cust_id", IntegerType),
    StructField("sls_order_dt", IntegerType),
    StructField("sls_ship_dt", IntegerType),
    StructField("sls_due_dt", IntegerType),
    StructField("sls_sales", DecimalType(19, 4)),
    StructField("sls_quantity", IntegerType),
    StructField("sls_price", DecimalType(19, 4))))

  val erpLocA101: StructType = StructType(Seq(
    StructField("cid", StringType),
    StructField("cntry", StringType)))

  val erpCustAz12: StructType = StructType(Seq(
    StructField("cid", StringType),
    StructField("bdate", DateType),
    StructField("gen", StringType)))

  val erpPxCatG1v2: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("cat", StringType),
    StructField("subcat", StringType),
    StructField("maintenance", StringType)))

  /** source file name → (bronze table name, schema) — drives BronzeLoader. */
  val bronzeSources: Seq[(String, String, StructType)] = Seq(
    ("cust_info.csv", "crm_cust_info", crmCustInfo),
    ("prd_info.csv", "crm_prd_info", crmPrdInfo),
    ("sales_details.csv", "crm_sales_details", crmSalesDetails),
    ("LOC_A101.csv", "erp_loc_a101", erpLocA101),
    ("CUST_AZ12.csv", "erp_cust_az12", erpCustAz12),
    ("PX_CAT_G1V2.csv", "erp_px_cat_g1v2", erpPxCatG1v2))

  // ----- silver (cleaned + SCD; ddl_silver.sql, proc_load_silver.sql) -----

  /** SCD1 customers: the bronze columns, cleaned in place, + change hash
    * + audit stamps. */
  val silverCrmCustInfo: StructType = crmCustInfo
    .add("dwh_hash_full", StringType)
    .add("dwh_create_date", TimestampType)
    .add("dwh_update_date", TimestampType)

  /** SCD2 products: split key, parsed dates, change hash + validity. */
  val silverCrmPrdInfo: StructType = StructType(Seq(
    StructField("prd_id", IntegerType),
    StructField("cat_id", StringType),
    StructField("prd_key", StringType),
    StructField("prd_nm", StringType),
    StructField("prd_cost", IntegerType),
    StructField("prd_line", StringType),
    StructField("prd_start_dt", DateType),
    StructField("prd_end_dt", DateType),
    StructField("dwh_hash_full", StringType),
    StructField("effective_date", TimestampType),
    StructField("expiry_date", TimestampType),
    StructField("is_current", BooleanType)))

  /** Watermarked sales: int dates parsed, sales/price fixed. */
  val silverCrmSalesDetails: StructType = StructType(Seq(
    StructField("sls_ord_num", StringType),
    StructField("sls_prd_key", StringType),
    StructField("sls_cust_id", IntegerType),
    StructField("sls_order_dt", DateType),
    StructField("sls_ship_dt", DateType),
    StructField("sls_due_dt", DateType),
    StructField("sls_sales", DecimalType(19, 4)),
    StructField("sls_quantity", IntegerType),
    StructField("sls_price", DecimalType(19, 4))))

  // ----- gold (star schema; ddl_gold.sql, proc_load_gold.sql) -----

  val dimCustomers: StructType = StructType(Seq(
    StructField("customer_key", LongType),
    StructField("customer_id", IntegerType),
    StructField("customer_number", StringType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("marital_status", StringType),
    StructField("gender", StringType),
    StructField("country", StringType),
    StructField("birth_date", DateType),
    StructField("create_date", DateType)))

  val dimProducts: StructType = StructType(Seq(
    StructField("product_key", LongType),
    StructField("product_id", IntegerType),
    StructField("product_number", StringType),
    StructField("product_name", StringType),
    StructField("category_id", StringType),
    StructField("category", StringType),
    StructField("subcategory", StringType),
    StructField("product_line", StringType),
    StructField("cost", IntegerType),
    StructField("start_date", DateType)))

  /** `order_year` is the partition column: Parquet tables list partition
    * columns after the data columns, so it comes last. */
  val factSales: StructType = StructType(Seq(
    StructField("order_number", StringType),
    StructField("product_key", LongType),
    StructField("customer_key", LongType),
    StructField("order_date", DateType),
    StructField("ship_date", DateType),
    StructField("due_date", DateType),
    StructField("sales_amount", DecimalType(19, 4)),
    StructField("quantity", IntegerType),
    StructField("price", DecimalType(19, 4)),
    StructField("order_year", IntegerType)))

  // ----- audit (ddl_audit.sql; rows written by Audit and Watermark) -----

  val etlLog: StructType = StructType(Seq(
    StructField("batch_id", LongType),
    StructField("layer", StringType),
    StructField("table_name", StringType),
    StructField("start_time", TimestampType),
    StructField("end_time", TimestampType),
    StructField("rows_loaded", LongType),
    StructField("status", StringType),
    StructField("error_message", StringType)))

  val dataQualityIssues: StructType = StructType(Seq(
    StructField("batch_id", LongType),
    StructField("table_name", StringType),
    StructField("check_name", StringType),
    StructField("n_bad_rows", LongType),
    StructField("detail", StringType),
    StructField("check_time", TimestampType)))

  val watermarks: StructType = StructType(Seq(
    StructField("table_name", StringType),
    StructField("last_load", TimestampType)))

  /** (layer, table) → declared schema. Silver ERP tables keep their bronze
    * shape. Tables not listed here (text-ops indexes, streaming sinks,
    * ledger scratch tables) are read with Parquet schema inference. */
  val declared: Map[(String, String), StructType] =
    bronzeSources.map { case (_, table, schema) => ("bronze", table) -> schema }.toMap ++
    Map(
      ("silver", "crm_cust_info") -> silverCrmCustInfo,
      ("silver", "crm_prd_info") -> silverCrmPrdInfo,
      ("silver", "crm_sales_details") -> silverCrmSalesDetails,
      ("silver", "erp_cust_az12") -> erpCustAz12,
      ("silver", "erp_loc_a101") -> erpLocA101,
      ("silver", "erp_px_cat_g1v2") -> erpPxCatG1v2,
      ("gold", "dim_customers") -> dimCustomers,
      ("gold", "dim_products") -> dimProducts,
      ("gold", "fact_sales") -> factSales,
      ("audit", "etl_log") -> etlLog,
      ("audit", "data_quality_issues") -> dataQualityIssues,
      ("audit", "watermarks") -> watermarks)
}

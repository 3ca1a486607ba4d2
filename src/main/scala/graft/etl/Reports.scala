package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The two gold report views (12_report_customers.sql, 13_report_products
  * .sql) as DataFrame builders, registered as temp views so SQL entry works
  * too (S9). Same three-stage shape as the reference: base join → grain
  * aggregate → final projection with segments and guarded ratios.
  */
object Reports {

  /** gold.report_customers (12_report_customers.sql:31-106). */
  def reportCustomers(spark: SparkSession, wh: Warehouse): DataFrame = {
    val f = wh.read(spark, "gold", "fact_sales")
    val dc = wh.read(spark, "gold", "dim_customers")
    val base = f.join(dc, Seq("customer_key"))
      .filter(col("order_date").isNotNull)
    val agg = base.groupBy(
        col("customer_key"), col("customer_number"),
        concat_ws(" ", col("first_name"), col("last_name")).as("customer_name"),
        col("country"))
      .agg(
        countDistinct(col("order_number")).as("total_orders"),
        sum(col("sales_amount")).as("total_sales"),
        sum(col("quantity").cast("long")).as("total_quantity"),
        countDistinct(col("product_key")).as("total_products"),
        max(col("order_date")).as("last_order_date"),
        min(col("order_date")).as("first_order_date"))
    val now = base.agg(max(col("order_date")).as("now_d"))
    agg.crossJoin(now).select(
      col("customer_key"), col("customer_number"), col("customer_name"),
      col("country"), col("total_orders"),
      col("total_sales").cast("double").as("total_sales"),
      col("total_quantity"), col("total_products"), col("last_order_date"),
      Cleaning.datediffMonthBoundary(col("last_order_date"), col("now_d"))
        .cast("long").as("recency_months"),
      Cleaning.datediffMonthBoundary(col("first_order_date"), col("last_order_date"))
        .cast("long").as("lifespan_months"),
      (col("total_sales").cast("double") / col("total_orders")).as("avg_order_value"),
      when(col("total_sales") > 5000, "VIP")
        .when(col("total_orders") >= 2, "Regular")
        .otherwise("New").as("customer_segment"))
  }

  /** gold.report_products (13_report_products.sql:30-113). */
  def reportProducts(spark: SparkSession, wh: Warehouse): DataFrame = {
    val f = wh.read(spark, "gold", "fact_sales")
    val dp = wh.read(spark, "gold", "dim_products")
    val base = f.join(dp, Seq("product_key"))
      .filter(col("order_date").isNotNull)
    base.groupBy(col("product_key"), col("product_number"), col("product_name"),
        col("category"), col("subcategory"), col("cost"))
      .agg(
        countDistinct(col("order_number")).as("total_orders"),
        sum(col("sales_amount")).as("total_sales_d"),
        sum(col("quantity").cast("long")).as("total_quantity"),
        countDistinct(col("customer_key")).as("total_customers"),
        max(col("order_date")).as("last_sale_date"),
        min(col("order_date")).as("first_sale_date"))
      .select(
        col("product_key"), col("product_number"), col("product_name"),
        col("category"), col("subcategory"), col("cost"),
        col("total_orders"),
        col("total_sales_d").cast("double").as("total_sales"),
        col("total_quantity"), col("total_customers"), col("last_sale_date"),
        Cleaning.datediffMonthBoundary(col("first_sale_date"), col("last_sale_date"))
          .cast("long").as("lifespan_months"),
        (col("total_sales_d").cast("double")
          / nullif(col("total_quantity").cast("double"), lit(0.0))).as("avg_selling_price"),
        when(col("total_sales_d") > 50000, "High Performer")
          .when(col("total_sales_d") >= 10000, "Mid Range")
          .otherwise("Low Performer").as("product_segment"))
  }

  def registerViews(spark: SparkSession, wh: Warehouse): Unit = {
    reportCustomers(spark, wh).createOrReplaceTempView("report_customers")
    reportProducts(spark, wh).createOrReplaceTempView("report_products")
  }
}

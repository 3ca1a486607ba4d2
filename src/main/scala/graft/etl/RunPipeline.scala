package graft.etl

/** CLI entry — the `EXEC init.load_all` analog: run the full medallion
  * pipeline over a directory of source CSVs into a warehouse root.
  *
  *   runMain graft.etl.RunPipeline <sourceDir> <warehouseRoot>
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(sourceDir, whRoot) = args.take(2)
    val spark = graft.Sessions.build(graft.Sessions.cpus(4))
    val batch = Pipeline.runAll(spark, PipelineConf(sourceDir, whRoot))
    val wh = Warehouse(whRoot)
    println(s"[pipeline] batch $batch complete")
    Seq("bronze" -> "crm_sales_details", "silver" -> "crm_cust_info",
        "silver" -> "crm_prd_info", "silver" -> "crm_sales_details",
        "gold" -> "dim_customers", "gold" -> "dim_products",
        "gold" -> "fact_sales").foreach { case (l, t) =>
      println(s"[pipeline] $l/$t rows=${wh.read(spark, l, t).count()}")
    }
    val log = wh.read(spark, "audit", "etl_log")
    println(s"[pipeline] audit rows=${log.count()} failed=${log.filter(org.apache.spark.sql.functions.col("status") === "Failed").count()}")
    spark.stop()
  }
}

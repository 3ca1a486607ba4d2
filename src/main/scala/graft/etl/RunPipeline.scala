package graft.etl

import org.apache.spark.sql.functions.col

/** CLI entry — the `EXEC init.load_all` analog: run the full medallion
  * pipeline over a directory of source CSVs into a warehouse root, then
  * print the batch's `etl_log` rows (one read, one job): each step's
  * layer, table, rows loaded and status, and how many steps failed.
  *
  *   runMain graft.etl.RunPipeline <sourceDir> <warehouseRoot>
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val Array(sourceDir, whRoot) = args.take(2)
    val spark = graft.Sessions.build(graft.Sessions.cpus(4))
    val batch = Pipeline.runAll(spark, PipelineConf(sourceDir, whRoot))
    println(s"[pipeline] batch $batch complete")
    val log = Warehouse(whRoot).read(spark, "audit", "etl_log")
      .filter(col("batch_id") === batch)
      .select("layer", "table_name", "rows_loaded", "status")
      .collect()
    log.foreach(r => println(
      s"[pipeline] ${r.getString(0)}/${r.getString(1)} rows=${r.getLong(2)} ${r.getString(3)}"))
    println(s"[pipeline] audit rows=${log.length} " +
      s"failed=${log.count(_.getString(3) == "Failed")}")
    spark.stop()
  }
}

package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.JobCounting
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end medallion pipeline over the dirty fixtures, asserting the
  * reference's quality checks (tests/quality_checks_silver.sql,
  * quality_checks_gold.sql) plus incremental re-run semantics
  * (SCD1 update, SCD2 versioning, watermark delta).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark

  /** Spark jobs of the incremental `Pipeline.runAll` over [[Fixtures]]
    * (`writeDelta` after `write`) in the test session: 73 with declared
    * schemas and observed row counts, 147 with footer inference on every
    * read and a `count()` read-back per step. */
  private val IncrementalBatchJobs = 73

  private def freshRun(): Warehouse = {
    val src = Files.createTempDirectory("graft_src")
    val whRoot = Files.createTempDirectory("graft_wh").toString
    Fixtures.write(src)
    Pipeline.runAll(spark, PipelineConf(src.toString, whRoot))
    Warehouse(whRoot)
  }

  lazy val wh: Warehouse = freshRun()

  test("silver customers: no null/dup keys, trimmed names, standardized codes") {
    val c = wh.read(spark, "silver", "crm_cust_info")
    assert(c.filter(col("cst_id").isNull).count() === 0)
    assert(c.groupBy("cst_id").count().filter(col("count") > 1).count() === 0)
    // quality_checks_silver.sql:34-37 — no unwanted spaces
    assert(c.filter(col("cst_firstname") =!= trim(col("cst_firstname"))).count() === 0)
    // dedup kept the later version of id 5
    assert(c.filter(col("cst_id") === 5).select("cst_firstname")
      .head().getString(0) === "Elisabeth")
    // standardization domains (quality_checks_silver.sql:40-42)
    val ms = c.select("cst_marital_status").distinct().collect().map(_.getString(0)).toSet
    assert(ms.subsetOf(Set("Married", "Single", "n/a")))
    val g = c.select("cst_gndr").distinct().collect().map(_.getString(0)).toSet
    assert(g.subsetOf(Set("Male", "Female", "n/a")))
  }

  test("silver products: key split, cost rule, line mapping, SCD2 init") {
    val p = wh.read(spark, "silver", "crm_prd_info")
    // compound key split (proc_load_silver.sql:174-175)
    val r210 = p.filter(col("prd_id") === 210).head()
    assert(r210.getAs[String]("cat_id") === "CO_RF")
    assert(r210.getAs[String]("prd_key") === "FR-R92B-58")
    // cost NULL → 0, never negative (quality_checks_silver.sql:65-68)
    assert(p.filter(col("prd_cost").isNull || col("prd_cost") < 0).count() === 0)
    val lines = p.select("prd_line").distinct().collect().map(_.getString(0)).toSet
    assert(lines.subsetOf(Set("Mountain", "Road", "Other Sales", "Touring", "n/a")))
    assert(p.filter(!col("is_current")).count() === 0) // first load: all current
  }

  test("silver sales: date parsing and the sales-fix rule") {
    val sd = wh.read(spark, "silver", "crm_sales_details")
    // yyyyMMdd 0 / 7-digit → NULL (proc_load_silver.sql:234-236)
    assert(sd.filter(col("sls_ord_num").isin("SO43701", "SO43702"))
      .filter(col("sls_order_dt").isNotNull).count() === 0)
    // business invariant sales = qty × |price| (quality_checks_silver.sql:105-117)
    val bad = sd.filter(col("sls_order_dt").isNotNull).filter(
      col("sls_sales") =!= col("sls_quantity") * abs(col("sls_price")))
    assert(bad.count() === 0)
    // SO43699: 0 sales recomputed to 2 × 4.99
    assert(sd.filter(col("sls_ord_num") === "SO43699")
      .head().getDecimal(6).doubleValue() === 9.98)
    // SO43703: negative price → derived sales/qty keeps 2294.99
    assert(sd.filter(col("sls_ord_num") === "SO43703")
      .head().getDecimal(8).doubleValue() === 2294.99)
  }

  test("silver erp: NAS strip, country standardization") {
    val ca = wh.read(spark, "silver", "erp_cust_az12")
    assert(ca.filter(col("cid").startsWith("NAS")).count() === 0)
    // future birthdate nulled
    assert(ca.filter(col("bdate") > current_date()).count() === 0)
    val la = wh.read(spark, "silver", "erp_loc_a101")
    val countries = la.select("cntry").distinct().collect().map(_.getString(0)).toSet
    assert(countries === Set("United States", "Germany", "n/a"))
    assert(la.filter(col("cid").contains("-")).count() === 0)
  }

  test("gold: surrogate uniqueness, unknown members, star connectivity") {
    val dc = wh.read(spark, "gold", "dim_customers")
    val dp = wh.read(spark, "gold", "dim_products")
    val f = wh.read(spark, "gold", "fact_sales")
    // quality_checks_gold.sql:22-39
    assert(dc.groupBy("customer_key").count().filter(col("count") > 1).count() === 0)
    assert(dp.groupBy("product_key").count().filter(col("count") > 1).count() === 0)
    assert(dc.filter(col("customer_key") === -1L).count() === 1)
    assert(dp.filter(col("product_key") === -1L).count() === 1)
    // enrichment joined through NAS-stripped ids: customer 1 has birth_date
    assert(dc.filter(col("customer_id") === 1).head()
      .getAs[java.sql.Date]("birth_date") != null)
    assert(dc.filter(col("customer_id") === 1).head()
      .getAs[String]("country") === "United States")
    // intended star join resolves all clean fact rows (SURVEY §4 quirk 1)
    assert(f.filter(col("order_date").isNotNull)
      .filter(col("product_key") === -1L).count() === 0)
    // fact ↔ dim connectivity (quality_checks_gold.sql:45-51)
    val joined = f.join(dp, Seq("product_key"), "left")
      .filter(col("product_number").isNull)
    assert(joined.count() === 0)
  }

  test("incremental re-run: SCD1 update, SCD2 version, watermark delta") {
    val src2 = Files.createTempDirectory("graft_src2")
    Fixtures.writeDelta(src2)
    val batch2 = Pipeline.runAll(spark, PipelineConf(src2.toString, wh.root))
    assert(batch2 >= 2)

    // SCD1: customer 2 updated in place, create_date preserved
    val c = wh.read(spark, "silver", "crm_cust_info")
    assert(c.count() === 7) // 6 + 1 new
    val c2 = c.filter(col("cst_id") === 2).head()
    assert(c2.getAs[String]("cst_marital_status") === "Married")
    assert(c2.getAs[java.sql.Timestamp]("dwh_create_date")
      .before(c2.getAs[java.sql.Timestamp]("dwh_update_date")))
    // untouched row keeps original update stamp
    val c3 = c.filter(col("cst_id") === 3).head()
    assert(c3.getAs[java.sql.Timestamp]("dwh_create_date")
      === c3.getAs[java.sql.Timestamp]("dwh_update_date"))

    // SCD2: product 211 has two versions, exactly one current
    val p = wh.read(spark, "silver", "crm_prd_info")
    val v211 = p.filter(col("prd_id") === 211)
    assert(v211.count() === 2)
    assert(v211.filter(col("is_current")).count() === 1)
    val cur211 = v211.filter(col("is_current")).head()
    assert(cur211.getAs[Int]("prd_cost") === 1300)
    val old211 = v211.filter(!col("is_current")).head()
    assert(old211.getAs[java.sql.Timestamp]("expiry_date") != null)
    // unchanged product: still exactly one (current) version
    assert(p.filter(col("prd_id") === 212).count() === 1)

    // watermark: the pre-watermark duplicate was NOT re-ingested
    val sd = wh.read(spark, "silver", "crm_sales_details")
    assert(sd.filter(col("sls_ord_num") === "SO43697").count() === 1)
    assert(sd.filter(col("sls_ord_num").isin("SO43720", "SO43721")).count() === 2)
    // the 1-day buffer re-reads the tail window — the idempotent append
    // must not duplicate rows that already landed in batch 1
    assert(sd.groupBy("sls_ord_num", "sls_prd_key").count()
      .filter(col("count") > 1).count() === 0)

    // gold rebuilt: new customer key resolves, current cost visible
    val dp = wh.read(spark, "gold", "dim_products")
    assert(dp.filter(col("product_number") === "FR-R92R-58")
      .head().getAs[Int]("cost") === 1300)

    // audit has rows for both batches, all successful
    val log = wh.read(spark, "audit", "etl_log")
    assert(log.filter(col("status") === "Failed").count() === 0)
    assert(log.select("batch_id").distinct().count() >= 2)

    // full re-run on UNCHANGED sources is a no-op for every table (the
    // 1-day watermark buffer re-reads the tail window; the idempotent
    // append must not duplicate it)
    val before = (c.count(), p.count(), sd.count())
    Pipeline.runAll(spark, PipelineConf(src2.toString, wh.root))
    assert(wh.read(spark, "silver", "crm_cust_info").count() === before._1)
    assert(wh.read(spark, "silver", "crm_prd_info").count() === before._2)
    assert(wh.read(spark, "silver", "crm_sales_details").count() === before._3)
  }

  /** What one batch of [[twoBatches]] left behind, captured right after it
    * ran (the next batch overwrites bronze). */
  private final case class BatchRecord(
      batchId: Long,
      jobs: Int,
      schemaDrift: Seq[String],
      rowsLoaded: Seq[((String, String), Long, Long)]) // (layer, table), logged, actual

  /** Every declared table whose declared schema differs — in names, order,
    * types or nullability — from the schema Parquet infers from its files. */
  private def schemaDrift(w: Warehouse): Seq[String] =
    Schemas.declared.toSeq.sortBy(_._1).flatMap { case ((layer, table), _) =>
      if (!w.exists(layer, table)) Seq(s"$layer.$table: not written")
      else {
        val declared = w.read(spark, layer, table).schema
        val onDisk = spark.read.parquet(w.path(layer, table)).schema
        if (declared == onDisk) Nil
        else Seq(s"$layer.$table: declared ${declared.simpleString}, " +
          s"written ${onDisk.simpleString}")
      }
    }

  /** The `rows_loaded` of each Success row of `batchId`, beside the row
    * count of the table it names: the watermarked delta for silver sales,
    * `fact_sales` for the master row. */
  private def rowsLoaded(w: Warehouse, batchId: Long,
                         salesDelta: Long): Seq[((String, String), Long, Long)] =
    w.read(spark, "audit", "etl_log")
      .filter(col("batch_id") === batchId && col("status") === "Success")
      .select("layer", "table_name", "rows_loaded").collect().toSeq
      .map { r =>
        val (layer, table) = (r.getString(0), r.getString(1))
        val actual = (layer, table) match {
          case ("silver", "crm_sales_details") => salesDelta
          case ("init", "MASTER_PIPELINE") => w.read(spark, "gold", "fact_sales").count()
          case _ => w.read(spark, layer, table).count()
        }
        ((layer, table), r.getLong(2), actual)
      }

  private lazy val wh2 = Warehouse(Files.createTempDirectory("graft_wh2").toString)

  /** [[wh2]] loaded twice — the initial fixtures, then the incremental
    * delta — recording each batch's jobs, schema drift and logged row
    * counts. */
  private lazy val twoBatches: Seq[BatchRecord] =
    Seq(Fixtures.write _, Fixtures.writeDelta _).map { fixture =>
      val src = Files.createTempDirectory("graft_src")
      fixture(src)
      val wm = Watermark(wh2).read(spark, "crm_sales_details")
      val (batchId, jobs) = JobCounting.countJobs(spark.sparkContext) {
        Pipeline.runAll(spark, PipelineConf(src.toString, wh2.root))
      }
      val salesDelta = wh2.read(spark, "bronze", "crm_sales_details")
        .filter(Cleaning.intDate(col("sls_order_dt")) > lit(new java.sql.Date(wm.getTime)))
        .count()
      BatchRecord(batchId, jobs, schemaDrift(wh2), rowsLoaded(wh2, batchId, salesDelta))
    }

  test("declared schemas equal the written ones after initial and incremental loads") {
    twoBatches.foreach { b =>
      assert(b.schemaDrift.isEmpty, s"batch ${b.batchId}: ${b.schemaDrift.mkString("; ")}")
    }
  }

  test("rows_loaded of every Success step equals the row count of its table") {
    twoBatches.foreach { b =>
      // 6 bronze + 6 silver + 3 gold steps + the master row
      assert(b.rowsLoaded.size === 16, s"batch ${b.batchId}")
      b.rowsLoaded.foreach { case (t, logged, actual) =>
        assert(logged === actual, s"batch ${b.batchId} $t")
      }
    }
  }

  test("job counts: declared reads plan without jobs; the incremental batch is pinned") {
    val incremental = twoBatches(1)
    Schemas.declared.keys.foreach { case (layer, table) =>
      val (_, jobs) = JobCounting.countJobs(spark.sparkContext)(wh2.read(spark, layer, table))
      assert(jobs === 0, s"$layer.$table")
    }
    // the counter does count: an undeclared table infers its schema with a job
    import spark.implicits._
    wh2.overwrite(Seq(1, 2).toDF("x"), "scratch", "undeclared")
    assert(JobCounting.countJobs(spark.sparkContext)(
      wh2.read(spark, "scratch", "undeclared"))._2 === 1)
    // the pinned count of the second, incremental batch over the fixtures
    assert(incremental.jobs <= IncrementalBatchJobs, s"jobs: ${twoBatches.map(_.jobs)}")
  }

  test("reports build over gold") {
    Reports.registerViews(spark, wh)
    val rc = spark.table("report_customers")
    assert(rc.count() > 0)
    assert(rc.columns.contains("recency_months"))
    val rp = spark.table("report_products")
    assert(rp.count() > 0)
    // AOV guard: no infinities/divide-by-zero artifacts
    assert(rc.filter(col("avg_order_value").isNull).count() === 0)
  }

  test("full ported quality-check suite reports zero violations") {
    val results = QualityChecks.runAll(spark, wh)
    val bad = results.filter(_._2 > 0)
    assert(bad.isEmpty, s"violations: $bad")
  }

  test("compaction rewrites to the target file count without changing data") {
    val before = wh.read(spark, "silver", "crm_sales_details").collect().toSet
    wh.compact(spark, "silver", "crm_sales_details", targetFiles = 1)
    val files = new java.io.File(wh.path("silver", "crm_sales_details"))
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files === 1)
    assert(wh.read(spark, "silver", "crm_sales_details").collect().toSet === before)
  }

  test("clustered compaction preserves data and sorts within files") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val before = wh.read(spark, "silver", "crm_cust_info").collect().toSet
    wh.compactClustered(spark, "silver", "crm_cust_info",
      targetFiles = 3, clusterCols = Seq("cst_id"))
    val after = wh.read(spark, "silver", "crm_cust_info")
    assert(after.collect().toSet === before)
    // rows must be non-decreasing in cluster key within each file —
    // the property that gives parquet row-group min/max skipping teeth
    val perFile = after.select(input_file_name().as("f"), col("cst_id"))
      .collect().groupBy(_.getString(0))
      .map { case (_, rows) => rows.map(_.getAs[Number]("cst_id").longValue).toSeq }
    assert(perFile.nonEmpty)
    perFile.foreach(ks => assert(ks === ks.sorted, "file not sorted by cluster key"))
  }

  test("inferred members: unknown fact keys materialize, then resolve") {
    import spark.implicits._
    val dim = Seq((1L, "Alice", "AUTO"), (2L, "Bob", "HOME"))
      .toDF("c_custkey", "c_name", "c_mktsegment")
    val facts = Seq((101L, 1L), (102L, 3L), (103L, 3L), (104L, 4L))
      .toDF("o_orderkey", "o_custkey")
    val inferred = Scd.inferMembers(dim, facts, "c_custkey", "o_custkey",
      defaults = Map("c_name" -> lit("(inferred)")))
    val rows = inferred.orderBy("c_custkey")
      .as[(Long, String, String, Boolean)].collect().toSeq
    assert(rows === Seq(
      (1L, "Alice", "AUTO", false), (2L, "Bob", "HOME", false),
      (3L, "(inferred)", null, true), (4L, "(inferred)", null, true)))
    // a fact join against the inferred dim drops nothing
    assert(facts.join(inferred,
      facts("o_custkey") === inferred("c_custkey"), "left")
      .filter(col("c_custkey").isNull).count() === 0)
    // the next real dim load resolves placeholders through the SCD1 merge
    val tracked = Seq("c_name", "c_mktsegment")
    val t0 = new java.sql.Timestamp(1000000L)
    val t1 = new java.sql.Timestamp(2000000L)
    val target = Scd.withHash(inferred.drop("is_inferred"), tracked)
      .withColumn("dwh_create_date", lit(t0))
      .withColumn("dwh_update_date", lit(t0))
    val lateDim = Scd.withHash(
      Seq((3L, "Carol", "SHIP"), (4L, "Dave", "AUTO"))
        .toDF("c_custkey", "c_name", "c_mktsegment"), tracked)
    val merged = Scd.scd1Merge(target, lateDim, Seq("c_custkey"),
      "dwh_hash_full", t1)
    val resolved = merged.filter(col("c_custkey") === 3).head()
    assert(resolved.getAs[String]("c_name") === "Carol")
    assert(merged.filter(col("c_name") === "(inferred)").count() === 0)
    assert(merged.count() === 4)
  }

  test("metadata-driven loader: hard stop on empty config") {
    intercept[IllegalArgumentException] {
      MetadataDriven.runAll(spark, wh, Seq(EtlConfig("a.b", "c.d", is_active = false)))
    }
  }
}

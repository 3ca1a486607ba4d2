package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.JobCounting
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.sql.Timestamp

/** End-to-end medallion pipeline over the dirty fixtures, asserting the
  * reference's quality checks (tests/quality_checks_silver.sql,
  * quality_checks_gold.sql) plus incremental re-run semantics
  * (SCD1 update, SCD2 versioning, watermark delta).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark

  /** Spark jobs of the incremental `Pipeline.runAll` over [[Fixtures]]
    * (`writeDelta` after `write`) in the test session: 49 with the audit,
    * DQ and watermark rows written from the driver; 66 with the fact's
    * unknown-member count observed at write time and one aggregate for
    * silver sales' counts and watermark; 73 before that, with declared
    * schemas and observed row counts; 147 with footer inference on every
    * read and a `count()` read-back per step. */
  private val IncrementalBatchJobs = 49

  private def freshRun(): Warehouse = {
    val src = org.apache.spark.ScratchDirs.create("graft_src")
    val whRoot = org.apache.spark.ScratchDirs.create("graft_wh").toString
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
    val src2 = org.apache.spark.ScratchDirs.create("graft_src2")
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
      rowsLoaded: Seq[((String, String), Long, Long)], // (layer, table), logged, actual
      digests: Map[String, String])

  /** Every declared table whose declared schema differs — in names, order,
    * types or nullability — from the schema a read returns, or whose data
    * columns differ from what Parquet infers from one of its files. */
  private def schemaDrift(w: Warehouse): Seq[String] =
    Schemas.declared.toSeq.sortBy(_._1).flatMap { case ((layer, table), declared) =>
      if (!w.exists(layer, table)) Seq(s"$layer.$table: not written")
      else {
        val read = w.read(spark, layer, table).schema
        val t = w.snapshot(layer, table).tables(table)
        val footer = spark.read.parquet(
          Path.of(w.path(layer, table), t.files.head.path).toString).schema
        val dataCols = declared.filterNot(f => t.partCols.contains(f.name))
        if (declared == read && dataCols == footer.fields.toSeq) Nil
        else Seq(s"$layer.$table: declared ${declared.simpleString}, " +
          s"read ${read.simpleString}, footer ${footer.simpleString}")
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

  private lazy val wh2 = Warehouse(org.apache.spark.ScratchDirs.create("graft_wh2").toString)

  /** [[wh2]] loaded twice — the initial fixtures, then the incremental
    * delta — recording each batch's jobs, schema drift and logged row
    * counts. */
  private lazy val twoBatches: Seq[BatchRecord] =
    Seq(Fixtures.write _, Fixtures.writeDelta _).map { fixture =>
      val src = org.apache.spark.ScratchDirs.create("graft_src")
      fixture(src)
      val wm = Watermark(wh2).read(spark, "crm_sales_details")
      val (batchId, jobs) = JobCounting.countJobs(spark.sparkContext) {
        Pipeline.runAll(spark, PipelineConf(src.toString, wh2.root))
      }
      val salesDelta = wh2.read(spark, "bronze", "crm_sales_details")
        .filter(Cleaning.intDate(col("sls_order_dt")) > lit(new java.sql.Date(wm.getTime)))
        .count()
      BatchRecord(batchId, jobs, schemaDrift(wh2), rowsLoaded(wh2, batchId, salesDelta),
        digests(wh2))
    }

  private val silverGold = Seq(
    "silver" -> "crm_cust_info", "silver" -> "crm_prd_info",
    "silver" -> "crm_sales_details", "silver" -> "erp_cust_az12",
    "silver" -> "erp_loc_a101", "silver" -> "erp_px_cat_g1v2",
    "gold" -> "dim_customers", "gold" -> "dim_products", "gold" -> "fact_sales")

  /** Columns stamped with the batch's load time, which differs between
    * two runs over the same data. */
  private val loadTimeColumns =
    Seq("dwh_create_date", "dwh_update_date", "effective_date", "expiry_date")

  /** SHA-1 of each silver and gold table's sorted rows, load-time columns
    * left out. */
  private def digests(w: Warehouse): Map[String, String] =
    silverGold.map { case (layer, table) =>
      val rows = w.read(spark, layer, table).drop(loadTimeColumns: _*)
        .collect().map(_.mkString("|")).sorted
      val sha = MessageDigest.getInstance("SHA-1")
        .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
      s"$layer.$table" -> s"${rows.length} rows $sha"
    }.toMap

  /** One batch with every step method called on this thread, one at a
    * time, in the order the pipeline ran them before its layers ran
    * their steps concurrently. */
  private def sequentialBatch(src: Path, w: Warehouse): Unit = {
    val audit = Audit(w)
    val batchId = audit.nextBatchId(spark)
    val loadTs = new Timestamp(System.currentTimeMillis())
    val bronze = BronzeLoader(w, audit)
    Schemas.bronzeSources.foreach { case (file, table, schema) =>
      if (Files.exists(src.resolve(file)))
        bronze.load(spark, src.resolve(file).toString, batchId, table, schema)
    }
    val silver = SilverLoader(w, audit)
    silver.customers(spark, batchId, loadTs)
    silver.products(spark, batchId, loadTs)
    silver.sales(spark, batchId, loadTs)
    silver.erpCustomers(spark, batchId)
    silver.erpLocations(spark, batchId)
    silver.erpCategories(spark, batchId)
    val gold = GoldLoader(w, audit)
    gold.dimCustomers(spark, batchId)
    gold.dimProducts(spark, batchId)
    gold.factSales(spark, batchId)
  }

  test("concurrent layers load the same silver and gold tables as the steps run one at a time") {
    val w = Warehouse(org.apache.spark.ScratchDirs.create("graft_wh_seq").toString)
    val sequential = Seq(Fixtures.write _, Fixtures.writeDelta _).map { fixture =>
      val src = org.apache.spark.ScratchDirs.create("graft_src")
      fixture(src)
      sequentialBatch(src, w)
      digests(w)
    }
    Seq("initial", "delta").zip(twoBatches.zip(sequential)).foreach {
      case (batch, (concurrent, seq)) =>
        assert(concurrent.digests === seq, batch)
    }
  }

  test("a failing silver step: siblings finish, gold never starts, runAll throws its error") {
    val src = org.apache.spark.ScratchDirs.create("graft_src_fail")
    Fixtures.write(src)
    // no products extract, so bronze keeps its crm_prd_info table, whose
    // one committed file is corrupt: the silver products step fails
    // reading it
    Files.delete(src.resolve("prd_info.csv"))
    val w = Warehouse(org.apache.spark.ScratchDirs.create("graft_wh_fail").toString)
    w.overwrite(spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(1, "k", "n", 1, "l", "01-01-2020", null)),
      Schemas.crmPrdInfo), "bronze", "crm_prd_info")
    WarehouseTestKit.files(w, "bronze", "crm_prd_info").foreach(f =>
      Files.write(Path.of(w.path("bronze", "crm_prd_info"), f.path),
        "not parquet".getBytes))

    val thrown = intercept[Throwable] {
      Pipeline.runAll(spark, PipelineConf(src.toString, w.root))
    }
    val log = w.read(spark, "audit", "etl_log").filter(col("batch_id") === 1L)
      .select("layer", "table_name", "status", "error_message").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getString(2), r.getString(3))).toMap
    assert(log(("silver", "crm_prd_info")) === (("Failed", thrown.getMessage)))
    Seq("crm_cust_info", "crm_sales_details", "erp_cust_az12", "erp_loc_a101",
        "erp_px_cat_g1v2").foreach { t =>
      assert(log(("silver", t))._1 === "Success", t)
    }
    assert(!log.keys.exists(_._1 == "gold"), log.keys)
    assert(!w.exists("gold", "dim_customers") && !w.exists("gold", "fact_sales"))
    assert(log(("init", "MASTER_PIPELINE")) === (("Failed", thrown.getMessage)))
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
    // every other table kind reads without a job too: a table nothing
    // declares, and each table of both standing-index families and of
    // their curation sinks
    import spark.implicits._
    wh2.overwrite(Seq(1, 2).toDF("x"), "scratch", "undeclared")
    val wi = Warehouse(org.apache.spark.ScratchDirs.create("graft_wh_index").toString)
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog in the warm morning sun"),
      (1L, "pack my box with five dozen liquor jugs before the long trip south"),
      (2L, "sphinx of black quartz judge my vow said the museum curator quietly"))
      .toDF("doc_id", "text")
    val epoch = Seq((100L,
      "this is a completely fresh batch document that we wrote about the distributed query engines of today"))
      .toDF("doc_id", "text")
    for ((t, family) <- Seq("nd" -> graft.textops.CurationStream.MinHashFamily,
                            "ng" -> graft.textops.CurationStream.ExactNgramFamily)) {
      graft.textops.CurationStream.curationBootstrap(docs, "doc_id", "text", wi,
        "gold", t, threshold = 0.5, bands = 8, nBuckets = 4, nSetBuckets = 4,
        family = family)
      graft.textops.CurationStream.curationIngestBatch(epoch, 0L, "doc_id",
        "text", wi, "gold", t, threshold = 0.5, family = family)
    }
    val reads = Seq((wh2, "scratch", "undeclared")) ++
      Seq("nd_meta", "nd_bands", "nd_sets", "nd_kept", "nd_funnel", "ng_meta",
        "ng_freq", "ng_post", "ng_sets", "ng_kept", "ng_funnel")
        .map(t => (wi, "gold", t))
    reads.foreach { case (w, layer, table) =>
      val (_, jobs) = JobCounting.countJobs(spark.sparkContext)(w.read(spark, layer, table))
      assert(jobs === 0, s"$layer.$table")
    }
    // the counter does count: the same read's action runs a job
    assert(JobCounting.countJobs(spark.sparkContext)(
      wh2.read(spark, "scratch", "undeclared").collect())._2 >= 1)
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
    val files = WarehouseTestKit.files(wh, "silver", "crm_sales_details")
    assert(files.size === 1)
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

package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.etl.{Pipeline, PipelineConf, Reports, Warehouse}
import graft.textops.CurationStream

/** Sorted-row digest shared by the checks (SHA-1 hex). */
object Digest {
  def sha1(lines: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-1")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
  def rows(rs: Array[Row]): String = sha1(rs.map(_.toString).sorted)
}

/** Analysts querying a warm star schema: one op is one query of a fixed
  * mix of the reference's analysis scripts (q01–q18) and their raw-SQL
  * twins (sqlfd_*), in seed order. Each query's first result is written
  * for the DuckDB oracle, and every later op must reproduce it row for
  * row. */
final class StarQueries(spark: SparkSession, spans: Spans, input: Path,
                        out: Path) extends Workload {
  private val dir = input.resolve("star").toString
  private val names = Files2.lines(input.resolve("queries.txt"))
  private val refs = scala.collection.mutable.Map.empty[String, String]
  private var last: (Array[Row], org.apache.spark.sql.types.StructType) = _

  def setUp(rep: Int): Unit = graft.Tables.registerAll(spark, dir)

  def op(i: Long): Map[String, Any] = {
    val name = names((i % names.size).toInt)
    val df = spans("analytics.build") { SparkEntry.queries(name)(spark, dir) }
    val rows = spans("analytics.exec") { df.collect() }
    last = (rows, df.schema)
    Map("query" -> name, "rows_out" -> rows.length)
  }

  def check(i: Long, r: Map[String, Any]): Map[String, Any] = {
    val name = r("query").toString
    val (rows, schema) = last
    last = null // the result must not count in the heap measured at run end
    val h = Digest.rows(rows)
    val isRef = !refs.contains(name)
    if (isRef) {
      refs(name) = h
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.parquet(out.resolve("results").resolve(name).toString)
    }
    Map("query" -> name, "reference" -> isRef, "same_as_reference" -> (refs(name) == h))
  }

  override def finish(): Unit = {
    val sql = SparkEntry.oracleSql
    Json.writeLines(out.resolve("oracle_sql.json").toString,
      Seq(Json.value(names.distinct.map(n => n -> sql(n)).toMap)))
  }
}

/** The reference's `init.load_all`, run incrementally: the initial full
  * load is set-up; one op is one batch of CRM deltas through
  * `Pipeline.runAll`, then both gold reports materialised. */
final class EtlIncremental(spark: SparkSession, spans: Spans, input: Path,
                           out: Path) extends Workload {
  private val batches = Files2.lines(input.resolve("batches.tsv")).map(_.split("\t"))
  private var root: Path = _
  private var prev = Files2.Tree(Map.empty, 0)

  def setUp(rep: Int): Unit = {
    if (root != null) Files2.deleteTree(root)
    root = out.resolve(s"wh$rep")
    Pipeline.runAll(spark, PipelineConf(input.resolve("initial").toString, root.toString))
    prev = Files2.tree(root)
  }

  override def hasNext(i: Long): Boolean = i < batches.size

  def op(i: Long): Map[String, Any] = {
    val Array(name, rows, bytes) = batches(i.toInt)
    val conf = PipelineConf(input.resolve(name).toString, root.toString)
    val batchId = spans("etl.pipeline") { Pipeline.runAll(spark, conf) }
    val wh = Warehouse(root.toString)
    val (nc, np) = spans("etl.reports") {
      (Reports.reportCustomers(spark, wh).collect().length,
        Reports.reportProducts(spark, wh).collect().length)
    }
    Map("batch" -> name, "batch_id" -> batchId, "rows_in" -> rows.toLong,
      "input_bytes" -> bytes.toLong, "rows_out" -> (nc + np),
      "report_customers" -> nc, "report_products" -> np)
  }

  private val etlSpan: Map[(String, String), String] = Map(
    ("silver", "crm_cust_info") -> "etl.silver.cust",
    ("silver", "crm_prd_info") -> "etl.silver.prd",
    ("silver", "crm_sales_details") -> "etl.silver.sales",
    ("gold", "dim_customers") -> "etl.gold.dim_customers",
    ("gold", "dim_products") -> "etl.gold.dim_products",
    ("gold", "fact_sales") -> "etl.gold.fact_sales")

  def check(i: Long, r: Map[String, Any]): Map[String, Any] = {
    val wh = Warehouse(root.toString)
    val batchId = r("batch_id").asInstanceOf[Long]
    Seq(("silver", "crm_cust_info"), ("silver", "crm_prd_info"),
        ("silver", "crm_sales_details"), ("gold", "dim_customers"),
        ("gold", "dim_products"), ("gold", "fact_sales"))
      .foreach { case (l, t) => wh.read(spark, l, t).createOrReplaceTempView(s"pb_$t") }
    wh.read(spark, "audit", "etl_log").createOrReplaceTempView("pb_etl_log")
    val dq = if (wh.exists("audit", "data_quality_issues"))
      wh.read(spark, "audit", "data_quality_issues")
        .filter(s"batch_id = $batchId").count() else 0L
    val c = spark.sql(s"""SELECT
      (SELECT count(*) - count(DISTINCT customer_key) FROM pb_dim_customers) AS dup_customer_keys,
      (SELECT count(*) FROM pb_dim_customers WHERE customer_key = -1) AS unknown_customers,
      (SELECT count(*) - count(DISTINCT product_key) FROM pb_dim_products) AS dup_product_keys,
      (SELECT count(*) FROM pb_dim_products WHERE product_key = -1) AS unknown_products,
      (SELECT count(*) FROM (SELECT prd_id FROM pb_crm_prd_info GROUP BY prd_id
         HAVING sum(CASE WHEN is_current THEN 1 ELSE 0 END) <> 1)) AS prd_ids_not_one_current,
      (SELECT count(*) FROM (SELECT 1 FROM pb_crm_sales_details
         GROUP BY sls_ord_num, sls_prd_key HAVING count(*) > 1)) AS dup_sales_pairs,
      (SELECT count(*) FROM pb_fact_sales) AS fact_rows,
      (SELECT count(*) FROM pb_etl_log WHERE status = 'Failed') AS failed_log_rows,
      (SELECT count(*) FROM pb_crm_cust_info WHERE cst_firstname <> trim(cst_firstname)
         OR cst_lastname <> trim(cst_lastname)) AS untrimmed_names,
      (SELECT count(*) FROM pb_crm_cust_info WHERE cst_marital_status NOT IN ('Married', 'Single', 'n/a')
         OR cst_gndr NOT IN ('Male', 'Female', 'n/a')) AS unstandardised_codes,
      (SELECT count(*) FROM pb_fact_sales f WHERE f.customer_key <> -1 AND NOT EXISTS
         (SELECT 1 FROM pb_dim_customers d WHERE d.customer_key = f.customer_key)) AS orphan_customer_keys,
      (SELECT count(*) FROM pb_fact_sales f WHERE f.product_key <> -1 AND NOT EXISTS
         (SELECT 1 FROM pb_dim_products d WHERE d.product_key = f.product_key)) AS orphan_product_keys,
      (SELECT count(*) FROM pb_fact_sales WHERE sales_amount <> quantity * price
         OR sales_amount <= 0 OR sales_amount IS NULL) AS bad_sales_amounts,
      (SELECT count(DISTINCT f.customer_key) FROM pb_fact_sales f JOIN pb_dim_customers d
         ON f.customer_key = d.customer_key WHERE f.order_date IS NOT NULL) AS expected_report_customers
      """).collect().head
    val log = spark.table("pb_etl_log").filter(s"batch_id = $batchId")
      .select("layer", "table_name", "start_time", "end_time", "rows_loaded")
      .collect()
    // the program's own per-table audit rows become child spans of the
    // pipeline span (trace mode only)
    spans.all.reverseIterator.find(_.name == "etl.pipeline").filter(_.op == i)
      .foreach { p =>
        log.foreach { row =>
          val name = (row.getString(0), row.getString(1)) match {
            case ("init", _) => None
            case ("bronze", _) => Some("etl.bronze")
            case ("silver", t) if t.startsWith("erp_") => Some("etl.silver.erp")
            case k => etlSpan.get(k)
          }
          name.foreach(n => spans.add(n, p.id,
            row.getTimestamp(2).getTime * 1000L, row.getTimestamp(3).getTime * 1000L))
        }
      }
    c.schema.fieldNames.zipWithIndex.map { case (n, k) => n -> c.getLong(k) }.toMap ++
      Map("dq_issues" -> dq,
        "rows_loaded" -> log.filter(_.getString(0) != "init").map(_.getLong(4)).sum)
  }

  override def walk(): Map[String, Any] = {
    val now = Files2.tree(root)
    val w = Files2.written(prev, now)
    prev = now
    Map("bytes_written" -> w, "bytes_stored" -> now.bytes, "files" -> now.files.size,
      "audit_files" -> now.files.keys.count(_.startsWith("audit/")),
      "stale_dirs" -> now.staleDirs)
  }
}

/** Continuous corpus curation: both dedup families bootstrap over a seeded
  * corpus in set-up; one op is one epoch through
  * `CurationStream.curationIngestBatch`, MinHash family then exact n-gram
  * family, each into its own table. */
final class CurationIngest(spark: SparkSession, spans: Spans, input: Path,
                           out: Path) extends Workload {
  import CurationIngest._
  private val epochs = Files2.lines(input.resolve("epochs.tsv")).map(_.split("\t"))
  private var root: Path = _
  private var prev = Files2.Tree(Map.empty, 0)

  private def wh = Warehouse(root.toString)

  def setUp(rep: Int): Unit = {
    if (root != null) Files2.deleteTree(root)
    root = out.resolve(s"cur$rep")
    val initial = spark.read.parquet(input.resolve("bootstrap.parquet").toString)
    CurationStream.curationBootstrap(initial, "doc_id", "text", wh, Layer,
      MinHash, Threshold, bands = 8, nBuckets = 16, nSetBuckets = 16)
    CurationStream.curationBootstrap(initial, "doc_id", "text", wh, Layer,
      Exact, Threshold, nBuckets = 16, nSetBuckets = 16,
      family = CurationStream.ExactNgramFamily, maxShingleFreq = 1000000)
    prev = Files2.tree(root)
  }

  override def hasNext(i: Long): Boolean = i < epochs.size

  def op(i: Long): Map[String, Any] = {
    val Array(file, rows, bytes) = epochs(i.toInt)
    val batch = spark.read.parquet(input.resolve(file).toString)
    spans("textops.minhash.epoch") {
      CurationStream.curationIngestBatch(batch, i, "doc_id", "text", wh, Layer,
        MinHash, Threshold, compactEvery = CompactEvery)
    }
    spans("textops.exact.epoch") {
      CurationStream.curationIngestBatch(batch, i, "doc_id", "text", wh, Layer,
        Exact, Threshold, compactEvery = CompactEvery,
        family = CurationStream.ExactNgramFamily)
    }
    Map("epoch" -> i, "rows_in" -> rows.toLong, "input_bytes" -> bytes.toLong,
      "compaction" -> (i > 0 && i % CompactEvery == 0))
  }

  def check(i: Long, r: Map[String, Any]): Map[String, Any] =
    Seq(MinHash, Exact).flatMap { t =>
      val kept = wh.read(spark, Layer, s"${t}_kept").select("doc_id").collect()
        .map(_.getLong(0)).sorted
      val f = wh.read(spark, Layer, s"${t}_funnel").filter(s"epoch = $i")
        .select("n_in", "n_lang", "n_quality", "n_kept").collect()
      val funnel = f.headOption.map(x => (0 to 3).map(x.getLong)).getOrElse(Seq.empty)
      Seq(s"${t}_kept_count" -> kept.length,
        s"${t}_kept_sha1" -> Digest.sha1(kept.map(_.toString)),
        s"${t}_funnel" -> funnel)
    }.toMap

  override def walk(): Map[String, Any] = {
    val now = Files2.tree(root)
    val w = Files2.written(prev, now)
    prev = now
    val index = now.files.filter { case (k, _) =>
      val table = k.split("/")(1)
      !table.endsWith("_kept") && !table.endsWith("_funnel")
    }
    Map("bytes_written" -> w, "bytes_stored" -> now.bytes, "files" -> now.files.size,
      "audit_files" -> 0, "stale_dirs" -> now.staleDirs,
      "index_bytes" -> index.values.map(_._1).sum, "index_files" -> index.size)
  }
}

object CurationIngest {
  val Layer = "gold"
  val MinHash = "cur_mh"
  val Exact = "cur_ng"
  val Threshold = 0.5
  /** Compaction and sink folding every third epoch: the timed window,
    * epochs 1-3, holds one full cycle. */
  val CompactEvery = 3
}

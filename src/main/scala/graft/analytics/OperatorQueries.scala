package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.etl.JoinIvm
import graft.operators.PrefixSum

/** One named entry per remaining SURVEY.md §2 operator row, exercised over
  * the testdata tables with a DuckDB oracle twin where SQL-expressible.
  * Follows CoreQueries' determinism rules (decimal-routed sums, total
  * ORDER BY, no ROUND).
  */
object OperatorQueries {

  type QFn = (SparkSession, String) => DataFrame

  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4)))
  private def dsumSql(x: String) = s"SUM(CAST($x AS DECIMAL(18,4)))"
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  // ---------------------------------------------------------------- sources

  // S1 — CSV bulk load: declared schema, header skipped. Round-trips nation
  // through a CSV file then aggregates (ref: proc_load_bronze.sql:36-42).
  private val s1CsvLoad: QFn = (s, dir) => {
    val src = t(s, dir, "nation")
    val tmp = org.apache.spark.ScratchDirs.create("graft_csv").toString
    src.write.mode("overwrite").option("header", "true").csv(tmp)
    s.read.schema(src.schema).option("header", "true").csv(tmp)
      .agg(count(lit(1)).as("n_rows"),
           sum(col("n_nationkey")).cast("long").as("key_sum"))
  }
  private val s1Sql =
    "SELECT COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum FROM nation"

  // S2/S3 — truncate-and-load (overwrite) then append to a parquet sink;
  // read back and aggregate (ref: proc_load_bronze.sql:34-42, silver :229).
  private val s2Sink: QFn = (s, dir) => {
    val src = t(s, dir, "region")
    val tmp = org.apache.spark.ScratchDirs.create("graft_sink").toString
    src.write.mode("overwrite").parquet(tmp)   // full refresh
    src.write.mode("append").parquet(tmp)      // incremental append
    s.read.parquet(tmp)
      .groupBy("r_name").agg(count(lit(1)).as("n_copies"))
      .orderBy("r_name")
  }
  private val s2Sql =
    "SELECT r_name, CAST(2 AS BIGINT) AS n_copies FROM region ORDER BY r_name"

  // S8 — catalog scan (INFORMATION_SCHEMA analog): tables + column counts
  // via spark.catalog, oracled against DuckDB's information_schema over
  // the same registered views (01_database_exploration.sql:16-30).
  private val s8Catalog: QFn = (s, dir) => {
    Tables.registerAll(s, dir)
    // catalog-resolved schemas, no per-table Spark job (listColumns()
    // .count() launched 11 driver jobs for 11 scalar answers)
    val cols = Tables.all.map { tn => (tn, s.table(tn).schema.length) }
    s.createDataFrame(cols).toDF("table_name", "n_columns").orderBy("table_name")
  }
  private val s8Sql =
    s"""SELECT table_name, CAST(COUNT(*) AS INT) AS n_columns
       |FROM information_schema.columns
       |WHERE table_name IN (${graft.Tables.all.map(t => s"'$t'").mkString(", ")})
       |GROUP BY table_name ORDER BY table_name""".stripMargin

  // S7 — metadata-driven copy over the intersected column list
  // (proc_load_metadata_driven.sql:26-85): target pre-exists with a subset
  // schema; the copy selects exactly the intersection.
  private val s7MetaCopy: QFn = (s, dir) => {
    val tmp = org.apache.spark.ScratchDirs.create("graft_meta").toString
    val wh = graft.etl.Warehouse(tmp)
    // declared target: two of nation's three columns
    wh.overwrite(t(s, dir, "nation").select("n_nationkey", "n_name")
      .limit(0), "silver", "nation_copy")
    wh.overwrite(t(s, dir, "nation"), "bronze", "nation_src")
    graft.etl.MetadataDriven.copy(s, wh, "bronze", "nation_src", "silver", "nation_copy")
    wh.read(s, "silver", "nation_copy")
      .agg(count(lit(1)).as("n_rows"),
           sum(col("n_nationkey")).cast("long").as("key_sum"),
           countDistinct(col("n_name")).as("n_names"))
  }
  private val s7Sql =
    """SELECT COUNT(*) AS n_rows, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
      |COUNT(DISTINCT n_name) AS n_names FROM nation""".stripMargin

  // A13 — mode (most frequent value) per group, with a DETERMINISTIC
  // tiebreak (smallest value wins): built-in `mode()` breaks ties
  // arbitrarily in both engines, so the portable form is count + one
  // key-partitioned row_number — same shape at any group count.
  private val a13Mode: QFn = (s, dir) => {
    val counts = t(s, dir, "orders")
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("n").desc, col("o_orderpriority"))
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("modal_priority"),
        col("n").as("n_orders"))
      .orderBy("o_orderstatus")
  }
  private val a13Sql =
    """SELECT o_orderstatus, o_orderpriority AS modal_priority,
      |COUNT(*) AS n_orders
      |FROM orders GROUP BY 1, 2
      |QUALIFY row_number() OVER (PARTITION BY o_orderstatus
      |  ORDER BY COUNT(*) DESC, o_orderpriority) = 1
      |ORDER BY o_orderstatus""".stripMargin

  // Exact interpolated percentiles (median/p90 of order value per
  // status) — Spark `percentile` and DuckDB `quantile_cont` share the
  // linear-interpolation definition; plus the approx scale path.
  private val aPercentiles: QFn = (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"),
           expr("percentile(o_totalprice, 0.9)").as("p90_price"),
           count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")
  private val aPercentilesSql =
    """SELECT o_orderstatus,
      |quantile_cont(o_totalprice, 0.5) AS median_price,
      |quantile_cont(o_totalprice, 0.9) AS p90_price,
      |COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // A-approx-percentiles — the sketch quantile scale path
  // (approx_percentile / KLL-style rank sketch) next to exact anchors.
  // The oracled contract mirrors a2: exact percentiles pin the data, and
  // booleans assert the approximation lands inside the exact-value
  // corridor at p ± rank-error (accuracy 1000 → ε = 1/1000; corridor
  // evaluated at a lenient ±0.05 rank).
  private val aApproxPct: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
    o.agg(
        expr("percentile(o_totalprice, 0.5)").as("exact_p50"),
        expr("percentile(o_totalprice, 0.9)").as("exact_p90"),
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("a50"),
        expr("approx_percentile(o_totalprice, 0.9, 1000)").as("a90"),
        expr("percentile(o_totalprice, 0.45)").as("lo50"),
        expr("percentile(o_totalprice, 0.55)").as("hi50"),
        expr("percentile(o_totalprice, 0.85)").as("lo90"),
        expr("percentile(o_totalprice, 0.95)").as("hi90"))
      .select(col("exact_p50"), col("exact_p90"),
        (col("a50") >= col("lo50") && col("a50") <= col("hi50")).as("approx_p50_ok"),
        (col("a90") >= col("lo90") && col("a90") <= col("hi90")).as("approx_p90_ok"))
  }
  private val aApproxPctSql =
    """SELECT quantile_cont(o_totalprice, 0.5) AS exact_p50,
      |quantile_cont(o_totalprice, 0.9) AS exact_p90,
      |TRUE AS approx_p50_ok, TRUE AS approx_p90_ok
      |FROM orders""".stripMargin

  // W10 — cumulative distinct count over a window (no native COUNT
  // (DISTINCT) OVER in Spark or DuckDB): first-occurrence flag via
  // row_number per (nation, customer), then a running sum — the
  // standard rewrite, one extra window instead of per-frame set state.
  private val w10CumDistinct: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_custkey"),
        date_trunc("month", col("o_orderdate")).as("month"))
    val firstSeen = Window.partitionBy("n_name", "o_custkey")
      .orderBy("month")
    val monthly = o
      .withColumn("is_first",
        when(row_number().over(firstSeen) === 1, 1L).otherwise(0L))
      .groupBy("n_name", "month")
      .agg(count(lit(1)).as("n_orders"), sum(col("is_first")).as("new_customers"))
    val running = Window.partitionBy("n_name").orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("distinct_customers_to_date",
        sum(col("new_customers")).over(running).cast("long"))
      .select("n_name", "month", "n_orders", "distinct_customers_to_date")
      .orderBy("n_name", "month")
  }
  private val w10Sql =
    """WITH o AS (SELECT n_name, o_custkey, date_trunc('month', o_orderdate) AS month
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |f AS (SELECT n_name, month,
      |  CASE WHEN row_number() OVER (PARTITION BY n_name, o_custkey ORDER BY month) = 1
      |       THEN 1 ELSE 0 END AS is_first
      |  FROM o),
      |m AS (SELECT n_name, month, COUNT(*) AS n_orders,
      |  CAST(SUM(is_first) AS BIGINT) AS new_customers
      |  FROM f GROUP BY 1, 2)
      |SELECT n_name, month, n_orders,
      |CAST(SUM(new_customers) OVER (PARTITION BY n_name ORDER BY month
      |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_customers_to_date
      |FROM m ORDER BY n_name, month""".stripMargin

  // W11 — the full ranking-function pack over one window (per-nation
  // customers by balance): row_number/rank/dense_rank/ntile/
  // percent_rank/cume_dist share one sort, and the fractional ranks are
  // integer-derived ratios so they hash-match exactly.
  private val w11RankPack: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(s, dir, "customer")
      .filter(col("c_acctbal") > 9000.0)
      .select(col("c_nationkey"), col("c_custkey"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("c_nationkey", "c_custkey")
  }
  private val w11Sql =
    """SELECT c_nationkey, c_custkey,
      |CAST(row_number() OVER w AS INT) AS rn,
      |CAST(rank() OVER w AS INT) AS rnk,
      |CAST(dense_rank() OVER w AS INT) AS drnk,
      |CAST(ntile(4) OVER w AS INT) AS quartile,
      |percent_rank() OVER w AS pct_rank,
      |cume_dist() OVER w AS cume
      |FROM customer WHERE c_acctbal > 9000.0
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_nationkey, c_custkey""".stripMargin

  // W14 — value-window pack: FIRST_VALUE / LAST_VALUE / NTH_VALUE over
  // per-nation balance windows. LAST_VALUE is frame-sensitive — the
  // default frame ends at CURRENT ROW, so the entry pins the full
  // partition frame explicitly (the classic portability trap both
  // engines share); unique tiebreaker keeps every value deterministic.
  private val w14ValuePack: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "customer")
      .filter(col("c_acctbal") > 9000.0)
      .select(col("c_nationkey"), col("c_custkey"),
        first(col("c_custkey")).over(ord).as("richest_key"),
        last(col("c_custkey")).over(full).as("poorest_key"),
        nth_value(col("c_custkey"), 3).over(full).as("third_key"))
      .orderBy("c_nationkey", "c_custkey")
  }
  private val w14Sql =
    """SELECT c_nationkey, c_custkey,
      |first_value(c_custkey) OVER w AS richest_key,
      |last_value(c_custkey) OVER (PARTITION BY c_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest_key,
      |nth_value(c_custkey, 3) OVER (PARTITION BY c_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_key
      |FROM customer WHERE c_acctbal > 9000.0
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_nationkey, c_custkey""".stripMargin

  // O4 — explicit null ordering: a derived nullable measure sorted with
  // NULLS FIRST and NULLS LAST (engines default differently — ASC is
  // nulls-first in Spark, nulls-last in DuckDB — so spelling it out is
  // the only portable form). Output pins both orders via rank columns.
  private val o4NullOrdering: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val v = when(col("o_orderkey") % 7 =!= 0, col("o_totalprice"))
    val wFirst = Window.orderBy(v.asc_nulls_first, col("o_orderkey"))
    val wLast = Window.orderBy(v.asc_nulls_last, col("o_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey"), v.as("maybe_price"),
        row_number().over(wFirst).as("rn_nulls_first"),
        row_number().over(wLast).as("rn_nulls_last"))
      .orderBy("o_orderkey")
  }
  private val o4Sql =
    """WITH o AS (SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 7 <> 0 THEN o_totalprice END AS maybe_price
      |  FROM orders WHERE o_orderkey <= 500)
      |SELECT o_orderkey, maybe_price,
      |CAST(row_number() OVER (ORDER BY maybe_price ASC NULLS FIRST, o_orderkey) AS INT)
      |  AS rn_nulls_first,
      |CAST(row_number() OVER (ORDER BY maybe_price ASC NULLS LAST, o_orderkey) AS INT)
      |  AS rn_nulls_last
      |FROM o ORDER BY o_orderkey""".stripMargin

  // W12 — linear interpolation between surrounding known points: every
  // event gets the time-weighted blend of the user's neighboring
  // purchase values (LOCF's two-sided sibling). Two mirrored
  // null-skipping windows (last-before, first-after) + one arithmetic
  // blend; edges fall back to the one known side. Time math runs on
  // µs-truncated longs: DuckDB reads the TIMESTAMP(NANOS) column at µs
  // precision, so the ns tail must not enter the blend ratio.
  // W13 — time-based RANGE window frame: per-customer trailing-90-day
  // spend at each order. A RANGE frame over epoch seconds (not ROWS —
  // the frame is defined by time distance, so irregular order spacing
  // and ties are handled correctly). Epoch-second longs keep the frame
  // arithmetic identical across engines.
  private val w13RangeFrame: QFn = (s, dir) => {
    val w = Window.partitionBy("o_custkey").orderBy(col("es"))
      .rangeBetween(-90L * 86400, 0)
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        unix_timestamp(col("o_orderdate")).as("es"))
      .withColumn("trailing_90d_spend",
        dsum(col("o_totalprice")).over(w).cast("double"))
      .select("o_orderkey", "o_custkey", "trailing_90d_spend")
      .orderBy("o_orderkey")
  }
  private val w13Sql =
    s"""SELECT o_orderkey, o_custkey,
       |CAST(${dsumSql("o_totalprice")} OVER (
       |  PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
       |  RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |  AS trailing_90d_spend
       |FROM orders ORDER BY o_orderkey""".stripMargin

  // B1 — histogram binning via width_bucket: order totals into 10 equal
  // bins over a literal [0, 500000) range plus the overflow bucket —
  // the standard first step of any distribution profile at scale (one
  // scan, one tiny groupBy; no sort, no per-row UDF).
  // (the width_bucket contract is inlined as one explicit floor/CASE —
  // DuckDB 1.0 lacks the builtin, and inlining makes the boundary
  // arithmetic the same IEEE expression on both engines)
  private val b1Histogram: QFn = (s, dir) =>
    t(s, dir, "orders")
      .select(when(col("o_totalprice") >= 500000.0, lit(11L))
        .otherwise(floor(col("o_totalprice") / 50000.0).cast("long") + 1)
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_orders"))
      .orderBy("bucket")
  private val b1Sql =
    """SELECT CASE WHEN o_totalprice >= 500000.0 THEN 11
      |  ELSE CAST(floor(o_totalprice / 50000.0) AS BIGINT) + 1 END AS bucket,
      |COUNT(*) AS n_orders
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // A11 — statistical aggregates with distributed determinism: stddev
  // and correlation derived from decimal-routed raw moments (Σx, Σx²,
  // Σxy are exact decimals, so the double arithmetic on top is one
  // fixed expression tree — bit-identical at any partitioning, unlike
  // the built-in streaming-moment implementations whose accumulation
  // order varies run to run). Price vs quantity over lineitem.
  private val a11Stats: QFn = (s, dir) => {
    // (19,4) inputs: wide enough that BOTH engines route the per-row
    // products through 128-bit decimals (DuckDB's 18-wide path overflows
    // its int64 internals); the sums are exact, and everything above
    // them is one fixed double expression tree over those exact scalars.
    // (Oracle nuance: DuckDB's direct decimal→double cast scales the raw
    // int128 by 10^-s — off by an ulp for wide values — so the oracle
    // routes that cast through VARCHAR, which parses correctly rounded
    // like Spark's BigDecimal.doubleValue.)
    val x = col("l_extendedprice").cast(DecimalType(19, 4))
    val y = col("l_quantity").cast(DecimalType(19, 4))
    val moments = t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("long").as("n"),
           sum(x).as("sx"), sum(y).as("sy"),
           sum(x * x).as("sxx"), sum(y * y).as("syy"),
           sum(x * y).as("sxy"))
    val n = col("n")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
    val sxy = col("sxy").cast("double")
    moments.select(col("l_returnflag"), n,
        ((sxx - sx * sx / n) / (n - 1)).as("var_price"),
        ((sxy - sx * sy / n)
          / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)))
          .as("corr_price_qty"))
      .orderBy("l_returnflag")
  }
  private val a11Sql =
    """WITH m AS (SELECT l_returnflag, COUNT(*) AS n,
      |  SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS sx,
      |  SUM(CAST(l_quantity AS DECIMAL(19,4))) AS sy,
      |  SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxx,
      |  SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS syy,
      |  SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS sxy
      |  FROM lineitem GROUP BY 1),
      |d AS (SELECT l_returnflag, n,
      |  CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy,
      |  CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxy FROM m)
      |SELECT l_returnflag, n,
      |(sxx - sx * sx / n) / (n - 1) AS var_price,
      |(sxy - sx * sy / n)
      |  / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr_price_qty
      |FROM d ORDER BY l_returnflag""".stripMargin

  // S14 — JSON-lines source: round-trip the event stream through
  // newline-delimited JSON with a DECLARED schema (schema inference on
  // 100 TB means reading everything twice), then aggregate. Doubles
  // survive exactly (shortest round-trippable repr); the timestamp
  // travels as epoch seconds to stay engine-portable.
  private val s14JsonlSource: QFn = (s, dir) => {
    val src = t(s, dir, "events").select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      expr("ts div 1000000000").as("sec"))
    val tmp = org.apache.spark.ScratchDirs.create("graft_jsonl").toString
    src.write.mode("overwrite").json(tmp)
    s.read.schema(src.schema).json(tmp)
      .agg(count(lit(1)).as("n_rows"),
           sum(col("event_id")).cast("long").as("id_sum"),
           sum(col("sec")).cast("long").as("sec_sum"),
           dsum(col("value")).cast("double").as("value_sum"),
           countDistinct(col("event_type")).as("n_types"))
  }
  private val s14Sql =
    s"""SELECT COUNT(*) AS n_rows, CAST(SUM(event_id) AS BIGINT) AS id_sum,
       |CAST(SUM(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) AS sec_sum,
       |CAST(${dsumSql("value")} AS DOUBLE) AS value_sum,
       |COUNT(DISTINCT event_type) AS n_types FROM events""".stripMargin

  // S15 — ORC source: the same declared-schema round-trip through the
  // other columnar format Spark ships a vectorized reader for. ORC
  // stores numerics losslessly, so the aggregate is the identity check.
  private val s15OrcSource: QFn = (s, dir) => {
    val src = t(s, dir, "orders")
    val tmp = org.apache.spark.ScratchDirs.create("graft_orc").toString
    src.write.mode("overwrite").orc(tmp)
    s.read.schema(src.schema).orc(tmp)
      .agg(count(lit(1)).as("n_rows"),
           sum(col("o_orderkey")).cast("long").as("key_sum"),
           dsum(col("o_totalprice")).cast("double").as("price_sum"),
           countDistinct(col("o_orderstatus")).as("n_statuses"))
  }
  private val s15Sql =
    s"""SELECT COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       |CAST(${dsumSql("o_totalprice")} AS DOUBLE) AS price_sum,
       |COUNT(DISTINCT o_orderstatus) AS n_statuses FROM orders""".stripMargin

  // I14 — late-arriving dimension (inferred members): a dimension
  // missing a third of its members still serves fact joins because
  // unknown fact keys materialize as flagged placeholder rows
  // (etl/Scd.inferMembers); the next real dim load resolves them via
  // the SCD1 hash merge.
  private val i14Inferred: QFn = (s, dir) => {
    val dim = t(s, dir, "customer")
      .filter(col("c_custkey") % 3 =!= 0)
      .select("c_custkey", "c_name", "c_mktsegment")
    val facts = t(s, dir, "orders")
    graft.etl.Scd.inferMembers(dim, facts, "c_custkey", "o_custkey",
        defaults = Map("c_name" -> lit("(inferred)")))
      .orderBy("c_custkey")
  }
  private val i14Sql =
    """WITH dim0 AS (SELECT c_custkey, c_name, c_mktsegment FROM customer
      |  WHERE c_custkey % 3 <> 0),
      |missing AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM dim0 d WHERE d.c_custkey = o.o_custkey))
      |SELECT c_custkey, c_name, c_mktsegment, is_inferred FROM (
      |  SELECT c_custkey, c_name, c_mktsegment, FALSE AS is_inferred FROM dim0
      |  UNION ALL
      |  SELECT c_custkey, '(inferred)', NULL, TRUE FROM missing)
      |ORDER BY c_custkey""".stripMargin

  // B2 — equi-depth histogram: bucket boundaries are the exact
  // interpolated deciles (the percentile definition both engines share,
  // proved by a_percentiles), rows bucket by how many boundaries they
  // exceed (one lambda over the 9-element literal — no join per
  // boundary), counts land near-uniform by construction. One aggregate
  // for the boundaries + one 1-row broadcast + one groupBy: the
  // equi-depth complement of b1's equi-width histogram.
  private val b2EquiDepth: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
    val deciles = (1 to 9).map(_ / 10.0)
    val bounds = o.agg(expr(
      s"percentile(o_totalprice, array(${deciles.mkString(", ")}))").as("bounds"))
    o.crossJoin(broadcast(bounds))
      .select(size(filter(col("bounds"), b => b <= col("o_totalprice")))
        .as("bucket"), col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
           min(col("o_totalprice")).as("min_price"),
           max(col("o_totalprice")).as("max_price"))
      .orderBy("bucket")
  }
  private val b2Sql =
    """WITH b AS (SELECT quantile_cont(o_totalprice,
      |  [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bounds FROM orders)
      |SELECT CAST(len(list_filter(bounds, x -> x <= o_totalprice)) AS INT) AS bucket,
      |COUNT(*) AS n_orders, MIN(o_totalprice) AS min_price,
      |MAX(o_totalprice) AS max_price
      |FROM orders CROSS JOIN b GROUP BY 1 ORDER BY 1""".stripMargin

  // J13 — interval-overlap join (operators/IntervalJoin): two order
  // cohorts get activity windows ([day, day+3] vs [day, day+5]) and
  // every overlapping pair surfaces with its intersection. The bucketed
  // plan is two equi-shuffles + a per-bucket filter — no inequality
  // join, no cartesian — and the owner-bucket rule keeps it exact
  // without a distinct.
  private val j13IntervalOverlap: QFn = (s, dir) => {
    val day = datediff(col("o_orderdate").cast("date"),
      lit("1995-01-01").cast("date")).cast("long")
    val orders = t(s, dir, "orders")
    val a = orders.filter(col("o_custkey") % 100 === 0)
      .select(col("o_orderkey").as("id"), day.as("start"), (day + 3).as("end"))
    val b = orders.filter(col("o_custkey") % 100 === 1)
      .select(col("o_orderkey").as("id"), day.as("start"), (day + 5).as("end"))
    graft.operators.IntervalJoin.overlap(a, b, "id", "start", "end", bucketW = 7L)
      .orderBy("a_id", "b_id")
  }
  private val j13Sql =
    """WITH o AS (SELECT o_orderkey, o_custkey,
      |  date_diff('day', DATE '1995-01-01', o_orderdate) AS d FROM orders),
      |a AS (SELECT o_orderkey AS a_id, d AS a_start, d + 3 AS a_end
      |      FROM o WHERE o_custkey % 100 = 0),
      |b AS (SELECT o_orderkey AS b_id, d AS b_start, d + 5 AS b_end
      |      FROM o WHERE o_custkey % 100 = 1)
      |SELECT a_id, b_id,
      |CAST(GREATEST(a_start, b_start) AS BIGINT) AS ov_start,
      |CAST(LEAST(a_end, b_end) AS BIGINT) AS ov_end
      |FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
      |ORDER BY a_id, b_id""".stripMargin

  // A14 — per-group least-squares regression (price ~ quantity): slope,
  // intercept and R² derived from the same exact decimal moments as
  // a11_stats_pack, then one fixed double expression tree — identical
  // IEEE arithmetic in both engines, no regr_slope() built-in needed
  // (and none of its accumulation-order dependence). At 100 TB this is
  // one map-side-combined aggregate per group; nothing else moves.
  private val a14Linreg: QFn = (s, dir) => {
    val x = col("l_quantity").cast(DecimalType(19, 4))
    val y = col("l_extendedprice").cast(DecimalType(19, 4))
    val m = t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).cast("long").as("n"),
           sum(x).as("sx"), sum(y).as("sy"),
           sum(x * x).as("sxx"), sum(y * y).as("syy"),
           sum(x * y).as("sxy"))
    val n = col("n")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
    val sxy = col("sxy").cast("double")
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    m.select(col("l_returnflag"), col("l_linestatus"), n,
        slope.as("slope"),
        ((sy - slope * sx) / n).as("intercept"),
        (slope * slope * (n * sxx - sx * sx) / (n * syy - sy * sy)).as("r2"))
      .orderBy("l_returnflag", "l_linestatus")
  }
  private val a14Sql =
    """WITH m AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  SUM(CAST(l_quantity AS DECIMAL(19,4))) AS sx,
      |  SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS sy,
      |  SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS sxx,
      |  SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS syy,
      |  SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy
      |  FROM lineitem GROUP BY 1, 2),
      |d AS (SELECT l_returnflag, l_linestatus, n,
      |  CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
      |  CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
      |  CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx,
      |  CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy,
      |  CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxy FROM m)
      |SELECT l_returnflag, l_linestatus, n,
      |(n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
      |(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept,
      |((n * sxy - sx * sy) / (n * sxx - sx * sx))
      |  * ((n * sxy - sx * sy) / (n * sxx - sx * sx))
      |  * (n * sxx - sx * sx) / (n * syy - sy * sy) AS r2
      |FROM d ORDER BY l_returnflag, l_linestatus""".stripMargin

  // S13 — schema evolution on read: a v1 writer lands files without
  // n_regionkey, a v2 writer appends the full schema; mergeSchema
  // reconciles them into one unioned scan where v1 rows surface NULLs
  // (the parquet-footers-only analog of a warehouse ALTER TABLE ADD
  // COLUMN — the pattern every long-lived 100-TB table needs because
  // rewriting history per column add is off the table).
  private val s13SchemaEvo: QFn = (s, dir) => {
    val src = t(s, dir, "nation")
    val tmp = org.apache.spark.ScratchDirs.create("graft_evo").toString
    src.select("n_nationkey", "n_name").write.mode("append").parquet(tmp)
    src.write.mode("append").parquet(tmp)
    s.read.option("mergeSchema", "true").parquet(tmp)
      .agg(count(lit(1)).as("n_rows"),
           (count(lit(1)) - count(col("n_regionkey"))).as("n_regionkey_nulls"),
           sum(col("n_regionkey")).cast("long").as("regionkey_sum"),
           countDistinct(col("n_name")).as("n_names"))
  }
  private val s13Sql =
    """SELECT 2 * COUNT(*) AS n_rows, COUNT(*) AS n_regionkey_nulls,
      |CAST(SUM(n_regionkey) AS BIGINT) AS regionkey_sum,
      |COUNT(DISTINCT n_name) AS n_names FROM nation""".stripMargin

  private val w12Interp: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val up = Window.partitionBy("user_id").orderBy("tus", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val down = Window.partitionBy("user_id").orderBy("tus", "event_id")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val e = t(s, dir, "events").select(
      col("event_id"), col("user_id"), expr("ts div 1000").as("tus"),
      when(col("event_type") === "purchase", col("value")).as("pv"),
      when(col("event_type") === "purchase", expr("ts div 1000")).as("pt"))
    e.withColumn("prev_v", last(col("pv"), ignoreNulls = true).over(up))
      .withColumn("prev_t", last(col("pt"), ignoreNulls = true).over(up))
      .withColumn("next_v", first(col("pv"), ignoreNulls = true).over(down))
      .withColumn("next_t", first(col("pt"), ignoreNulls = true).over(down))
      .withColumn("interp",
        when(col("prev_v").isNull || col("next_v").isNull,
          coalesce(col("prev_v"), col("next_v"), lit(-1.0)))
        .when(col("next_t") === col("prev_t"), col("prev_v"))
        .otherwise(col("prev_v") + (col("next_v") - col("prev_v")) *
          ((col("tus") - col("prev_t")).cast("double")
            / (col("next_t") - col("prev_t")).cast("double"))))
      .select("event_id", "user_id", "interp")
      .orderBy("event_id")
  }
  private val w12Sql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tns,
      |  CASE WHEN event_type = 'purchase' THEN value END AS pv,
      |  CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS pt
      |  FROM events),
      |f AS (SELECT event_id, user_id, tns,
      |  LAST_VALUE(pv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tns, event_id
      |    ROWS UNBOUNDED PRECEDING) AS prev_v,
      |  LAST_VALUE(pt IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tns, event_id
      |    ROWS UNBOUNDED PRECEDING) AS prev_t,
      |  FIRST_VALUE(pv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tns, event_id
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
      |  FIRST_VALUE(pt IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tns, event_id
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
      |  FROM e)
      |SELECT event_id, user_id,
      |  CASE WHEN prev_v IS NULL OR next_v IS NULL THEN COALESCE(prev_v, next_v, -1.0)
      |       WHEN next_t = prev_t THEN prev_v
      |       ELSE prev_v + (next_v - prev_v) *
      |         (CAST(tns - prev_t AS DOUBLE) / CAST(next_t - prev_t AS DOUBLE))
      |  END AS interp
      |FROM f ORDER BY event_id""".stripMargin

  // A2 scale path — approx_count_distinct (HLL++) next to the exact count.
  // The raw HLL estimate is engine-specific, so the oracled contract is
  // "exact count matches AND the estimate lands within the configured
  // error bound" (rsd 0.02 → checked at a lenient 3×): the oracle asserts
  // the booleans, the exact count pins the data.
  private val a2Approx: QFn = (s, dir) => {
    def withinBound(approx: Column, exact: Column): Column =
      (abs(approx - exact).cast("double") / exact.cast("double")) <= 0.06
    t(s, dir, "lineitem")
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
           countDistinct(col("l_partkey")).as("exact_parts"),
           approx_count_distinct(col("l_orderkey"), 0.02).as("a_o"),
           approx_count_distinct(col("l_partkey"), 0.02).as("a_p"))
      .select(col("exact_orders"), col("exact_parts"),
        withinBound(col("a_o"), col("exact_orders")).as("approx_orders_ok"),
        withinBound(col("a_p"), col("exact_parts")).as("approx_parts_ok"))
  }
  private val a2Sql =
    """SELECT COUNT(DISTINCT l_orderkey) AS exact_orders,
      |COUNT(DISTINCT l_partkey) AS exact_parts,
      |TRUE AS approx_orders_ok, TRUE AS approx_parts_ok
      |FROM lineitem""".stripMargin

  // ----------------------------------------------------------------- joins

  // J1/J2/P6 + S4 unknown-member semantics: left join against a restricted
  // dim, misses land on 'Unknown' (ref: proc_load_gold.sql:61-69,153-154).
  private val j1LeftUnknown: QFn = (s, dir) => {
    val bigParts = t(s, dir, "part").filter(col("p_size") > 25)
    t(s, dir, "lineitem")
      .join(bigParts, col("l_partkey") === col("p_partkey"), "left")
      .groupBy(coalesce(col("p_brand"), lit("Unknown")).as("brand"))
      .agg(count(lit(1)).as("n_items"),
           dsum(col("l_quantity")).cast("double").as("total_qty"))
      .orderBy("brand")
  }
  private val j1Sql =
    s"""SELECT COALESCE(p_brand, 'Unknown') AS brand, COUNT(*) AS n_items,
       |CAST(${dsumSql("l_quantity")} AS DOUBLE) AS total_qty
       |FROM lineitem LEFT JOIN (SELECT * FROM part WHERE p_size > 25) p
       |  ON l_partkey = p_partkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // J3 — join on a computed-key expression
  // (ref: proc_load_gold.sql:163-165 SUBSTRING/CAST join).
  private val j3ExprJoin: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    o.join(c, col("o_custkey") ===
        expr("CAST(substring(CAST(c_custkey AS STRING), 1, 10) AS BIGINT)"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }
  private val j3Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_orders
      |FROM orders LEFT JOIN customer
      |  ON o_custkey = CAST(substring(CAST(c_custkey AS VARCHAR), 1, 10) AS BIGINT)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // J5 — anti-join / NOT EXISTS: customers with no orders in 2001
  // (ref: proc_load_silver.sql:195-198).
  private val j5Anti: QFn = (s, dir) => {
    val recent = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00")))
    t(s, dir, "customer")
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_inactive"))
      .orderBy("c_mktsegment")
  }
  private val j5Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_inactive FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // J6 — semi-join / EXISTS: customers with at least one 2001 order.
  private val j6Semi: QFn = (s, dir) => {
    val recent = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00")))
    t(s, dir, "customer")
      .join(recent, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_active"))
      .orderBy("c_mktsegment")
  }
  private val j6Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_active FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // J7/I9 — referential-integrity audit: orphan counts fact→dims
  // (ref: tests/quality_checks_gold.sql:45-51, proc_load_gold.sql:170-174).
  private val j7RefIntegrity: QFn = (s, dir) => {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    def orphans(name: String, fact: DataFrame, dim: DataFrame,
                fk: String, pk: String): DataFrame =
      fact.join(dim, col(fk) === col(pk), "left")
        .filter(col(pk).isNull)
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(name).as("check_name"), col("n_orphans"))
    orphans("lineitem_orphan_order", li, o.select("o_orderkey"), "l_orderkey", "o_orderkey")
      .unionByName(orphans("lineitem_orphan_part", li,
        t(s, dir, "part").select("p_partkey"), "l_partkey", "p_partkey"))
      .unionByName(orphans("orders_orphan_customer", o,
        t(s, dir, "customer").select("c_custkey"), "o_custkey", "c_custkey"))
      .orderBy("check_name")
  }
  private val j7Sql =
    """SELECT 'lineitem_orphan_order' AS check_name, COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS n_orphans
      |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      |UNION ALL
      |SELECT 'lineitem_orphan_part', COUNT(*) FILTER (WHERE p_partkey IS NULL)
      |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
      |UNION ALL
      |SELECT 'orders_orphan_customer', COUNT(*) FILTER (WHERE c_custkey IS NULL)
      |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |ORDER BY check_name""".stripMargin

  // U2 — INTERSECT / EXCEPT (absent from the reference; completes the
  // engine's set-operation surface): customers active in both 2000 and
  // 2001, and those who lapsed after 2000.
  private def activeIn(s: SparkSession, dir: String, year: Int): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf(s"$year-01-01 00:00:00")) &&
              col("o_orderdate") < lit(java.sql.Timestamp.valueOf(s"${year + 1}-01-01 00:00:00")))
      .select(col("o_custkey")).distinct()
  private val u2SetOps: QFn = (s, dir) => {
    val a2000 = activeIn(s, dir, 2000); val a2001 = activeIn(s, dir, 2001)
    a2000.intersect(a2001)
      .select(col("o_custkey"), lit("retained").as("cohort"))
      .unionByName(a2000.except(a2001)
        .select(col("o_custkey"), lit("lapsed").as("cohort")))
      .orderBy("cohort", "o_custkey")
  }
  private val u2Sql =
    """WITH a2000 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2001-01-01'),
      |a2001 AS (SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '2001-01-01' AND o_orderdate < TIMESTAMP '2002-01-01')
      |SELECT o_custkey, 'retained' AS cohort FROM (SELECT o_custkey FROM a2000 INTERSECT SELECT o_custkey FROM a2001) x
      |UNION ALL
      |SELECT o_custkey, 'lapsed' AS cohort FROM (SELECT o_custkey FROM a2000 EXCEPT SELECT o_custkey FROM a2001) y
      |ORDER BY cohort, o_custkey""".stripMargin

  // U4 — bag (multiset) set operations: INTERSECT ALL keeps one row per
  // matched occurrence, EXCEPT ALL subtracts occurrence counts — the
  // multiplicity-aware semantics a dedup/reconciliation pipeline needs
  // (e.g. "how many order-priority slots does each status over-supply").
  private val u4BagOps: QFn = (s, dir) => {
    val f = t(s, dir, "orders").filter(col("o_totalprice") > 150000.0)
      .select("o_orderpriority")
    val g = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select("o_orderpriority")
    f.intersectAll(g).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      .unionByName(
        f.exceptAll(g).groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all")))
      .orderBy("op", "o_orderpriority")
  }
  private val u4Sql =
    """WITH f AS (SELECT o_orderpriority FROM orders WHERE o_totalprice > 150000.0),
      |g AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F')
      |SELECT o_orderpriority, n, op FROM (
      |  SELECT o_orderpriority, COUNT(*) AS n, 'intersect_all' AS op
      |  FROM (SELECT * FROM f INTERSECT ALL SELECT * FROM g) x GROUP BY 1
      |  UNION ALL
      |  SELECT o_orderpriority, COUNT(*) AS n, 'except_all' AS op
      |  FROM (SELECT * FROM f EXCEPT ALL SELECT * FROM g) y GROUP BY 1)
      |ORDER BY op, o_orderpriority""".stripMargin

  // F-regex — the regex scalar family (extract / match / count / split):
  // group extraction from order priority codes, anchored matching, and
  // token counting via regex split. Same regex dialect (RE2-ish basics)
  // on both engines.
  private val fRegexPack: QFn = (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        regexp_extract(col("o_orderpriority"), "^(\\d+)-(\\w+)$", 1).as("prio_num"),
        regexp_extract(col("o_orderpriority"), "^(\\d+)-(\\w+)$", 2).as("prio_word"),
        col("o_orderpriority").rlike("^[1-3]-").cast("int").as("is_urgent_band"),
        size(split(col("o_orderpriority"), "-")).as("n_tokens"))
      .orderBy("o_orderkey")
  private val fRegexSql =
    """SELECT o_orderkey,
      |regexp_extract(o_orderpriority, '^(\d+)-(\w+)$', 1) AS prio_num,
      |regexp_extract(o_orderpriority, '^(\d+)-(\w+)$', 2) AS prio_word,
      |CAST(CASE WHEN regexp_matches(o_orderpriority, '^[1-3]-') THEN 1 ELSE 0 END AS INT) AS is_urgent_band,
      |CAST(len(string_split_regex(o_orderpriority, '-')) AS INT) AS n_tokens
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ----------------------------------------------------------- aggregations

  // A5 — HAVING-style duplicate/threshold detection
  // (ref: tests/quality_checks_silver.sql:25-30).
  private val a5Having: QFn = (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 20)
      .orderBy("o_custkey")
  private val a5Sql =
    """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
      |GROUP BY o_custkey HAVING COUNT(*) >= 20 ORDER BY o_custkey""".stripMargin

  // A6 — conditional aggregate (CASE inside SUM)
  // (ref: proc_load_silver.sql:258-260 revenue reconciliation).
  private val a6CondAgg: QFn = (s, dir) => {
    val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast(DecimalType(18, 4))
    val zero = lit(0).cast(DecimalType(18, 4))
    t(s, dir, "lineitem")
      .groupBy("l_linestatus")
      .agg(sum(when(col("l_returnflag") === "R", rev).otherwise(zero))
             .cast("double").as("returned_revenue"),
           sum(when(col("l_returnflag") =!= "R", rev).otherwise(zero))
             .cast("double").as("kept_revenue"))
      .orderBy("l_linestatus")
  }
  private val a6Sql =
    """SELECT l_linestatus,
      |CAST(SUM(CASE WHEN l_returnflag = 'R'
      |  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS returned_revenue,
      |CAST(SUM(CASE WHEN l_returnflag <> 'R'
      |  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      |  ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS kept_revenue
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // A7/P7 — aggregate of a NULLIF-guarded expression
  // (ref: 13_report_products.sql:69 AVG(CAST(...)/NULLIF(qty,0))).
  private val a7GuardedAvg: QFn = (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg((dsum(col("l_extendedprice")).cast("double")
             / nullif(dsum(col("l_quantity")).cast("double"), lit(0.0)))
           .as("avg_unit_price"))
      .orderBy("l_returnflag")
  private val a7Sql =
    """SELECT l_returnflag,
      |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
      |  / NULLIF(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 0.0) AS avg_unit_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- windows

  // W1 — dedup keep-latest via ROW_NUMBER (ref: proc_load_silver.sql:90-97).
  private val w1KeepLatest: QFn = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("latest_orderkey"),
              col("o_orderdate").as("latest_orderdate"))
      .orderBy("o_custkey")
  }
  private val w1Sql =
    """SELECT o_custkey, o_orderkey AS latest_orderkey, o_orderdate AS latest_orderdate
      |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
      |  ROW_NUMBER() OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) x
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  // W2 — global ROW_NUMBER surrogate-key assignment over a deterministic
  // order (ref: proc_load_gold.sql:54,109). Fine on a dim; at 100 TB the
  // fact-side variant uses the two-phase assigner in gold/SurrogateKeys.
  private val w2Surrogate: QFn = (s, dir) =>
    t(s, dir, "nation")
      .withColumn("nation_sk",
        row_number().over(Window.orderBy("n_nationkey")).cast("long"))
      .select("nation_sk", "n_nationkey", "n_name")
      .orderBy("nation_sk")
  private val w2Sql =
    """SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) AS BIGINT) AS nation_sk,
      |n_nationkey, n_name FROM nation ORDER BY nation_sk""".stripMargin

  // -------------------------------------------------------- scalar packs

  // §2.8 string functions: TRIM/UPPER/SUBSTRING/REPLACE/LEN/CONCAT
  // (ref: proc_load_silver.sql:64-87,174-175).
  private val fStringPack: QFn = (s, dir) =>
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        trim(concat(lit("  "), col("p_name"), lit("  "))).as("name_trimmed"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        regexp_replace(col("p_name"), " ", "_").as("name_snake"),
        length(col("p_name")).as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
      .orderBy("p_partkey")
  private val fStringSql =
    """SELECT p_partkey, upper(p_name) AS name_upper,
      |trim(concat('  ', p_name, '  ')) AS name_trimmed,
      |substring(p_name, 1, 8) AS name_prefix,
      |replace(p_name, ' ', '_') AS name_snake,
      |CAST(length(p_name) AS INT) AS name_len,
      |concat_ws('|', p_brand, p_type) AS brand_type
      |FROM part ORDER BY p_partkey""".stripMargin

  // §2.8 date functions: YEAR/MONTH/DAY, DATETRUNC, FORMAT, DATEDIFF(day),
  // DATEADD, last_day (ref: §2.8 date/time row).
  private val fDatePack: QFn = (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderkey") % 100 === 0)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym_label"),
        // the reference's FORMAT(d,'yyyy-MMM') month label
        // (07_change_over_time_analysis.sql:42-48); English month
        // abbreviations on both engines (JVM root locale / DuckDB %b)
        date_format(col("o_orderdate"), "yyyy-MMM").as("ymon_label"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since_epoch"),
        date_add(col("o_orderdate"), 30).as("due_date"),
        last_day(col("o_orderdate")).as("month_end"))
      .orderBy("o_orderkey")
  private val fDateSql =
    """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y,
      |CAST(month(o_orderdate) AS INT) AS m, CAST(day(o_orderdate) AS INT) AS d,
      |date_trunc('month', o_orderdate) AS month_start,
      |strftime(o_orderdate, '%Y-%m') AS ym_label,
      |strftime(o_orderdate, '%Y-%b') AS ymon_label,
      |CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch,
      |CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
      |last_day(CAST(o_orderdate AS DATE)) AS month_end
      |FROM orders WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin

  // §2.8 hash functions — SHA2-256 change-detection fingerprint
  // (ref: proc_load_silver.sql:63-71 HASHBYTES('SHA2_256', CONCAT(...))).
  private val fHashPack: QFn = (s, dir) =>
    t(s, dir, "customer")
      .select(
        col("c_custkey"),
        sha2(concat_ws("|", col("c_custkey").cast("string"), col("c_name"),
                       col("c_mktsegment")), 256).as("row_hash"),
        md5(col("c_name")).as("name_md5"))
      .orderBy("c_custkey")
  private val fHashSql =
    """SELECT c_custkey,
      |sha256(concat_ws('|', CAST(c_custkey AS VARCHAR), c_name, c_mktsegment)) AS row_hash,
      |md5(c_name) AS name_md5
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------- incremental / security

  // I1-I3/P3 — watermark delta read + advance with the 1-day late-data
  // buffer (ref: proc_load_silver.sql:95,119-122,242,248-251).
  private val iWatermark: QFn = (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderdate") > lit(java.sql.Timestamp.valueOf("2000-06-01 00:00:00")))
      .agg(count(lit(1)).as("delta_rows"),
           dsum(col("o_totalprice")).cast("double").as("delta_value"),
           max(col("o_orderdate")).as("max_od"))
      .select(col("delta_rows"), col("delta_value"),
              expr("max_od - INTERVAL 1 DAY").as("new_watermark"))
  private val iWatermarkSql =
    """SELECT COUNT(*) AS delta_rows,
      |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS delta_value,
      |max(o_orderdate) - INTERVAL 1 DAY AS new_watermark
      |FROM orders WHERE o_orderdate > TIMESTAMP '2000-06-01'""".stripMargin

  // S5/I4 — SCD Type 1 MERGE as a driver-provable entry
  // (proc_load_silver.sql:58-113): target = stale snapshot (keys < 20,
  // names < 10 corrupted, keys 20+ missing), source = current nation.
  // The merge must update exactly the corrupted rows, insert exactly the
  // missing keys, and leave the rest untouched — the oracle states that
  // outcome directly as CASE timestamps over the key ranges, so a
  // misclassified row (hash compare wrong, join type wrong) hash-fails.
  private val iScd1Merge: QFn = (s, dir) => {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val nation = t(s, dir, "nation")
    val tracked = Seq("n_name", "n_regionkey")
    val source = graft.etl.Scd.withHash(nation, tracked)
    val stale = nation.filter(col("n_nationkey") < 20)
      .withColumn("n_name",
        when(col("n_nationkey") < 10, concat(lit("OLD_"), col("n_name")))
          .otherwise(col("n_name")))
    val target = graft.etl.Scd.withHash(stale, tracked)
      .withColumn("dwh_create_date", lit(ts0))
      .withColumn("dwh_update_date", lit(ts0))
    graft.etl.Scd.scd1Merge(target, source, Seq("n_nationkey"),
        "dwh_hash_full", ts1)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"),
              col("dwh_create_date"), col("dwh_update_date"))
      .orderBy("n_nationkey")
  }
  private val iScd1Sql =
    """SELECT n_nationkey, n_name, n_regionkey,
      |CASE WHEN n_nationkey < 20 THEN TIMESTAMP '2024-01-01 00:00:00'
      |     ELSE TIMESTAMP '2024-02-01 00:00:00' END AS dwh_create_date,
      |CASE WHEN n_nationkey >= 10 AND n_nationkey < 20
      |     THEN TIMESTAMP '2024-01-01 00:00:00'
      |     ELSE TIMESTAMP '2024-02-01 00:00:00' END AS dwh_update_date
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // I6 — watermarked delta fact append, end to end through the real
  // Warehouse + Watermark machinery (proc_load_silver.sql:217-252): two
  // batch arrivals (history ≤ cut, then the full source), each run doing
  // read-watermark → delta filter → idempotent anti-join append →
  // advance(max − 1 day). The 1-day late-data buffer makes batch 2
  // re-read batch 1's tail day, so the anti-join is load-bearing: the
  // oracle's exact COUNT/SUM over distinct orders fails on any dup or
  // dropped row, and the control-table watermark must equal max − 1d.
  private val iDeltaAppend: QFn = (s, dir) => {
    val tmp = org.apache.spark.ScratchDirs.create("graft_delta").toString
    val wh = graft.etl.Warehouse(tmp)
    val wmCtl = graft.etl.Watermark(wh)
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    def runLoad(src: DataFrame): Unit = {
      val wm = wmCtl.read(s, "fact_orders")
      val delta = wmCtl.deltaFilter(src, "o_orderdate", wm)
      if (!wh.exists("silver", "fact_orders"))
        wh.overwrite(delta, "silver", "fact_orders")
      else {
        val existing = wh.read(s, "silver", "fact_orders").select("o_orderkey")
        wh.append(delta.join(existing, Seq("o_orderkey"), "left_anti"),
          "silver", "fact_orders")
      }
      wmCtl.nextWatermark(delta, "o_orderdate")
        .foreach(wmCtl.advance(s, "fact_orders", _))
    }
    runLoad(orders.filter(
      col("o_orderdate") <= lit(java.sql.Timestamp.valueOf("1997-06-30 00:00:00"))))
    runLoad(orders)
    wh.read(s, "silver", "fact_orders")
      .agg(count(lit(1)).as("n_rows"),
           dsum(col("o_totalprice")).cast("double").as("total_value"))
      .withColumn("final_watermark", lit(wmCtl.read(s, "fact_orders")))
  }
  private val iDeltaAppendSql =
    s"""SELECT COUNT(*) AS n_rows,
       |CAST(${dsumSql("o_totalprice")} AS DOUBLE) AS total_value,
       |max(o_orderdate) - INTERVAL 1 DAY AS final_watermark
       |FROM orders""".stripMargin

  // I8 — audit logging (proc_load_bronze.sql:47-48,150-160): two timed
  // loads plus one simulated failure into a temp warehouse; the log must
  // carry exact row counts, Success/Failed statuses and the captured
  // error message. Wall-clock columns are projected out (the only
  // nondeterministic part); everything else is oracled as literals +
  // table counts.
  private val iAuditLog: QFn = (s, dir) => {
    val tmp = org.apache.spark.ScratchDirs.create("graft_audit").toString
    val wh = graft.etl.Warehouse(tmp)
    val audit = graft.etl.Audit(wh)
    val batch = audit.nextBatchId(s)
    audit.timed(s, batch, "bronze", "nation_raw") {
      wh.overwrite(t(s, dir, "nation"), "bronze", "nation_raw")
      wh.read(s, "bronze", "nation_raw").count()
    }
    audit.timed(s, batch, "bronze", "region_raw") {
      wh.overwrite(t(s, dir, "region"), "bronze", "region_raw")
      wh.read(s, "bronze", "region_raw").count()
    }
    try audit.timed(s, batch, "bronze", "broken_feed") {
      throw new IllegalStateException("simulated source outage")
    } catch { case _: IllegalStateException => () }
    wh.read(s, "audit", "etl_log")
      .select("batch_id", "layer", "table_name", "rows_loaded", "status",
              "error_message")
      .orderBy("table_name")
  }
  private val iAuditLogSql =
    """SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS batch_id, 'bronze' AS layer,
      |         'broken_feed' AS table_name, CAST(-1 AS BIGINT) AS rows_loaded,
      |         'Failed' AS status, 'simulated source outage' AS error_message
      |  UNION ALL
      |  SELECT 1, 'bronze', 'nation_raw', (SELECT COUNT(*) FROM nation),
      |         'Success', ''
      |  UNION ALL
      |  SELECT 1, 'bronze', 'region_raw', (SELECT COUNT(*) FROM region),
      |         'Success', '')
      |ORDER BY table_name""".stripMargin

  // J12 — point-in-time (SCD2 validity) join: each fact row picks up
  // the dimension VERSION that was current at its event date — the
  // equi-join on the key carries the heavy lifting (hash-partitioned,
  // no nested loop), the validity range is a residual filter. Dimension
  // versions are derived on the fly from the order history (each
  // customer's orders form consecutive validity intervals, LEAD closes
  // them), so the oracle rebuilds the identical intervals.
  private val j12PointInTime: QFn = (s, dir) => {
    val orders = t(s, dir, "orders")
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val versions = orders.select(col("o_custkey"),
        col("o_orderkey").as("version_id"),
        col("o_orderpriority").as("version_priority"),
        col("o_orderdate").as("eff"),
        lead(col("o_orderdate"), 1).over(w).as("exp"))
    val facts = orders.select(col("o_custkey"), col("o_orderkey"),
      col("o_orderdate"))
    facts.join(versions, Seq("o_custkey"))
      .filter(col("o_orderdate") >= col("eff") &&
        (col("exp").isNull || col("o_orderdate") < col("exp")))
      .groupBy("version_priority")
      .agg(count(lit(1)).as("n_matched"),
           countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy("version_priority")
  }
  private val j12Sql =
    """WITH v AS (SELECT o_custkey, o_orderkey AS version_id,
      |  o_orderpriority AS version_priority, o_orderdate AS eff,
      |  LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) AS exp FROM orders),
      |f AS (SELECT o_custkey, o_orderkey, o_orderdate FROM orders)
      |SELECT version_priority, COUNT(*) AS n_matched,
      |COUNT(DISTINCT f.o_custkey) AS n_customers
      |FROM f JOIN v USING (o_custkey)
      |WHERE f.o_orderdate >= v.eff
      |  AND (v.exp IS NULL OR f.o_orderdate < v.exp)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // W15 — gaps and islands: per-user consecutive-day activity streaks
  // via the day − dense_rank trick (consecutive days share a constant
  // difference → one key-partitioned window + one groupBy; no global
  // structure). Reports each user's longest streak and streak count.
  private val w15GapsIslands: QFn = (s, dir) => {
    val days = t(s, dir, "events")
      .select(col("user_id"), expr("(ts div 1000000000) div 86400").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val islands = days
      .withColumn("__grp", col("day") - row_number().over(w))
      .groupBy("user_id", "__grp")
      .agg(count(lit(1)).as("streak_len"))
    islands.groupBy("user_id")
      .agg(max(col("streak_len")).as("longest_streak"),
           count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }
  private val w15Sql =
    """WITH d AS (SELECT DISTINCT user_id,
      |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
      |g AS (SELECT user_id, day,
      |  day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM d),
      |i AS (SELECT user_id, grp, COUNT(*) AS streak_len
      |      FROM g GROUP BY 1, 2)
      |SELECT user_id, MAX(streak_len) AS longest_streak,
      |COUNT(*) AS n_streaks
      |FROM i GROUP BY 1 ORDER BY 1""".stripMargin

  // I13 — SCD Type 3: current value + most-recent PREVIOUS value as
  // columns (the third classic slowly-changing-dimension form next to
  // the repo's SCD1 merge and SCD2 intervals). Derived from the order
  // history: per customer, the latest order's priority is current; the
  // newest order carrying a DIFFERENT priority supplies the previous
  // value ('n/a' when the history never changed). Two key-partitioned
  // windows, no global sort.
  private val i13Scd3: QFn = (s, dir) => {
    val orders = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val byCustDesc = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val latest = orders.withColumn("__rn", row_number().over(byCustDesc))
      .filter(col("__rn") === 1)
      .select(col("o_custkey"), col("o_orderpriority").as("current_priority"))
    val prev = orders.join(latest, "o_custkey")
      .filter(col("o_orderpriority") =!= col("current_priority"))
      .withColumn("__rn", row_number().over(byCustDesc))
      .filter(col("__rn") === 1)
      .select(col("o_custkey"), col("o_orderpriority").as("previous_priority"))
    latest.join(prev, Seq("o_custkey"), "left")
      .select(col("o_custkey"), col("current_priority"),
        coalesce(col("previous_priority"), lit("n/a")).as("previous_priority"))
      .orderBy("o_custkey")
  }
  private val i13Sql =
    """WITH latest AS (SELECT o_custkey, o_orderpriority AS current_priority
      |  FROM orders QUALIFY row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate DESC, o_orderkey DESC) = 1),
      |prev AS (SELECT o.o_custkey, o.o_orderpriority AS previous_priority
      |  FROM orders o JOIN latest USING (o_custkey)
      |  WHERE o.o_orderpriority <> latest.current_priority
      |  QUALIFY row_number() OVER (PARTITION BY o.o_custkey
      |    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) = 1)
      |SELECT o_custkey, current_priority,
      |COALESCE(previous_priority, 'n/a') AS previous_priority
      |FROM latest LEFT JOIN prev USING (o_custkey)
      |ORDER BY o_custkey""".stripMargin

  // S12 — table profiling (the reference's EDA-exploration analog as
  // ONE operator): per-column non-null / distinct counts and min/max in
  // a single pass over the table — one aggregate with 4 expressions per
  // column, then a stack() unpivot; no per-column rescans. Numeric
  // min/max surface through DECIMAL(18,4)→string so both engines print
  // identical text.
  private val s12Profile: QFn = (s, dir) => {
    val orders = t(s, dir, "orders")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    // two aggregates, not one: the multi-distinct Expand stays purely
    // hash-capable (count buffers only), while min/max — whose STRING
    // buffers force SortAggregate — run over the unexpanded rows (6×
    // fewer than the Expand stream; 3.1 s → 1.2 s at sf0.1)
    val cntAggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}_nn"), countDistinct(col(c)).as(s"${c}_nd"))
    }
    def minMax(c: String): (Column, Column) = c match {
      case "o_totalprice" =>
        (min(col(c)).cast(DecimalType(18, 4)).cast("string"),
         max(col(c)).cast(DecimalType(18, 4)).cast("string"))
      case _ => (min(col(c)).cast("string"), max(col(c)).cast("string"))
    }
    val mmAggs = cols.flatMap { c =>
      val (mn, mx) = minMax(c)
      Seq(mn.as(s"${c}_mn"), mx.as(s"${c}_mx"))
    }
    val wide = orders.agg(cntAggs.head, cntAggs.tail: _*)
      .crossJoin(broadcast(orders.agg(mmAggs.head, mmAggs.tail: _*)))
    val stackArgs = cols.map(c =>
      s"'$c', ${c}_nn, ${c}_nd, ${c}_mn, ${c}_mx").mkString(", ")
    wide.select(expr(
        s"stack(${cols.size}, $stackArgs) AS " +
          "(column_name, n_nonnull, n_distinct, min_value, max_value)"))
      .orderBy("column_name")
  }
  private val s12Sql = {
    def row(c: String, mm: String => String) =
      s"""SELECT '$c' AS column_name, COUNT($c) AS n_nonnull,
         |COUNT(DISTINCT $c) AS n_distinct,
         |${mm(s"MIN($c)")} AS min_value, ${mm(s"MAX($c)")} AS max_value
         |FROM orders""".stripMargin
    val plain = (x: String) => s"CAST($x AS VARCHAR)"
    val dec = (x: String) => s"CAST(CAST($x AS DECIMAL(18,4)) AS VARCHAR)"
    Seq(row("o_orderkey", plain), row("o_custkey", plain),
        row("o_orderstatus", plain), row("o_totalprice", dec),
        row("o_orderdate", plain), row("o_orderpriority", plain))
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // I12 — snapshot diff (CDC derivation): given two snapshots of a
  // keyed table, classify every key as inserted / deleted / changed /
  // unchanged via one full-outer join comparing a non-key fingerprint —
  // the change feed a downstream incremental consumer needs when the
  // source publishes only full snapshots. Both snapshots are derived
  // deterministically from orders (old = pre-cut; new = all rows, with
  // a price bump on a keyed slice), so the oracle rebuilds the same
  // diff in SQL.
  private val i12SnapshotDiff: QFn = (s, dir) => {
    val cut = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val orders = t(s, dir, "orders")
    val oldSnap = orders.filter(col("o_orderdate") < lit(cut))
      .select(col("o_orderkey"), col("o_totalprice"))
    val newSnap = orders
      .filter(col("o_orderkey") % 89 =!= 1) // a keyed slice got deleted
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
    val o = oldSnap.select(col("o_orderkey"), col("o_totalprice").as("old_p"))
    val n = newSnap.select(col("o_orderkey"), col("o_totalprice").as("new_p"))
    o.join(n, Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        when(col("old_p").isNull, lit("inserted"))
          .when(col("new_p").isNull, lit("deleted"))
          .when(col("old_p") =!= col("new_p"), lit("changed"))
          .otherwise(lit("unchanged")).as("change"))
      .groupBy("change").agg(count(lit(1)).as("n_keys"))
      .orderBy("change")
  }
  private val i12Sql =
    """WITH o AS (SELECT o_orderkey, o_totalprice AS old_p FROM orders
      |           WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
      |n AS (SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
      |       ELSE o_totalprice END AS new_p FROM orders
      |      WHERE o_orderkey % 89 <> 1)
      |SELECT CASE WHEN old_p IS NULL THEN 'inserted'
      |            WHEN new_p IS NULL THEN 'deleted'
      |            WHEN old_p <> new_p THEN 'changed'
      |            ELSE 'unchanged' END AS change,
      |COUNT(*) AS n_keys
      |FROM o FULL OUTER JOIN n USING (o_orderkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // I10 — incremental aggregate maintenance: the monthly gold rollup is
  // maintained by merging the delta's PARTIAL aggregate into the base
  // aggregate (counts/decimal sums are associative), and the derived
  // average is recomputed from merged primitives. The oracle is the
  // from-scratch aggregate over ALL orders — any non-associative merge
  // or stale derived measure hash-fails.
  private val i10IncrementalAgg: QFn = (s, dir) => {
    val cut = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    def monthly(df: DataFrame): DataFrame = df
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
           dsum(col("o_totalprice")).as("month_value"))
    val orders = t(s, dir, "orders")
    val base = monthly(orders.filter(col("o_orderdate") < lit(cut)))
    val delta = monthly(orders.filter(col("o_orderdate") >= lit(cut)))
    graft.etl.IncrementalAgg.withDerived(
        graft.etl.IncrementalAgg.merge(Seq(base, delta), keys = Seq("month"),
          counts = Seq("n_orders"), sums = Seq("month_value")),
        Seq("avg_order_value" ->
          (col("month_value").cast("double") / col("n_orders"))))
      .select(col("month"), col("n_orders"),
        col("month_value").cast("double").as("month_value"),
        col("avg_order_value"))
      .orderBy("month")
  }
  private val i10Sql =
    s"""SELECT date_trunc('month', o_orderdate) AS month,
       |COUNT(*) AS n_orders,
       |CAST(${dsumSql("o_totalprice")} AS DOUBLE) AS month_value,
       |CAST(${dsumSql("o_totalprice")} AS DOUBLE) / COUNT(*) AS avg_order_value
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // J11 — salted skew join, driver-proven: lineitem keyed on
  // l_returnflag is adversarially skewed (3 hot keys carry everything);
  // the salted join replicates the tiny flag dim 8 ways and scatters
  // probe rows by a deterministic hash of the line's unique key, so no
  // reducer owns a whole hot key. The oracle is the PLAIN join — the
  // salt must be invisible in the result.
  private val j11SkewSalted: QFn = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .withColumn("__rowkey",
        concat_ws(":", col("l_orderkey"), col("l_linenumber")))
    val flagDim = li.select(col("l_returnflag")).distinct()
      .withColumn("flag_label", concat(lit("FLAG_"), col("l_returnflag")))
    graft.operators.SkewJoin.saltedJoin(li, flagDim,
        keys = Seq("l_returnflag"), saltCol = "__rowkey", saltFactor = 8)
      .groupBy("flag_label")
      .agg(count(lit(1)).as("n_lines"),
           dsum(col("l_quantity")).cast("double").as("total_qty"))
      .orderBy("flag_label")
  }
  private val j11Sql =
    s"""WITH fd AS (SELECT DISTINCT l_returnflag,
       |  'FLAG_' || l_returnflag AS flag_label FROM lineitem)
       |SELECT flag_label, COUNT(*) AS n_lines,
       |CAST(${dsumSql("l_quantity")} AS DOUBLE) AS total_qty
       |FROM lineitem JOIN fd USING (l_returnflag)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // S9b — bucketed co-located join, driver-proven: both sides persist in
  // the same bucket layout (the Parquet answer to the reference's
  // join-key indexes), then join on the bucket key — BucketingSpec
  // proves the plan has no Exchange; this entry proves the RESULT
  // against the plain-join oracle.
  private val s9BucketedJoin: QFn = (s, dir) => {
    graft.operators.Bucketing.writeBucketed(
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      "graft_b_orders", "o_custkey", 8)
    graft.operators.Bucketing.writeBucketed(
      t(s, dir, "customer").select("c_custkey", "c_mktsegment")
        .withColumnRenamed("c_custkey", "o_custkey"),
      "graft_b_customer", "o_custkey", 8)
    graft.operators.Bucketing.bucketedJoin(s, "graft_b_orders",
        "graft_b_customer", "o_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).cast("double").as("segment_value"))
      .orderBy("c_mktsegment")
  }
  private val s9Sql =
    s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
       |CAST(${dsumSql("o_totalprice")} AS DOUBLE) AS segment_value
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // I5 — SCD2 interval semantics derived from history: effective/expiry via
  // LEAD, exactly one current row per key (ref: proc_load_silver.sql:141-201).
  private val scd2Intervals: QFn = (s, dir) => {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
              col("o_orderdate").as("effective_date"),
              lead(col("o_orderdate"), 1).over(w).as("expiry_date"))
      .withColumn("is_current", col("expiry_date").isNull)
      .orderBy("o_custkey", "o_orderkey")
  }
  private val scd2Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate AS effective_date,
      |LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |  ORDER BY o_orderdate, o_orderkey) AS expiry_date,
      |LEAD(o_orderdate) OVER (PARTITION BY o_custkey
      |  ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // X1 — row-level security: broadcast semi-join against a per-user country
  // allowlist (ref: ddl_security.sql:69-97). Allowlist inlined for the
  // oracle; security.Secure parameterizes it per user.
  private val x1Rls: QFn = (s, dir) => {
    val ss = s; import ss.implicits._
    val allowed = Seq("NATION_1", "NATION_7", "NATION_13").toDF("allowed_nation")
    t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(allowed), col("n_name") === col("allowed_nation"), "left_semi")
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"),
           dsum(col("c_acctbal")).cast("double").as("total_acctbal"))
      .orderBy("n_name")
  }
  private val x1Sql =
    s"""SELECT n_name, COUNT(*) AS n_customers,
       |CAST(${dsumSql("c_acctbal")} AS DOUBLE) AS total_acctbal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |WHERE n_name IN ('NATION_1', 'NATION_7', 'NATION_13')
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  // X2 — dynamic data masking: conditional column rewrite
  // (ref: ddl_security.sql:104-111). Role fixed to 'analyst' here; the
  // parameterized view lives in security.Secure.
  private val x2Masking: QFn = (s, dir) =>
    graft.security.Secure.maskedOrders(t(s, dir, "orders"), role = "analyst")
      .filter(col("o_orderkey") <= 1000)
      .orderBy("o_orderkey")
  private val x2Sql =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |CASE WHEN TRUE THEN 0.0 ELSE o_totalprice END AS o_totalprice_masked
      |FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin

  // X3/X4 — classification-driven masking resolved per role
  // (ddl_security.sql:22-26,118-128): a dim_customers-shaped view where
  // the metadata map (Secure.classification) decides per column what
  // each role may see — PII strings get the sentinel, PII dates null
  // out (type-preserving), Confidential stays. Both roles' resolved
  // views are emitted side by side, so the oracle's CASE masks check
  // the role→view resolution AND the label-driven projection at once.
  private val x3Classified: QFn = (s, dir) => {
    val dim = t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("customer_key"),
        col("c_name").as("first_name"),
        col("c_mktsegment").as("last_name"),
        date_add(lit(java.sql.Date.valueOf("1970-01-01")),
          (col("c_custkey") % 12000).cast("int")).as("birth_date"),
        col("n_name").as("country"),
        col("c_acctbal").as("acctbal"))
    val perRole = Seq("analyst", "manager").map { role =>
      graft.security.Secure.classifiedView(dim, "dim_customers", role)
        .withColumn("role", lit(role))
    }
    perRole.reduce(_.unionByName(_)).orderBy("role", "customer_key")
  }
  private val x3Sql =
    """WITH dim AS (SELECT c_custkey AS customer_key, c_name AS first_name,
      |  c_mktsegment AS last_name,
      |  DATE '1970-01-01' + CAST(c_custkey % 12000 AS INT) AS birth_date,
      |  n_name AS country, c_acctbal AS acctbal
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
      |SELECT customer_key, '***MASKED***' AS first_name,
      |  '***MASKED***' AS last_name, CAST(NULL AS DATE) AS birth_date,
      |  country, acctbal, 'analyst' AS role FROM dim
      |UNION ALL
      |SELECT customer_key, first_name, last_name, birth_date,
      |  country, acctbal, 'manager' FROM dim
      |ORDER BY role, customer_key""".stripMargin

  // Semi-structured extraction: schema-declared from_json over the events
  // props column, aggregated per type. (Beyond the reference's surface —
  // no JSON appears there — but table stakes for an events warehouse.)
  private val evJsonExtract: QFn = (s, dir) => {
    val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))).getField("k")
    t(s, dir, "events")
      .select(col("event_type"), k.as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           sum(col("k")).cast("long").as("k_sum"),
           min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      .orderBy("event_type")
  }
  private val evJsonSql =
    """SELECT event_type, COUNT(*) AS n_events,
      |CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
      |CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // A4 on the events stream table — hourly tumbling aggregation, the batch
  // twin of streaming/EventStream's windowed query (§2.9 analog).
  private val evHourlyAgg: QFn = (s, dir) =>
    t(s, dir, "events")
      .select(Tables.eventTs("ts").as("event_time"), col("event_type"), col("value"))
      .groupBy(date_trunc("hour", col("event_time")).as("hour_window"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           dsum(col("value")).cast("double").as("total_value"))
      .orderBy("hour_window", "event_type")
  private val evHourlySql =
    s"""SELECT date_trunc('hour', ts) AS hour_window, event_type,
       |COUNT(*) AS n_events, CAST(${dsumSql("value")} AS DOUBLE) AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // Sessionization over the event stream (batch form): gap > 30 min opens
  // a new session; per-session rollup. Second-granularity epochs on both
  // engines sidestep the ns-vs-µs timestamp precision mismatch.
  private val evSessionize: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val sec = expr("ts div 1000000000")
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val e = t(s, dir, "events").select(col("user_id"), col("event_id"), sec.as("sec"))
    val g = e.withColumn("new_session",
      when(lag(col("sec"), 1).over(w).isNull ||
           col("sec") - lag(col("sec"), 1).over(w) > 1800, 1).otherwise(0))
    g.withColumn("session_id", sum(col("new_session")).over(w).cast("long"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
           (max(col("sec")) - min(col("sec"))).cast("long").as("duration_s"))
      .orderBy("user_id", "session_id")
  }
  private val evSessionizeSql =
    """WITH e AS (SELECT user_id, event_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
      |g AS (SELECT user_id, event_id, sec,
      |  CASE WHEN LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
      |         OR sec - LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
      |       THEN 1 ELSE 0 END AS new_session FROM e),
      |s AS (SELECT user_id, sec,
      |  SUM(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS session_id
      |  FROM g)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |COUNT(*) AS n_events, CAST(MAX(sec) - MIN(sec) AS BIGINT) AS duration_s
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // J8b — as-of join (graft.operators.AsOfJoin): each click event picks
  // up the most recent prior-or-simultaneous error event of the same
  // user. Oracled against DuckDB's native ASOF LEFT JOIN. The ns-long
  // ts column is compared, never emitted (µs-vs-ns engine mismatch).
  private val j8AsOf: QFn = (s, dir) => {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"), col("ts"))
    graft.operators.AsOfJoin.asOf(clicks, errors, key = "user_id", time = "ts")
      .select(col("event_id").as("click_id"), col("user_id"),
        coalesce(col("error_id"), lit(-1L)).as("last_error_id"))
      .orderBy("click_id")
  }
  private val j8Sql =
    """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
      |SELECT c.event_id AS click_id, c.user_id,
      |COALESCE(e.event_id, CAST(-1 AS BIGINT)) AS last_error_id
      |FROM c ASOF LEFT JOIN e ON c.user_id = e.user_id AND c.ts >= e.ts
      |ORDER BY click_id""".stripMargin

  // J9 — range (band) join: orders classified into literal price bands
  // via a BETWEEN-style inequality join. The band table is tiny by
  // construction → broadcast nested-loop, the correct physical shape
  // (each fact row tests 3 predicates; no shuffle of the fact side).
  private val bandRows = Seq(
    ("low", 0.0, 100000.0), ("mid", 100000.0, 250000.0),
    ("high", 250000.0, Double.MaxValue))
  private val j9RangeBand: QFn = (s, dir) => {
    import s.implicits._
    val bands = bandRows.toDF("band", "lo", "hi")
    t(s, dir, "orders")
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).cast("double").as("total_price"))
      .orderBy("band")
  }
  private val j9Sql =
    s"""SELECT band, COUNT(*) AS n_orders,
       |CAST(${dsumSql("o_totalprice")} AS DOUBLE) AS total_price
       |FROM orders
       |JOIN (VALUES ('low', 0.0, 100000.0), ('mid', 100000.0, 250000.0),
       |             ('high', 250000.0, 1e308)) AS b(band, lo, hi)
       |  ON o_totalprice >= lo AND o_totalprice < hi
       |GROUP BY band ORDER BY band""".stripMargin

  // A9 — GROUPING SETS: the explicit multi-level rollup (nation × order
  // year, nation-only, year-only, grand total) with GROUPING() flags
  // disambiguating subtotal rows from genuine NULL groups.
  private val a9SetsSelect =
    s"""SELECT COALESCE(n_name, 'ALL') AS nation,
       |COALESCE(yr, -1) AS order_year,
       |CAST(GROUPING(n_name) AS INT) AS g_nation,
       |CAST(GROUPING(yr) AS INT) AS g_year,
       |COUNT(*) AS n_orders,
       |CAST(${dsumSql("o_totalprice")} AS DOUBLE) AS total_price
       |FROM (SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr, o_totalprice
       |      FROM orders
       |      JOIN customer ON o_custkey = c_custkey
       |      JOIN nation ON c_nationkey = n_nationkey) t
       |GROUP BY GROUPING SETS ((n_name, yr), (n_name), (yr), ())
       |ORDER BY nation, order_year""".stripMargin
  private val a9GroupingSets: QFn = (s, dir) => {
    Tables.registerAll(s, dir)
    s.sql(a9SetsSelect)
  }

  // A10 — CUBE over (status, priority): all 4 grouping combinations in
  // one pass (Expand node in Spark; the reference would UNION ALL four
  // hand-written aggregations).
  private val a10CubeSelect =
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       |COALESCE(o_orderpriority, 'ALL') AS priority,
       |CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       |CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       |COUNT(*) AS n_orders,
       |CAST(${dsumSql("o_totalprice")} AS DOUBLE) AS total_price
       |FROM orders
       |GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY status, priority, g_status, g_priority""".stripMargin
  private val a10Cube: QFn = (s, dir) => {
    Tables.registerAll(s, dir)
    s.sql(a10CubeSelect)
  }

  // U3 — unpivot/melt: a wide per-status aggregate reshaped to long
  // (metric, value) rows via Dataset.unpivot (one pass, no join); the
  // oracle is the portable UNION ALL form.
  private val u3Unpivot: QFn = (s, dir) => {
    val wide = t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).cast("double").as("n_orders"),
           dsum(col("o_totalprice")).cast("double").as("total_price"),
           max(col("o_totalprice")).as("max_price"))
    wide.unpivot(
        ids = Array(col("o_orderstatus")),
        values = Array(col("n_orders"), col("total_price"), col("max_price")),
        variableColumnName = "metric",
        valueColumnName = "v")
      .orderBy("o_orderstatus", "metric")
  }
  private val u3Sql =
    s"""WITH wide AS (SELECT o_orderstatus,
       |  CAST(COUNT(*) AS DOUBLE) AS n_orders,
       |  CAST(${dsumSql("o_totalprice")} AS DOUBLE) AS total_price,
       |  MAX(o_totalprice) AS max_price
       |  FROM orders GROUP BY o_orderstatus)
       |SELECT o_orderstatus, metric, v FROM (
       |  SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS v FROM wide
       |  UNION ALL
       |  SELECT o_orderstatus, 'total_price', total_price FROM wide
       |  UNION ALL
       |  SELECT o_orderstatus, 'max_price', max_price FROM wide)
       |ORDER BY o_orderstatus, metric""".stripMargin

  // J10 — fuzzy self-match: near-identical part names (edit distance ≤ 2)
  // within a brand block. Blocking key (brand) + cheap length-band
  // prefilter (a valid levenshtein lower bound) bound the quadratic
  // comparison to within-block pairs — the classic fuzzy-dedup shape;
  // at 100 TB the block key sizes the shuffle groups.
  private val j10Fuzzy: QFn = (s, dir) => {
    val p = t(s, dir, "part").select("p_partkey", "p_name", "p_brand")
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    // shuffle join on the block key: both sides exchange on p_brand, so
    // the build side never has to fit in one broadcast (at 100 TB the
    // compare side is a fact, not a dim) and each block's quadratic
    // levenshtein work lands on the task owning that key. The explicit
    // partition count matters twice over: AQE would otherwise broadcast
    // the (locally tiny) side — no longer the scale plan — or coalesce
    // the small pre-join exchanges to one partition, serializing every
    // levenshtein eval behind a single task; a user repartition with a
    // fixed count is honored, and the co-partitioned join reuses it.
    val a = p.select(col("p_brand"), col("p_partkey").as("key_a"), col("p_name").as("name_a"))
      .repartition(n, col("p_brand"))
    val b = p.select(col("p_brand"), col("p_partkey").as("key_b"), col("p_name").as("name_b"))
      .repartition(n, col("p_brand"))
    a.hint("shuffle_hash").join(b, Seq("p_brand"))
      .filter(col("key_a") < col("key_b"))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 2)
      .filter(levenshtein(col("name_a"), col("name_b")) <= 2)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_close_pairs"))
      .orderBy("p_brand")
  }
  private val j10Sql =
    """SELECT a.p_brand, COUNT(*) AS n_close_pairs
      |FROM part a JOIN part b
      |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      | AND abs(length(a.p_name) - length(b.p_name)) <= 2
      | AND levenshtein(a.p_name, b.p_name) <= 2
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // W9 — LOCF (last observation carried forward): every event carries the
  // user's most recent purchase value at that point — null-skipping
  // last() over a per-user ordered frame, the standard gap-fill for
  // sparse state in event streams. ts (ns long) orders but is not output.
  private val w9Locf: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "purchase", col("value")).as("pv"))
      .withColumn("last_purchase_value",
        coalesce(last(col("pv"), ignoreNulls = true).over(w), lit(-1.0)))
      .select("event_id", "user_id", "last_purchase_value")
      .orderBy("event_id")
  }
  private val w9Sql =
    """SELECT event_id, user_id,
      |COALESCE(LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |  OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING),
      |  -1.0) AS last_purchase_value
      |FROM events ORDER BY event_id""".stripMargin

  // I15 — incremental JOIN view maintenance: the materialized
  // orders⋈lineitem view advances by the insert-only delta rule
  // (etl/JoinIvm: ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB) instead of re-joining both
  // histories — every term is |Δ|-sized, and with key-bucketed bases the
  // probes are co-located at 100 TB. The oracle is the from-scratch
  // join: equality IS the delta-rule correctness claim.
  private val i15JoinIvm: QFn = (s, dir) => {
    val cut = lit("1998-01-01").cast("date")
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
    val l = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"),
              col("l_shipdate"))
    val (a0, da) = (o.filter(col("o_orderdate") < cut),
                    o.filter(col("o_orderdate") >= cut))
    val (b0, db) = (l.filter(col("l_shipdate") < cut),
                    l.filter(col("l_shipdate") >= cut))
    val base = a0.join(b0, Seq("o_orderkey"))
    JoinIvm.maintain(base, a0, da, b0, db, Seq("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
           dsum(col("l_extendedprice")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }
  private val i15Sql =
    s"""SELECT o_orderpriority, COUNT(*) AS n_rows,
       |CAST(${dsumSql("l_extendedprice")} AS DOUBLE) AS revenue
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // W16 — rolling exact median: 7-day-frame median of per-nation daily
  // revenue. Spark has no median window; the frame is BOUNDED (≤ 7
  // rows), so collect_list + sort_array inside the frame is O(1) per
  // row — the right exact form for any constant frame (data-scaled
  // frames would want approx sketches instead). The pre-aggregation
  // bounds the windowed rows by calendar × nations, not by data size;
  // the oracle replays list-sort-pick so even-count interpolation is
  // identical in both engines.
  private val w16RollingMedian: QFn = (s, dir) => {
    val daily = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderdate"))
      .agg(dsum(col("o_totalprice")).as("rev"))
    val w = Window.partitionBy("n_name").orderBy("o_orderdate")
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("fr", sort_array(collect_list(col("rev")).over(w)))
      .withColumn("n", size(col("fr")))
      .withColumn("rolling_median",
        (element_at(col("fr"), ((col("n") + 1) / 2).cast("int")).cast("double") +
         element_at(col("fr"), (col("n") / 2 + 1).cast("int")).cast("double")) / 2.0)
      .select(col("n_name"), col("o_orderdate"),
              col("rev").cast("double").as("day_revenue"),
              col("rolling_median"))
      .orderBy("n_name", "o_orderdate")
  }
  private val w16Sql =
    s"""WITH daily AS (
       |  SELECT n_name, o_orderdate, ${dsumSql("o_totalprice")} AS rev
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2),
       |f AS (SELECT n_name, o_orderdate, rev,
       |  list_sort(list(rev) OVER (PARTITION BY n_name ORDER BY o_orderdate
       |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS fr
       |  FROM daily)
       |SELECT n_name, o_orderdate, CAST(rev AS DOUBLE) AS day_revenue,
       |(CAST(fr[(len(fr)+1)//2] AS DOUBLE)
       | + CAST(fr[len(fr)//2+1] AS DOUBLE)) / 2 AS rolling_median
       |FROM f ORDER BY n_name, o_orderdate""".stripMargin

  // Q22 — skyline (Pareto frontier): customers not strictly dominated on
  // (total spend, order recency). The dominance test reduces to ONE
  // exclusive prefix-max scan over spend-descending distinct spend
  // levels (operators/PrefixSum.withRunningMaxLong — the two-exchange
  // range-partition scan, no global window): a customer survives iff its
  // recency ≥ the max recency among all strictly-higher spenders. The
  // oracle is the O(n²) NOT EXISTS dominance query.
  private val q22Skyline: QFn = (s, dir) => {
    val cust = t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(dsum(col("o_totalprice")).as("spend"),
           max(datediff(col("o_orderdate"), lit("1992-01-01").cast("date")))
             .as("last_day"))
    val lvl = cust.groupBy("spend").agg(max("last_day").cast("long").as("lvl_day"))
    val scanned = PrefixSum.withRunningMaxLong(
      lvl, Seq(col("spend").desc), col("lvl_day"), "hi_day",
      inclusive = false)
    cust.join(scanned.select("spend", "hi_day"), Seq("spend"))
      .filter(col("hi_day").isNull || col("last_day") >= col("hi_day"))
      .select(col("o_custkey"),
              col("spend").cast("double").as("total_spend"),
              col("last_day").cast("long").as("last_order_day"))
      .orderBy("o_custkey")
  }
  private val q22Sql =
    s"""WITH cust AS (
       |  SELECT o_custkey, ${dsumSql("o_totalprice")} AS spend,
       |  MAX(datediff('day', DATE '1992-01-01', o_orderdate)) AS last_day
       |  FROM orders GROUP BY 1)
       |SELECT o_custkey, CAST(spend AS DOUBLE) AS total_spend,
       |CAST(last_day AS BIGINT) AS last_order_day
       |FROM cust a
       |WHERE NOT EXISTS (SELECT 1 FROM cust b
       |  WHERE b.spend > a.spend AND b.last_day > a.last_day)
       |ORDER BY o_custkey""".stripMargin

  // S16 — dynamic partition pruning: orders land partitioned by month
  // (the 100-TB fact layout); a filtered month-dimension join then scans
  // ONLY the matching partitions — Catalyst inserts a dynamicpruning
  // subquery fed by the broadcast dim (DppSpec asserts it in the plan
  // and counts pruned files). At 100 TB this is the difference between
  // reading 12 months and reading 84.
  private val s16Dpp: QFn = (s, dir) => {
    val tmp = org.apache.spark.ScratchDirs.create("graft_dpp").toString
    t(s, dir, "orders")
      .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .write.mode("overwrite").partitionBy("order_month").parquet(tmp)
    val fact = s.read.parquet(tmp)
    // the month dim round-trips through parquet: a LocalRelation's
    // filter would be constant-folded before the PartitionPruning rule
    // runs, and DPP only fires on a surviving selective Filter
    val months = (1992 to 1998).flatMap(y =>
      (1 to 12).map(m => (f"$y-$m%02d", y)))
    val dimTmp = org.apache.spark.ScratchDirs.create("graft_dpp_dim").toString
    s.createDataFrame(months).toDF("order_month", "order_year")
      .write.mode("overwrite").parquet(dimTmp)
    val dim = s.read.parquet(dimTmp)
    fact.join(broadcast(dim.filter(col("order_year") === 1995)), Seq("order_month"))
      .groupBy("order_month")
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).cast("double").as("total_price"))
      .orderBy("order_month")
  }
  private val s16Sql =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       |COUNT(*) AS n_orders,
       |CAST(${dsumSql("o_totalprice")} AS DOUBLE) AS total_price
       |FROM orders WHERE year(o_orderdate) = 1995
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- registry

  val queries: Map[String, QFn] = Map(
    "i15_join_ivm" -> i15JoinIvm,
    "w16_rolling_median" -> w16RollingMedian,
    "q22_skyline" -> q22Skyline,
    "s16_partition_pruning" -> s16Dpp,
    "j8_asof_join" -> j8AsOf,
    "j10_fuzzy_match" -> j10Fuzzy,
    "w9_locf_fill" -> w9Locf,
    "w10_cumulative_distinct" -> w10CumDistinct,
    "w11_rank_pack" -> w11RankPack,
    "w14_value_pack" -> w14ValuePack,
    "o4_null_ordering" -> o4NullOrdering,
    "w12_linear_interp" -> w12Interp,
    "w13_range_frame" -> w13RangeFrame,
    "b1_histogram" -> b1Histogram,
    "a13_mode" -> a13Mode,
    "a11_stats_pack" -> a11Stats,
    "a14_linreg" -> a14Linreg,
    "s13_schema_evolution" -> s13SchemaEvo,
    "s14_jsonl_source" -> s14JsonlSource,
    "s15_orc_source" -> s15OrcSource,
    "i14_inferred_members" -> i14Inferred,
    "j13_interval_overlap" -> j13IntervalOverlap,
    "b2_equidepth_histogram" -> b2EquiDepth,
    "a_approx_percentiles" -> aApproxPct,
    "u3_unpivot" -> u3Unpivot,
    "u4_bag_set_ops" -> u4BagOps,
    "f_regex_pack" -> fRegexPack,
    "j9_range_band_join" -> j9RangeBand,
    "a9_grouping_sets" -> a9GroupingSets,
    "a10_cube" -> a10Cube,
    "s1_csv_bulk_load" -> s1CsvLoad,
    "s2_overwrite_append_sink" -> s2Sink,
    "s7_metadata_driven_copy" -> s7MetaCopy,
    "s8_catalog_scan" -> s8Catalog,
    "a2_approx_distinct" -> a2Approx,
    "a_percentiles" -> aPercentiles,
    "u2_intersect_except" -> u2SetOps,
    "j1_left_join_unknown_member" -> j1LeftUnknown,
    "j3_expression_join" -> j3ExprJoin,
    "j5_anti_join" -> j5Anti,
    "j6_semi_join" -> j6Semi,
    "j7_referential_integrity" -> j7RefIntegrity,
    "a5_having_threshold" -> a5Having,
    "a6_conditional_aggregate" -> a6CondAgg,
    "a7_guarded_avg" -> a7GuardedAvg,
    "w1_dedup_keep_latest" -> w1KeepLatest,
    "w2_surrogate_keys" -> w2Surrogate,
    "f_string_pack" -> fStringPack,
    "f_date_pack" -> fDatePack,
    "f_hash_sha2" -> fHashPack,
    "i_watermark_delta" -> iWatermark,
    "i_scd1_merge" -> iScd1Merge,
    "i10_incremental_agg" -> i10IncrementalAgg,
    "i12_snapshot_diff" -> i12SnapshotDiff,
    "s12_profile_table" -> s12Profile,
    "i13_scd3" -> i13Scd3,
    "j12_point_in_time" -> j12PointInTime,
    "w15_gaps_islands" -> w15GapsIslands,
    "j11_salted_skew_join" -> j11SkewSalted,
    "s9_bucketed_join" -> s9BucketedJoin,
    "i_delta_append" -> iDeltaAppend,
    "i_audit_log" -> iAuditLog,
    "i_scd2_intervals" -> scd2Intervals,
    "x1_row_level_security" -> x1Rls,
    "x2_column_masking" -> x2Masking,
    "x3_classified_masking" -> x3Classified,
    "ev_hourly_agg" -> evHourlyAgg,
    "ev_json_extract" -> evJsonExtract,
    "ev_sessionization" -> evSessionize)

  val oracleSql: Map[String, String] = Map(
    "i15_join_ivm" -> i15Sql,
    "w16_rolling_median" -> w16Sql,
    "q22_skyline" -> q22Sql,
    "s16_partition_pruning" -> s16Sql,
    "j8_asof_join" -> j8Sql,
    "j10_fuzzy_match" -> j10Sql,
    "w9_locf_fill" -> w9Sql,
    "w10_cumulative_distinct" -> w10Sql,
    "w11_rank_pack" -> w11Sql,
    "w14_value_pack" -> w14Sql,
    "o4_null_ordering" -> o4Sql,
    "w12_linear_interp" -> w12Sql,
    "w13_range_frame" -> w13Sql,
    "b1_histogram" -> b1Sql,
    "a13_mode" -> a13Sql,
    "a11_stats_pack" -> a11Sql,
    "a14_linreg" -> a14Sql,
    "s13_schema_evolution" -> s13Sql,
    "s14_jsonl_source" -> s14Sql,
    "s15_orc_source" -> s15Sql,
    "i14_inferred_members" -> i14Sql,
    "j13_interval_overlap" -> j13Sql,
    "b2_equidepth_histogram" -> b2Sql,
    "a_approx_percentiles" -> aApproxPctSql,
    "u3_unpivot" -> u3Sql,
    "u4_bag_set_ops" -> u4Sql,
    "f_regex_pack" -> fRegexSql,
    "j9_range_band_join" -> j9Sql,
    "a9_grouping_sets" -> a9SetsSelect,
    "a10_cube" -> a10CubeSelect,
    "s8_catalog_scan" -> s8Sql,
    "a2_approx_distinct" -> a2Sql,
    "ev_json_extract" -> evJsonSql,
    "ev_sessionization" -> evSessionizeSql,
    "a_percentiles" -> aPercentilesSql,
    "u2_intersect_except" -> u2Sql,
    "s7_metadata_driven_copy" -> s7Sql,
    "s1_csv_bulk_load" -> s1Sql,
    "s2_overwrite_append_sink" -> s2Sql,
    "j1_left_join_unknown_member" -> j1Sql,
    "j3_expression_join" -> j3Sql,
    "j5_anti_join" -> j5Sql,
    "j6_semi_join" -> j6Sql,
    "j7_referential_integrity" -> j7Sql,
    "a5_having_threshold" -> a5Sql,
    "a6_conditional_aggregate" -> a6Sql,
    "a7_guarded_avg" -> a7Sql,
    "w1_dedup_keep_latest" -> w1Sql,
    "w2_surrogate_keys" -> w2Sql,
    "f_string_pack" -> fStringSql,
    "f_date_pack" -> fDateSql,
    "f_hash_sha2" -> fHashSql,
    "i_watermark_delta" -> iWatermarkSql,
    "i_scd1_merge" -> iScd1Sql,
    "i10_incremental_agg" -> i10Sql,
    "i12_snapshot_diff" -> i12Sql,
    "s12_profile_table" -> s12Sql,
    "i13_scd3" -> i13Sql,
    "j12_point_in_time" -> j12Sql,
    "w15_gaps_islands" -> w15Sql,
    "j11_salted_skew_join" -> j11Sql,
    "s9_bucketed_join" -> s9Sql,
    "i_delta_append" -> iDeltaAppendSql,
    "i_audit_log" -> iAuditLogSql,
    "i_scd2_intervals" -> scd2Sql,
    "x1_row_level_security" -> x1Sql,
    "x2_column_masking" -> x2Sql,
    "x3_classified_masking" -> x3Sql,
    "ev_hourly_agg" -> evHourlySql)
}

package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

// Contents (one object per original pack, APIs unchanged):
//   Frontier6Queries: ml_logreg_newton, q30_price_elasticity, a36_median_ci
//   Frontier7Queries: w20_max_drawdown, g_adamic_adar, i23_bitemporal
//   Frontier8Queries: t_rouge_pairs, w21_rolling_corr, dq_reconciliation
//   Frontier9Queries: a37_gini_split, q32_new_vs_returning, g_luby_mis
//   Frontier10Queries: s22_csv_quarantine, ml_calibration_bins, q33_segment_migration

/** Round-5 tenth-session widening: in-engine model TRAINING (logistic
  * regression by two unrolled Newton–Raphson steps whose data pass is
  * a 6-number aggregate), log-log demand elasticity per brand, and
  * distribution-free confidence intervals for the median from
  * order-statistic ranks — the "fit a model without leaving the
  * warehouse" tier above the descriptive stats packs.
  *
  * House determinism rules: every nonlinear scalar (sigmoid, ln) is
  * ONE double expression over exact decimal inputs, rounded to 6 and
  * re-frozen as DECIMAL before it enters any sum; all sums are exact
  * decimal/integer; total ORDER BY everywhere.
  */
object Frontier6Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // ml_logreg_newton — logistic regression (urgent-priority flag on
  // log order price) trained by TWO Newton–Raphson iterations, fully
  // in-engine. Per iteration the data-sized work is one aggregation
  // of six sufficient statistics (Σw, Σwx, Σwx², Σ(y−p), Σx(y−p), n
  // with w = p(1−p)) — map-side combined, six numbers per partition,
  // the same shuffle shape as a14/a31 — and the 2×2 Newton solve is
  // closed-form Cramer on the driver-free aggregate row. Determinism:
  // x = ln(price) and each iteration's p = σ(β₀+β₁x) are rounded to
  // 6 and frozen as small-width DECIMALs (p in DECIMAL(8,6)), so w,
  // the gradient terms, and all sums are EXACT decimals — the
  // fitted coefficients are bit-identical on any partitioning. The
  // final row also reports training accuracy at the 0.5 threshold
  // (an exact integer count — p and 0.5 compare as decimals).
  // ------------------------------------------------------------------
  private val mlLogregNewton: QFn = (s, dir) => {
    val d0 = t(s, dir, "orders").select(
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
        .otherwise(0L).as("y"),
      round(log(col("o_totalprice")), 6).cast(DecimalType(9, 6)).as("x"))
    val d = d0.localCheckpoint(true)
    val (b0b, b1b) = graft.ml.LogReg.fit(d, iters = 2)
    val p = graft.ml.LogReg.sigmoid(b0b, b1b, col("x"))
    d.select(col("y"), p.as("p"))
      .agg(count(lit(1)).as("n"),
        sum(when((col("p") > lit(0.5).cast(DecimalType(8, 6))) ===
          (col("y") === 1), 1L).otherwise(0L)).as("n_correct"))
      .select(col("n"), col("n_correct"),
        lit(b0b.doubleValue()).as("b0_r"), lit(b1b.doubleValue()).as("b1_r"),
        round(col("n_correct").cast("double") / col("n").cast("double"), 6)
          .as("accuracy_r"))
  }
  /** The oracle replays the two Newton steps as chained CTEs — the
    * coefficient pair after each step is recomputed inside SQL, so the
    * oracle is self-contained (no values smuggled from the Scala side).
    */
  private val mlLogregNewtonSql = {
    s"""WITH d AS (SELECT
       |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |      THEN 1 ELSE 0 END AS y,
       |    CAST(round(ln(o_totalprice), 6) AS DECIMAL(9,6)) AS x
       |  FROM orders),
       |${graft.ml.LogReg.sqlSteps(2)},
       |fp AS (SELECT d.y,
       |    CAST(round(1.0 / (1.0 + exp(-CAST(CAST(bb.b0 + bb.b1 * d.x
       |      AS VARCHAR) AS DOUBLE))), 6) AS DECIMAL(8,6)) AS p,
       |    bb.b0, bb.b1
       |  FROM d CROSS JOIN bb)
       |SELECT COUNT(*) AS n,
       |  CAST(SUM(CASE WHEN (p > CAST(0.5 AS DECIMAL(8,6))) = (y = 1)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(CAST(MAX(b0) AS VARCHAR) AS DOUBLE) AS b0_r,
       |  CAST(CAST(MAX(b1) AS VARCHAR) AS DOUBLE) AS b1_r,
       |  round(CAST(SUM(CASE WHEN (p > CAST(0.5 AS DECIMAL(8,6))) = (y = 1)
       |      THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS accuracy_r
       |FROM fp""".stripMargin
  }

  // ------------------------------------------------------------------
  // q30_price_elasticity — per-brand log-log demand curve: the OLS
  // slope of ln(quantity) on ln(unit price) IS the price elasticity
  // of demand. One broadcast dim join tags each lineitem with its
  // brand; both logs are rounded once and frozen as DECIMAL(9,6), so
  // the five per-brand sufficient statistics are exact decimal sums
  // (map-side combined, 25 groups) and slope/intercept are one
  // rounded double each — the a14 shape applied to the economics
  // question every retail warehouse asks.
  // ------------------------------------------------------------------
  private val q30PriceElasticity: QFn = (s, dir) => {
    val li = t(s, dir, "lineitem").select(col("l_partkey"),
      round(log(col("l_extendedprice") / col("l_quantity")), 6)
        .cast(DecimalType(9, 6)).as("x"),
      round(log(col("l_quantity")), 6).cast(DecimalType(9, 6)).as("y"))
    val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"))
    val m = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
    val n = col("n"); val sx = col("sx").cast("double")
    val sy = col("sy").cast("double"); val sxx = col("sxx").cast("double")
    val sxy = col("sxy").cast("double")
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    m.select(col("p_brand"), n,
        round(slope, 6).as("elasticity_r"),
        round((sy - slope * sx) / n, 6).as("intercept_r"))
      .orderBy("p_brand")
  }
  private val q30PriceElasticitySql =
    """WITH li AS (SELECT l_partkey,
      |    CAST(round(ln(l_extendedprice / l_quantity), 6) AS DECIMAL(9,6))
      |      AS x,
      |    CAST(round(ln(l_quantity), 6) AS DECIMAL(9,6)) AS y
      |  FROM lineitem),
      |m AS (SELECT p.p_brand, COUNT(*) AS n,
      |    SUM(li.x) AS sx, SUM(li.y) AS sy,
      |    SUM(li.x * li.x) AS sxx, SUM(li.x * li.y) AS sxy
      |  FROM li JOIN part p ON li.l_partkey = p.p_partkey
      |  GROUP BY 1),
      |d AS (SELECT p_brand, n,
      |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx,
      |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxy
      |  FROM m)
      |SELECT p_brand, n,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
      |    AS elasticity_r,
      |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
      |    AS intercept_r
      |FROM d ORDER BY p_brand""".stripMargin

  // ------------------------------------------------------------------
  // a36_median_ci — distribution-free 95% confidence interval for the
  // per-language median document length, from order-statistic ranks:
  // P(X(l) ≤ median ≤ X(u)) ≥ 0.95 with l = ⌊(n − 1.96√n)/2⌋ and
  // u = ⌈1 + (n + 1.96√n)/2⌉ (the binomial/normal rank bound — no
  // resampling, no replicas, one extra histogram pass; compare
  // a30's 64-replicate bootstrap for the mean). n_chars has a
  // bounded domain, so the rank lookups run on the per-language
  // value histogram via a cumulative-count window — never a global
  // sort of the documents. Ranks are exact BIGINTs born from one
  // double expression; the median itself is `percentile` ≡
  // `quantile_cont` (parity pinned by a_percentiles).
  // ------------------------------------------------------------------
  private val a36MedianCi: QFn = (s, dir) => {
    val d = t(s, dir, "documents").select(col("lang"), col("n_chars"))
    val med = d.groupBy("lang").agg(count(lit(1)).as("n"),
      expr("percentile(n_chars, 0.5)").as("med"))
      .select(col("lang"), col("n"), round(col("med"), 6).as("med_r"),
        floor((col("n").cast("double") -
          lit(1.959964) * sqrt(col("n").cast("double"))) / 2.0)
          .cast("long").as("lrank"),
        ceil(lit(1.0) + (col("n").cast("double") +
          lit(1.959964) * sqrt(col("n").cast("double"))) / 2.0)
          .cast("long").as("urank"))
    val hist = d.groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    hist.join(broadcast(med), "lang")
      .groupBy("lang", "n", "med_r", "lrank", "urank")
      .agg(min(when(col("cum") >= col("lrank"), col("n_chars"))).as("ci_lo"),
        min(when(col("cum") >= col("urank"), col("n_chars"))).as("ci_hi"))
      .select(col("lang"), col("n"), col("med_r"), col("ci_lo"), col("ci_hi"))
      .orderBy("lang")
  }
  private val a36MedianCiSql =
    """WITH d AS (SELECT lang, n_chars FROM documents),
      |med AS (SELECT lang, COUNT(*) AS n,
      |    round(quantile_cont(n_chars, 0.5), 6) AS med_r,
      |    CAST(floor((CAST(COUNT(*) AS DOUBLE)
      |      - 1.959964 * sqrt(CAST(COUNT(*) AS DOUBLE))) / 2.0) AS BIGINT)
      |      AS lrank,
      |    CAST(ceil(1.0 + (CAST(COUNT(*) AS DOUBLE)
      |      + 1.959964 * sqrt(CAST(COUNT(*) AS DOUBLE))) / 2.0) AS BIGINT)
      |      AS urank
      |  FROM d GROUP BY 1),
      |hist AS (SELECT lang, n_chars, COUNT(*) AS c,
      |    SUM(COUNT(*)) OVER (PARTITION BY lang ORDER BY n_chars) AS cum
      |  FROM d GROUP BY 1, 2)
      |SELECT h.lang, med.n, med.med_r,
      |  MIN(CASE WHEN h.cum >= med.lrank THEN h.n_chars END) AS ci_lo,
      |  MIN(CASE WHEN h.cum >= med.urank THEN h.n_chars END) AS ci_hi
      |FROM hist h JOIN med USING (lang)
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ml_logreg_newton" -> mlLogregNewton,
    "q30_price_elasticity" -> q30PriceElasticity,
    "a36_median_ci" -> a36MedianCi)

  val oracleSql: Map[String, String] = Map(
    "ml_logreg_newton" -> mlLogregNewtonSql,
    "q30_price_elasticity" -> q30PriceElasticitySql,
    "a36_median_ci" -> a36MedianCiSql)
}

/** Round-5 eleventh-session widening: financial drawdown analytics
  * (running-peak shortfall over the daily revenue series), graph link
  * prediction (Adamic–Adar scores for unlinked part pairs over the
  * co-purchase graph), and a BITEMPORAL dimension query (valid-time ×
  * transaction-time as-of resolution — the axis SCD2 alone cannot
  * answer: "what did we BELIEVE on day T the state at day V was?").
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs (frozen as
  * DECIMAL(18,6) before any reordering sum), total ORDER BYs.
  */
object Frontier7Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // w20_max_drawdown — peak-to-trough shortfall of the daily revenue
  // series: D_t = max_{s≤t}(rev_s) − rev_t, the classic risk metric.
  // The daily rollup is the only data-sized work (one groupBy of the
  // fact table); the running maximum and the drawdown are exact
  // decimal window arithmetic over the calendar-bounded series, so
  // no recursion and no floating point anywhere. Output: every day's
  // drawdown plus its running peak, flagged at the global maximum
  // drawdown (ties flag every achieving day — deterministic).
  // ------------------------------------------------------------------
  private val w20MaxDrawdown: QFn = (s, dir) => {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(12, 2)))
        .cast(DecimalType(18, 2)).as("rev"))
    val wPre = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(0))
    val dd = daily
      .withColumn("peak", max(col("rev")).over(wPre))
      .withColumn("dd", col("peak") - col("rev"))
    dd.withColumn("max_dd", max(col("dd")).over(wAll))
      .select(col("d"),
        col("rev").cast("string").cast("double").as("rev_d"),
        col("peak").cast("string").cast("double").as("peak_d"),
        col("dd").cast("string").cast("double").as("dd_d"),
        when(col("dd") === col("max_dd"), 1).otherwise(0).as("is_max_dd"))
      .orderBy("d")
  }
  private val w20MaxDrawdownSql =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2))
      |      AS rev
      |  FROM orders GROUP BY 1),
      |dd AS (SELECT d, rev,
      |    MAX(rev) OVER (ORDER BY d) AS peak,
      |    MAX(rev) OVER (ORDER BY d) - rev AS ddv
      |  FROM daily),
      |mx AS (SELECT d, rev, peak, ddv, MAX(ddv) OVER () AS max_dd FROM dd)
      |SELECT d, CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS rev_d,
      |  CAST(CAST(peak AS VARCHAR) AS DOUBLE) AS peak_d,
      |  CAST(CAST(ddv AS VARCHAR) AS DOUBLE) AS dd_d,
      |  CASE WHEN ddv = max_dd THEN 1 ELSE 0 END AS is_max_dd
      |FROM mx ORDER BY d""".stripMargin

  // ------------------------------------------------------------------
  // g_adamic_adar — link prediction over the co-purchase graph:
  // Adamic–Adar score Σ_{w ∈ N(a)∩N(b)} 1/ln(deg w) for part pairs
  // NOT already linked, via the wedge join (center w joins its
  // capped neighbor list with itself). Degrees — and each center's
  // 1/ln(deg) weight, ONE rounded double frozen as DECIMAL(18,6) —
  // are computed on the FULL graph before the per-node top-30
  // neighbor cap (g_two_hop_recs' hub-bounding discipline) limits
  // wedge fan-out to 30², so hub nodes cannot blow up the join at
  // any scale. Existing edges leave via one anti-join; the top-20
  // pairs come from the two-phase rankTopK (no global sort).
  // ------------------------------------------------------------------
  private val gAdamicAdar: QFn = (s, dir) => {
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = op.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = op.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val e0 = a.join(b, "l_orderkey").filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 2)
      .localCheckpoint(true)
    val e = e0.select(col("pa").as("src"), col("pb").as("dst"), col("n_both"))
      .unionAll(e0.select(col("pb").as("src"), col("pa").as("dst"),
        col("n_both")))
    val deg = e.groupBy(col("src").as("w")).agg(count(lit(1)).as("deg"))
    val capped = e
      .withColumn("rn", row_number().over(Window.partitionBy("src")
        .orderBy(col("n_both").desc, col("dst"))))
      .filter(col("rn") <= 30)
      .select(col("src"), col("dst"))
    val wedges = capped.select(col("src").as("w"), col("dst").as("x"))
      .join(capped.select(col("src").as("w"), col("dst").as("y")), "w")
      .filter(col("x") < col("y"))
      .join(broadcast(deg), "w")
      .select(col("x"), col("y"),
        round(lit(1.0) / log(col("deg").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("aaw"))
    val scored = wedges.groupBy("x", "y")
      .agg(sum(col("aaw")).as("aa"), count(lit(1)).as("n_common"))
      .join(e0.select(col("pa").as("x"), col("pb").as("y"), lit(1).as("ex")),
        Seq("x", "y"), "left_anti")
      .select(col("x").as("pa"), col("y").as("pb"), col("n_common"),
        round(col("aa").cast("double"), 6).as("aa_r"))
    graft.operators.TopK.rankTopK(scored, 20,
        Seq(col("aa_r").desc, col("pa").asc, col("pb").asc), "rnk")
      .select(col("rnk"), col("pa"), col("pb"), col("n_common"), col("aa_r"))
      .orderBy("rnk")
  }
  private val gAdamicAdarSql =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
      |         COUNT(*) AS n_both
      |       FROM op a JOIN op b USING (l_orderkey)
      |       WHERE a.l_partkey < b.l_partkey
      |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS (SELECT pa AS src, pb AS dst, n_both FROM e0
      |      UNION ALL SELECT pb, pa, n_both FROM e0),
      |deg AS (SELECT src AS w, COUNT(*) AS deg FROM e GROUP BY 1),
      |capped AS (SELECT src, dst FROM e
      |  QUALIFY row_number() OVER (PARTITION BY src
      |    ORDER BY n_both DESC, dst) <= 30),
      |wedges AS (SELECT cx.dst AS x, cy.dst AS y,
      |    CAST(round(1.0 / ln(CAST(deg.deg AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS aaw
      |  FROM capped cx JOIN capped cy ON cx.src = cy.src
      |  JOIN deg ON deg.w = cx.src
      |  WHERE cx.dst < cy.dst),
      |sc AS (SELECT w.x, w.y, SUM(w.aaw) AS aa, COUNT(*) AS n_common
      |  FROM wedges w GROUP BY 1, 2),
      |nf AS (SELECT sc.x AS pa, sc.y AS pb, sc.n_common,
      |    round(CAST(CAST(sc.aa AS VARCHAR) AS DOUBLE), 6) AS aa_r
      |  FROM sc WHERE NOT EXISTS (SELECT 1 FROM e0
      |    WHERE e0.pa = sc.x AND e0.pb = sc.y))
      |SELECT CAST(rank() OVER (ORDER BY aa_r DESC, pa, pb) AS INT) AS rnk,
      |  pa, pb, n_common, aa_r
      |FROM nf
      |QUALIFY rnk <= 20
      |ORDER BY rnk""".stripMargin

  // ------------------------------------------------------------------
  // i23_bitemporal — bitemporal dimension resolution. Each customer
  // carries up to three segment versions on TWO time axes: valid_from
  // (when the change took effect in the world) and tx_from (when the
  // warehouse RECORDED it — always later, by a deterministic
  // md5-derived lag, so the axes genuinely disagree). The query
  // answers both canonical reads in one result: the CORRECTED view
  // ("state at valid day 450 with everything we know now") and the
  // AS-REPORTED view ("state at valid day 450 as believed at tx day
  // 470") — per-segment customer counts, one row per (view, segment).
  // Resolution is a max-version pick per customer per view: filter
  // applicable versions on both axes, then one partitioned window.
  // SCD2 (i_scd2_intervals) stores only valid time; this entry is the
  // two-axis extension auditors and restatement reports require.
  // Everything is exact integer arithmetic off md5 — both engines
  // build byte-identical version histories.
  // ------------------------------------------------------------------
  private val i23Bitemporal: QFn = (s, dir) => {
    val segs = array(lit("AUTOMOBILE"), lit("BUILDING"), lit("FURNITURE"),
      lit("HOUSEHOLD"), lit("MACHINERY"))
    val h = conv(substring(md5(concat(lit("bt:"),
      col("c_custkey").cast("string"))), 1, 13), 16, 10).cast("long")
    val c = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), h.as("h"))
    // version 0: the original row, valid and recorded from day 0
    val v0 = c.select(col("c_custkey"), col("c_mktsegment").as("segment"),
      lit(0L).as("valid_from"), lit(0L).as("tx_from"))
    // version 1 (all customers): effective 100..299, recorded 0..29 late
    val v1 = c.select(col("c_custkey"),
      element_at(segs, (col("h") % 5 + 1).cast("int")).as("segment"),
      (lit(100L) + col("h") % 200).as("valid_from"))
      .withColumn("tx_from", col("valid_from") +
        conv(substring(md5(concat(lit("btx:"),
          col("c_custkey").cast("string"))), 1, 13), 16, 10).cast("long") % 30)
    // version 2 (every 3rd customer): effective 400..699, recorded
    // 0..59 late — late enough that the two views disagree
    val v2 = c.filter(col("h") % 3 === 0)
      .select(col("c_custkey"),
        element_at(segs, (expr("h div 5") % 5 + 1).cast("int")).as("segment"),
        (lit(400L) + col("h") % 300).as("valid_from"))
      .withColumn("tx_from", col("valid_from") +
        conv(substring(md5(concat(lit("bty:"),
          col("c_custkey").cast("string"))), 1, 13), 16, 10).cast("long") % 60)
    val versions = v0.unionByName(v1).unionByName(v2)
    def resolve(validAt: Long, txAt: Long, label: String): DataFrame =
      versions
        .filter(col("valid_from") <= validAt && col("tx_from") <= txAt)
        .withColumn("rn", row_number().over(
          Window.partitionBy("c_custkey")
            .orderBy(col("valid_from").desc, col("tx_from").desc)))
        .filter(col("rn") === 1)
        .groupBy("segment").agg(count(lit(1)).as("n_cust"))
        .select(lit(label).as("view"), col("segment"), col("n_cust"))
    resolve(450L, 100000L, "corrected")
      .unionByName(resolve(450L, 470L, "as_reported"))
      .orderBy("view", "segment")
  }
  private val i23BitemporalSql = {
    val segs = "['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', " +
      "'MACHINERY']"
    def resolve(validAt: Long, txAt: Long, label: String) =
      s"""SELECT '$label' AS view, segment, COUNT(*) AS n_cust FROM (
         |  SELECT c_custkey, segment FROM versions
         |  WHERE valid_from <= $validAt AND tx_from <= $txAt
         |  QUALIFY row_number() OVER (PARTITION BY c_custkey
         |    ORDER BY valid_from DESC, tx_from DESC) = 1)
         |GROUP BY 2""".stripMargin
    s"""WITH c AS (SELECT c_custkey, c_mktsegment,
       |    CAST(('0x' || substring(md5('bt:' || CAST(c_custkey AS VARCHAR)),
       |      1, 13)) AS BIGINT) AS h
       |  FROM customer),
       |v0 AS (SELECT c_custkey, c_mktsegment AS segment,
       |         CAST(0 AS BIGINT) AS valid_from, CAST(0 AS BIGINT) AS tx_from
       |       FROM c),
       |v1 AS (SELECT c_custkey,
       |    ($segs)[CAST(h % 5 + 1 AS INT)] AS segment,
       |    100 + h % 200 AS valid_from,
       |    100 + h % 200
       |      + CAST(('0x' || substring(md5('btx:' ||
       |          CAST(c_custkey AS VARCHAR)), 1, 13)) AS BIGINT) % 30
       |      AS tx_from
       |  FROM c),
       |v2 AS (SELECT c_custkey,
       |    ($segs)[CAST((h // 5) % 5 + 1 AS INT)] AS segment,
       |    400 + h % 300 AS valid_from,
       |    400 + h % 300
       |      + CAST(('0x' || substring(md5('bty:' ||
       |          CAST(c_custkey AS VARCHAR)), 1, 13)) AS BIGINT) % 60
       |      AS tx_from
       |  FROM c WHERE h % 3 = 0),
       |versions AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1
       |             UNION ALL SELECT * FROM v2)
       |${resolve(450L, 100000L, "corrected")}
       |UNION ALL
       |${resolve(450L, 470L, "as_reported")}
       |ORDER BY view, segment""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "w20_max_drawdown" -> w20MaxDrawdown,
    "g_adamic_adar" -> gAdamicAdar,
    "i23_bitemporal" -> i23Bitemporal)

  val oracleSql: Map[String, String] = Map(
    "w20_max_drawdown" -> w20MaxDrawdownSql,
    "g_adamic_adar" -> gAdamicAdarSql,
    "i23_bitemporal" -> i23BitemporalSql)
}

/** Round-5 twelfth-session widening: summarization-style evaluation
  * metrics (ROUGE-1/ROUGE-2 F1 over document pairs — the n-gram
  * overlap scorer every generation-eval pipeline runs), rolling
  * cross-series correlation over the daily event volumes (the drift
  * monitor between two KPIs), and fact-to-fact reconciliation (order
  * headers vs line-item rollups — the classic warehouse DQ audit).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs (frozen as
  * DECIMAL(18,6) before any reordering sum), total ORDER BYs.
  */
object Frontier8Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // t_rouge_pairs — ROUGE-1 and ROUGE-2 F1 between same-language
  // document pairs (doc_id, doc_id+1 — a deterministic, join-derived
  // pairing; no data-sized window). Multiset n-gram overlap is
  // Σ min(count_a, count_b) computed by an inner join on
  // (pair, gram) — everything shuffles on pair/gram keys only, so
  // the evaluation scales to any corpus of (candidate, reference)
  // pairs. Per-pair precision/recall/F1 are ONE rounded double each,
  // frozen as DECIMAL(18,6) so the per-language mean is an exact
  // decimal sum ÷ count. Zero-overlap pairs contribute F1 = 0 (the
  // join drops them; a left join against the pair list restores
  // them), exactly as a generation-eval harness would score them.
  // ------------------------------------------------------------------
  private val tRougePairs: QFn = (s, dir) => {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        split(TF.normText(col("text")), " ").as("toks"))
    val pairs = docs.select(col("doc_id").as("pa"), col("lang"))
      .join(docs.select((col("doc_id") - 1).as("pa"),
        col("lang").as("lang_b"), col("doc_id").as("pb")), "pa")
      .filter(col("lang") === col("lang_b"))
      .select(col("pa"), col("pb"), col("lang"))
      .localCheckpoint(true)
    def grams(n: Int): DataFrame = {
      val base = docs.select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos", "w")))
        .filter(length(col("w")) > 0)
      val g =
        if (n == 1) base.select(col("doc_id"), col("w").as("gram"))
        else {
          val wNext = Window.partitionBy("doc_id").orderBy("pos")
          base.withColumn("w2", lead(col("w"), 1).over(wNext))
            .filter(col("w2").isNotNull)
            .select(col("doc_id"), concat_ws(" ", col("w"), col("w2"))
              .as("gram"))
        }
      g.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
    }
    def f1(n: Int, label: String): DataFrame = {
      val gc = grams(n).localCheckpoint(true)
      val lens = gc.groupBy("doc_id").agg(sum("c").as("len"))
      val inter = pairs
        .join(gc.select(col("doc_id").as("pa"), col("gram"),
          col("c").as("ca")), "pa")
        .join(gc.select(col("doc_id").as("pb"), col("gram"),
          col("c").as("cb")), Seq("pb", "gram"))
        .groupBy("pa", "pb").agg(sum(least(col("ca"), col("cb"))).as("ov"))
      pairs
        .join(inter, Seq("pa", "pb"), "left")
        .join(lens.select(col("doc_id").as("pa"), col("len").as("la")), "pa")
        .join(lens.select(col("doc_id").as("pb"), col("len").as("lb")), "pb")
        .select(col("pa"), col("lang"),
          coalesce(
            round(lit(2.0) * col("ov").cast("double") /
              (col("la") + col("lb")).cast("double"), 6),
            lit(0.0)).cast(DecimalType(18, 6)).as(label))
    }
    val r1 = f1(1, "f1_1")
    val r2 = f1(2, "f1_2")
    r1.join(r2.select(col("pa"), col("f1_2")), "pa")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("f1_1")).as("s1"), sum(col("f1_2")).as("s2"))
      .select(col("lang"), col("n_pairs"),
        round(col("s1").cast("double") / col("n_pairs").cast("double"), 6)
          .as("rouge1_f1_r"),
        round(col("s2").cast("double") / col("n_pairs").cast("double"), 6)
          .as("rouge2_f1_r"))
      .orderBy("lang")
  }
  private val tRougePairsSql = {
    val norm = TF.normTextSql("text")
    s"""WITH docs AS (SELECT doc_id, lang,
       |    string_split($norm, ' ') AS toks
       |  FROM documents),
       |pairs AS (SELECT a.doc_id AS pa, b.doc_id AS pb, a.lang
       |  FROM docs a JOIN docs b ON b.doc_id = a.doc_id + 1
       |   AND b.lang = a.lang),
       |w0 AS (SELECT doc_id, unnest(toks) AS w,
       |    generate_subscripts(toks, 1) AS pos
       |  FROM docs),
       |w AS (SELECT doc_id, w, pos FROM w0 WHERE length(w) > 0),
       |g1 AS (SELECT doc_id, w AS gram, COUNT(*) AS c
       |       FROM w GROUP BY 1, 2),
       |b0 AS (SELECT doc_id, w,
       |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM w),
       |g2 AS (SELECT doc_id, w || ' ' || w2 AS gram, COUNT(*) AS c
       |       FROM b0 WHERE w2 IS NOT NULL GROUP BY 1, 2),
       |l1 AS (SELECT doc_id, SUM(c) AS len FROM g1 GROUP BY 1),
       |l2 AS (SELECT doc_id, SUM(c) AS len FROM g2 GROUP BY 1),
       |i1 AS (SELECT p.pa, p.pb, SUM(least(a.c, b.c)) AS ov
       |  FROM pairs p JOIN g1 a ON a.doc_id = p.pa
       |  JOIN g1 b ON b.doc_id = p.pb AND b.gram = a.gram
       |  GROUP BY 1, 2),
       |i2 AS (SELECT p.pa, p.pb, SUM(least(a.c, b.c)) AS ov
       |  FROM pairs p JOIN g2 a ON a.doc_id = p.pa
       |  JOIN g2 b ON b.doc_id = p.pb AND b.gram = a.gram
       |  GROUP BY 1, 2),
       |pf AS (SELECT p.lang,
       |    CAST(COALESCE(round(2.0 * CAST(i1.ov AS DOUBLE)
       |      / CAST(la1.len + lb1.len AS DOUBLE), 6), 0.0)
       |      AS DECIMAL(18,6)) AS f1_1,
       |    CAST(COALESCE(round(2.0 * CAST(i2.ov AS DOUBLE)
       |      / CAST(la2.len + lb2.len AS DOUBLE), 6), 0.0)
       |      AS DECIMAL(18,6)) AS f1_2
       |  FROM pairs p
       |  LEFT JOIN i1 ON i1.pa = p.pa AND i1.pb = p.pb
       |  JOIN l1 la1 ON la1.doc_id = p.pa
       |  JOIN l1 lb1 ON lb1.doc_id = p.pb
       |  LEFT JOIN i2 ON i2.pa = p.pa AND i2.pb = p.pb
       |  JOIN l2 la2 ON la2.doc_id = p.pa
       |  JOIN l2 lb2 ON lb2.doc_id = p.pb)
       |SELECT lang, COUNT(*) AS n_pairs,
       |  round(CAST(CAST(SUM(f1_1) AS VARCHAR) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS rouge1_f1_r,
       |  round(CAST(CAST(SUM(f1_2) AS VARCHAR) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS rouge2_f1_r
       |FROM pf GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // w21_rolling_corr — 7-day rolling Pearson correlation between the
  // daily click and purchase volumes: the KPI co-movement monitor.
  // The event scan collapses to one daily two-column rollup
  // (conditional counts — exact integers); the rolling sufficient
  // statistics (Σx, Σy, Σx², Σy², Σxy over the trailing 7 days) are
  // exact integer window sums over the CALENDAR-bounded series, and
  // each day's correlation is ONE rounded double (NULL until the
  // window fills or when either series is locally constant).
  // ------------------------------------------------------------------
  private val w21RollingCorr: QFn = (s, dir) => {
    val daily = t(s, dir, "events")
      .select(to_date(Tables.eventTs("ts")).as("d"), col("event_type"))
      .groupBy("d")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    val w7 = Window.orderBy("d").rowsBetween(-6, 0)
    val cum = daily
      .withColumn("k", count(lit(1)).over(w7))
      .withColumn("sx", sum(col("x")).over(w7))
      .withColumn("sy", sum(col("y")).over(w7))
      .withColumn("sxx", sum(col("x") * col("x")).over(w7))
      .withColumn("syy", sum(col("y") * col("y")).over(w7))
      .withColumn("sxy", sum(col("x") * col("y")).over(w7))
    val k = col("k").cast("double")
    val num = k * col("sxy") - col("sx") * col("sy")
    val den = sqrt(k * col("sxx") - col("sx") * col("sx")) *
      sqrt(k * col("syy") - col("sy") * col("sy"))
    cum.select(col("d"), col("x"), col("y"),
        when(col("k") === 7, round(num / nullif(den, lit(0.0)), 6))
          .as("corr7_r"))
      .orderBy("d")
  }
  private val w21RollingCorrSql =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM events GROUP BY 1),
      |c AS (SELECT d, x, y,
      |    COUNT(*) OVER w7 AS k,
      |    SUM(x) OVER w7 AS sx, SUM(y) OVER w7 AS sy,
      |    SUM(x * x) OVER w7 AS sxx, SUM(y * y) OVER w7 AS syy,
      |    SUM(x * y) OVER w7 AS sxy
      |  FROM daily
      |  WINDOW w7 AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT d, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
      |  CASE WHEN k = 7 THEN round(
      |    (CAST(k AS DOUBLE) * sxy - sx * sy)
      |    / NULLIF(sqrt(CAST(k AS DOUBLE) * sxx - sx * sx)
      |           * sqrt(CAST(k AS DOUBLE) * syy - sy * sy), 0.0), 6)
      |  END AS corr7_r
      |FROM c ORDER BY d""".stripMargin

  // ------------------------------------------------------------------
  // dq_reconciliation — fact-to-fact reconciliation: does each order
  // header's total match its line items' Σ extendedprice·(1−discount)
  // ·(1+tax)? The warehouse audit that catches silent ETL drift
  // between grains. One groupBy rolls lineitem up to the order grain
  // in exact DECIMAL; the relative gap per order is ONE rounded
  // double, bucketed into an audit histogram (match ≤0.01%, minor
  // ≤1%, major >1%, missing lines) — bounded output, exact counts,
  // plus the summed absolute gap per bucket for materiality.
  // ------------------------------------------------------------------
  private val dqReconciliation: QFn = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum((col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(8, 6)) -
          col("l_discount").cast(DecimalType(8, 6))) *
        (lit(1).cast(DecimalType(8, 6)) +
          col("l_tax").cast(DecimalType(8, 6))))
        .cast(DecimalType(18, 6))).as("li_total"))
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_totalprice").cast(DecimalType(12, 2)).as("hdr_total"))
    val gap = o.join(li, o("o_orderkey") === li("l_orderkey"), "left")
      .select(col("o_orderkey"), col("hdr_total"), col("li_total"),
        when(col("li_total").isNull, lit(null))
          .otherwise(round(abs(col("li_total") - col("hdr_total"))
            .cast("double") / col("hdr_total").cast("double"), 6))
          .as("rel_gap_r"))
    gap.select(
        when(col("li_total").isNull, "missing_lines")
          .when(col("rel_gap_r") <= 0.0001, "match")
          .when(col("rel_gap_r") <= 0.01, "minor_gap")
          .otherwise("major_gap").as("bucket"),
        coalesce(abs(col("li_total") - col("hdr_total")),
          col("hdr_total")).cast(DecimalType(18, 6)).as("abs_gap"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("abs_gap")).cast("double"), 2).as("total_gap_r"))
      .orderBy("bucket")
  }
  private val dqReconciliationSql =
    """WITH li AS (SELECT l_orderkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,2))
      |      * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))
      |      * (CAST(1 AS DECIMAL(8,6)) + CAST(l_tax AS DECIMAL(8,6))))
      |      AS DECIMAL(18,6)) AS li_total
      |  FROM lineitem GROUP BY 1),
      |gap AS (SELECT o.o_orderkey,
      |    CAST(o.o_totalprice AS DECIMAL(12,2)) AS hdr_total, li.li_total,
      |    CASE WHEN li.li_total IS NULL THEN NULL
      |      ELSE round(CAST(abs(li.li_total
      |          - CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |        / CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) AS DOUBLE), 6)
      |    END AS rel_gap_r
      |  FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey),
      |b AS (SELECT
      |    CASE WHEN li_total IS NULL THEN 'missing_lines'
      |      WHEN rel_gap_r <= 0.0001 THEN 'match'
      |      WHEN rel_gap_r <= 0.01 THEN 'minor_gap'
      |      ELSE 'major_gap' END AS bucket,
      |    CAST(COALESCE(abs(li_total - hdr_total), hdr_total)
      |      AS DECIMAL(18,6)) AS abs_gap
      |  FROM gap)
      |SELECT bucket, COUNT(*) AS n_orders,
      |  round(CAST(CAST(SUM(abs_gap) AS VARCHAR) AS DOUBLE), 2)
      |    AS total_gap_r
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "t_rouge_pairs" -> tRougePairs,
    "w21_rolling_corr" -> w21RollingCorr,
    "dq_reconciliation" -> dqReconciliation)

  val oracleSql: Map[String, String] = Map(
    "t_rouge_pairs" -> tRougePairsSql,
    "w21_rolling_corr" -> w21RollingCorrSql,
    "dq_reconciliation" -> dqReconciliationSql)
}

/** Round-5 thirteenth-session widening: the gradient-boosting split
  * kernel (histogram-based best-split search — the inner loop of
  * XGBoost/LightGBM tree growth, run as one bounded-histogram pass),
  * new-vs-returning revenue decomposition (the canonical growth
  * report), and Luby's maximal-independent-set rounds over the
  * co-purchase graph (the distributed symmetry-breaking primitive
  * behind conflict-free scheduling).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs, windows
  * only over domain-bounded state, total ORDER BYs.
  */
object Frontier9Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // a37_gini_split — histogram-based best-split finding, the kernel a
  // distributed GBDT implementation runs per feature per node: ONE
  // data pass builds a bounded class histogram (price bucketed to
  // ≤100 cells), then every candidate threshold is scored from
  // cumulative counts — no per-row re-scan per candidate, which is
  // exactly why histogram GBDTs scale. Scoring: weighted Gini
  // impurity of the (left, right) partition induced by "price ≤ s";
  // each impurity is ONE rounded double from exact cumulative
  // integers; the argmax breaks ties on the smaller bucket. Output:
  // the best split with its gain over the parent impurity.
  // ------------------------------------------------------------------
  private val a37GiniSplit: QFn = (s, dir) => {
    val d = t(s, dir, "orders").select(
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
        .otherwise(0L).as("y"),
      least(floor(col("o_totalprice") / 5000.0).cast("long"), lit(99L))
        .as("b"))
    val hist = d.groupBy("b")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
    val wPre = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(0))
    val cum = hist
      .withColumn("nl", sum(col("n")).over(wPre))
      .withColumn("nposl", sum(col("npos")).over(wPre))
      .withColumn("nt", sum(col("n")).over(wAll))
      .withColumn("npost", sum(col("npos")).over(wAll))
    def gini(pos: org.apache.spark.sql.Column,
             tot: org.apache.spark.sql.Column) = {
      val p = pos.cast("double") / tot.cast("double")
      lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p)
    }
    val cand = cum.filter(col("nl") > 0 && col("nl") < col("nt"))
      .withColumn("gini_parent_r",
        round(gini(col("npost"), col("nt")), 6))
      .withColumn("gini_split_r", round(
        (col("nl").cast("double") * gini(col("nposl"), col("nl")) +
          (col("nt") - col("nl")).cast("double") *
            gini(col("npost") - col("nposl"), col("nt") - col("nl"))) /
          col("nt").cast("double"), 6))
      .withColumn("gain_r",
        round(col("gini_parent_r") - col("gini_split_r"), 6))
    cand
      .withColumn("rn", row_number().over(
        Window.orderBy(col("gain_r").desc, col("b").asc)))
      .filter(col("rn") === 1)
      .select(((col("b") + 1) * 5000).cast("long").as("split_price"),
        col("nl").cast("long").as("n_left"),
        (col("nt") - col("nl")).cast("long").as("n_right"),
        col("gini_parent_r"), col("gini_split_r"), col("gain_r"))
  }
  private val a37GiniSplitSql =
    """WITH d AS (SELECT
      |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END AS y,
      |    least(CAST(floor(o_totalprice / 5000.0) AS BIGINT), 99) AS b
      |  FROM orders),
      |hist AS (SELECT b, COUNT(*) AS n, SUM(y) AS npos
      |  FROM d GROUP BY 1),
      |cum AS (SELECT b,
      |    SUM(n) OVER (ORDER BY b) AS nl,
      |    SUM(npos) OVER (ORDER BY b) AS nposl,
      |    SUM(n) OVER () AS nt, SUM(npos) OVER () AS npost
      |  FROM hist),
      |cand AS (SELECT b, nl, nt,
      |    round(1.0 - pow(CAST(npost AS DOUBLE) / CAST(nt AS DOUBLE), 2)
      |      - pow(1.0 - CAST(npost AS DOUBLE) / CAST(nt AS DOUBLE), 2), 6)
      |      AS gini_parent_r,
      |    round((CAST(nl AS DOUBLE)
      |        * (1.0 - pow(CAST(nposl AS DOUBLE) / CAST(nl AS DOUBLE), 2)
      |           - pow(1.0 - CAST(nposl AS DOUBLE) / CAST(nl AS DOUBLE), 2))
      |      + CAST(nt - nl AS DOUBLE)
      |        * (1.0 - pow(CAST(npost - nposl AS DOUBLE)
      |              / CAST(nt - nl AS DOUBLE), 2)
      |           - pow(1.0 - CAST(npost - nposl AS DOUBLE)
      |              / CAST(nt - nl AS DOUBLE), 2)))
      |      / CAST(nt AS DOUBLE), 6) AS gini_split_r
      |  FROM cum WHERE nl > 0 AND nl < nt)
      |SELECT CAST((b + 1) * 5000 AS BIGINT) AS split_price,
      |  CAST(nl AS BIGINT) AS n_left, CAST(nt - nl AS BIGINT) AS n_right,
      |  gini_parent_r, gini_split_r,
      |  round(gini_parent_r - gini_split_r, 6) AS gain_r
      |FROM cand
      |QUALIFY row_number() OVER (
      |  ORDER BY round(gini_parent_r - gini_split_r, 6) DESC, b) = 1""".stripMargin

  // ------------------------------------------------------------------
  // q32_new_vs_returning — monthly revenue decomposed into first-time
  // vs repeat customers: the canonical growth report. One groupBy
  // finds each customer's first order month; one broadcast-free
  // customer-keyed join tags every order; one month groupBy rolls
  // up exact-decimal revenue and exact distinct-customer counts per
  // cohort side. Plan: two shuffles, both on natural keys.
  // ------------------------------------------------------------------
  private val q32NewVsReturning: QFn = (s, dir) => {
    val o = t(s, dir, "orders").select(col("o_custkey"),
      date_trunc("month", col("o_orderdate")).cast("date").as("m"),
      col("o_totalprice").cast(DecimalType(12, 2)).as("p"))
    val firstM = o.groupBy("o_custkey").agg(min(col("m")).as("fm"))
    o.join(firstM, "o_custkey")
      .withColumn("is_new", col("m") === col("fm"))
      .groupBy("m")
      .agg(
        sum(when(col("is_new"), col("p")).otherwise(lit(0)
          .cast(DecimalType(12, 2)))).as("rev_new"),
        sum(when(!col("is_new"), col("p")).otherwise(lit(0)
          .cast(DecimalType(12, 2)))).as("rev_ret"),
        countDistinct(when(col("is_new"), col("o_custkey"))).as("n_new"),
        countDistinct(when(!col("is_new"), col("o_custkey"))).as("n_ret"))
      .select(col("m"),
        col("rev_new").cast("string").cast("double").as("rev_new_d"),
        col("rev_ret").cast("string").cast("double").as("rev_ret_d"),
        col("n_new"), col("n_ret"))
      .orderBy("m")
  }
  private val q32NewVsReturningSql =
    """WITH o AS (SELECT o_custkey,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS p
      |  FROM orders),
      |fm AS (SELECT o_custkey, min(m) AS fm FROM o GROUP BY 1)
      |SELECT o.m,
      |  CAST(CAST(SUM(CASE WHEN o.m = fm.fm THEN o.p
      |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE)
      |    AS rev_new_d,
      |  CAST(CAST(SUM(CASE WHEN o.m <> fm.fm THEN o.p
      |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS VARCHAR) AS DOUBLE)
      |    AS rev_ret_d,
      |  COUNT(DISTINCT CASE WHEN o.m = fm.fm THEN o.o_custkey END) AS n_new,
      |  COUNT(DISTINCT CASE WHEN o.m <> fm.fm THEN o.o_custkey END) AS n_ret
      |FROM o JOIN fm USING (o_custkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // g_luby_mis — three rounds of Luby's maximal-independent-set
  // algorithm over the co-purchase graph: each round, an undecided
  // node joins the MIS iff its md5-derived priority beats every
  // undecided neighbor's (local-max symmetry breaking); MIS
  // neighbors drop out. Expected O(log n) rounds to termination —
  // three rounds here, with the undecided remainder reported, so the
  // oracle can replay rounds as chained CTEs. Each round is one
  // self-equi-join on the node key + a max-aggregate; per-round
  // lineage cuts keep plans flat (the CC/KCore discipline).
  // Priorities are exact BIGINTs — both engines break every tie
  // identically (and ids break priority ties).
  // ------------------------------------------------------------------
  private val gLubyMis: QFn = (s, dir) => {
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = op.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = op.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val e0 = a.join(b, "l_orderkey").filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 2)
    val e = e0.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(e0.select(col("pb").as("src"), col("pa").as("dst")))
      .localCheckpoint(true)
    // composite priority p·10⁶ + node is collision-free while node ids
    // stay below 10⁶ (true for every test SF; at larger id spaces widen
    // the multiplier — the DECIMAL carries it to 10³⁸)
    def prio(c: org.apache.spark.sql.Column) =
      (conv(substring(md5(concat(lit("mis:"), c.cast("string"))), 1, 13),
        16, 10).cast("long").cast(DecimalType(25, 0)) * 1000000 + c)
        .cast(DecimalType(25, 0))
    var und = e.select(col("src").as("node")).distinct()
      .withColumn("p", prio(col("node"))).localCheckpoint(true)
    var mis = und.filter(lit(false)).select(col("node"))
    (1 to 3).foreach { _ =>
      val eU = e
        .join(und.select(col("node").as("src")), "src")
        .join(und.select(col("node").as("dst"), col("p").as("pd")), "dst")
      val maxNb = eU.groupBy(col("src").as("node"))
        .agg(max(col("pd")).as("mx"))
      val winners = und.join(maxNb, Seq("node"), "left")
        .filter(col("mx").isNull || col("p") > col("mx"))
        .select(col("node"))
        .localCheckpoint(true)
      mis = mis.unionByName(winners).localCheckpoint(true)
      val killed = e.join(winners.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
      und = und
        .join(winners, Seq("node"), "left_anti")
        .join(killed, Seq("node"), "left_anti")
        .localCheckpoint(true)
    }
    val misAgg = mis.agg(count(lit(1)).as("n_mis"),
      coalesce(sum(col("node")), lit(0L)).cast("long").as("mis_checksum"))
    val undAgg = und.agg(count(lit(1)).as("n_undecided"))
    misAgg.crossJoin(broadcast(undAgg))
      .select(col("n_mis"), col("n_undecided"), col("mis_checksum"))
  }
  private val gLubyMisSql = {
    def round(r: Int, undPrev: String, misPrev: String) =
      s"""w$r AS MATERIALIZED (SELECT u.node FROM $undPrev u
         |  LEFT JOIN (SELECT e.src AS node, MAX(ud.p) AS mx
         |    FROM e JOIN $undPrev us ON us.node = e.src
         |    JOIN $undPrev ud ON ud.node = e.dst
         |    GROUP BY 1) m ON m.node = u.node
         |  WHERE m.mx IS NULL OR u.p > m.mx),
         |mis$r AS MATERIALIZED (SELECT node FROM $misPrev UNION ALL SELECT node FROM w$r),
         |k$r AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e
         |        JOIN w$r ON w$r.node = e.src),
         |u$r AS MATERIALIZED (SELECT u.node, u.p FROM $undPrev u
         |  WHERE u.node NOT IN (SELECT node FROM w$r)
         |    AND u.node NOT IN (SELECT node FROM k$r))""".stripMargin
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
       |       FROM op a JOIN op b USING (l_orderkey)
       |       WHERE a.l_partkey < b.l_partkey
       |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM e0
       |      UNION ALL SELECT pb, pa FROM e0),
       |u0 AS MATERIALIZED (SELECT DISTINCT src AS node,
       |    CAST(CAST(('0x' || substring(md5('mis:' ||
       |      CAST(src AS VARCHAR)), 1, 13)) AS BIGINT) AS DECIMAL(25,0))
       |      * 1000000 + src AS p
       |  FROM e),
       |mis0 AS (SELECT node FROM u0 WHERE 1 = 0),
       |${round(1, "u0", "mis0")},
       |${round(2, "u1", "mis1")},
       |${round(3, "u2", "mis2")}
       |SELECT (SELECT COUNT(*) FROM mis3) AS n_mis,
       |  (SELECT COUNT(*) FROM u3) AS n_undecided,
       |  (SELECT CAST(COALESCE(SUM(node), 0) AS BIGINT) FROM mis3)
       |    AS mis_checksum""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "a37_gini_split" -> a37GiniSplit,
    "q32_new_vs_returning" -> q32NewVsReturning,
    "g_luby_mis" -> gLubyMis)

  val oracleSql: Map[String, String] = Map(
    "a37_gini_split" -> a37GiniSplitSql,
    "q32_new_vs_returning" -> q32NewVsReturningSql,
    "g_luby_mis" -> gLubyMisSql)
}

/** Round-5 fourteenth-session widening: malformed-CSV quarantine (the
  * dead-letter ingest path for the file format the reference actually
  * loads), model calibration diagnostics (reliability bins + expected
  * calibration error over the in-engine logistic model), and customer
  * value-segment migration (the period-over-period movement matrix
  * behind every retention deck).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs, total
  * ORDER BYs.
  */
object Frontier10Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // s22_csv_quarantine — malformed-record quarantine for CSV ingest
  // (the reference's own bulk-load format, proc_load_bronze.sql's
  // BULK INSERT path): a staged feed where every 17th row carries an
  // unparseable key is read back PERMISSIVE with a _corrupt_record
  // column, so bad lines become quarantine rows instead of aborting
  // the load (FAILFAST would kill a 100-TB bulk load for one bad
  // byte — the s19 JSON pattern, completed for CSV). Clean rows
  // aggregate by order status in exact DECIMAL; the corrupt bucket
  // surfaces as a NULL status group. The oracle derives the same
  // split directly from the source table.
  // ------------------------------------------------------------------
  private val s22CsvQuarantine: QFn = (s, dir) => {
    val tmp = org.apache.spark.ScratchDirs.create("graft_csvq").toString
    t(s, dir, "orders")
      .select(when(col("o_orderkey") % 17 === 0,
        concat_ws(",", lit("XX"), lit("CORRUPT"), lit("notanumber")))
        .otherwise(concat_ws(",", col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(12, 2)))).as("value"))
      .write.mode("overwrite").text(tmp)
    val parsed = s.read
      .schema("o_orderkey LONG, o_orderstatus STRING, " +
        "o_totalprice DECIMAL(12,2), _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(tmp)
    parsed
      .select(when(col("_corrupt_record").isNotNull, lit(null))
          .otherwise(col("o_orderstatus")).as("status"),
        col("o_totalprice"), col("_corrupt_record"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("o_totalprice")),
          lit(0).cast(DecimalType(12, 2))).cast("string").cast("double")
          .as("total_price_d"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_corrupt"))
      .orderBy(asc_nulls_first("status"))
  }
  private val s22CsvQuarantineSql =
    """SELECT CASE WHEN o_orderkey % 17 = 0 THEN NULL
      |    ELSE o_orderstatus END AS status,
      |  COUNT(*) AS n_rows,
      |  CAST(CAST(SUM(CASE WHEN o_orderkey % 17 = 0
      |      THEN CAST(0 AS DECIMAL(12,2))
      |      ELSE CAST(o_totalprice AS DECIMAL(12,2)) END) AS VARCHAR)
      |    AS DOUBLE) AS total_price_d,
      |  CAST(SUM(CASE WHEN o_orderkey % 17 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_corrupt
      |FROM orders GROUP BY 1 ORDER BY status NULLS FIRST""".stripMargin

  // ------------------------------------------------------------------
  // ml_calibration_bins — reliability diagram for the in-engine
  // logistic model (graft.ml.LogReg, the ml_logreg_newton trainer):
  // predictions bucket into 10 probability bins; each bin reports its
  // exact count, mean predicted probability (exact decimal sum ÷
  // count) and observed positive rate — plus each bin's contribution
  // to the expected calibration error (|obs − pred|·n/N, the ECE
  // summand). A model whose bins sit on the diagonal is calibrated;
  // the drift is what a production scoring pipeline alerts on. One
  // extra data pass after training; the bin table is 10 rows.
  // ------------------------------------------------------------------
  private val mlCalibrationBins: QFn = (s, dir) => {
    val d = t(s, dir, "orders").select(
      when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
        .otherwise(0L).as("y"),
      round(log(col("o_totalprice")), 6).cast(DecimalType(9, 6)).as("x"))
      .localCheckpoint(true)
    val (b0, b1) = graft.ml.LogReg.fit(d, iters = 2)
    val p = graft.ml.LogReg.sigmoid(b0, b1, col("x"))
    val binned = d.select(col("y"), p.as("p"))
      .withColumn("bin", least(floor(col("p").cast("double") * 10)
        .cast("long"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"),
        sum(col("y")).as("npos"))
    val tot = binned.agg(sum(col("n")).as("nt"))
    binned.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"),
        round(col("sp").cast("double") / col("n").cast("double"), 6)
          .as("mean_p_r"),
        round(col("npos").cast("double") / col("n").cast("double"), 6)
          .as("obs_rate_r"),
        round(abs(col("npos").cast("double") / col("n").cast("double") -
          col("sp").cast("double") / col("n").cast("double")) *
          col("n").cast("double") / col("nt").cast("double"), 6)
          .as("ece_part_r"))
      .orderBy("bin")
  }
  private val mlCalibrationBinsSql =
    s"""WITH d AS (SELECT
       |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |      THEN 1 ELSE 0 END AS y,
       |    CAST(round(ln(o_totalprice), 6) AS DECIMAL(9,6)) AS x
       |  FROM orders),
       |${graft.ml.LogReg.sqlSteps(2)},
       |fp AS (SELECT d.y,
       |    CAST(round(1.0 / (1.0 + exp(-CAST(CAST(bb.b0 + bb.b1 * d.x
       |      AS VARCHAR) AS DOUBLE))), 6) AS DECIMAL(8,6)) AS p
       |  FROM d CROSS JOIN bb),
       |binned AS (SELECT
       |    least(CAST(floor(CAST(CAST(p AS VARCHAR) AS DOUBLE) * 10)
       |      AS BIGINT), 9) AS bin,
       |    COUNT(*) AS n, SUM(p) AS sp, SUM(y) AS npos
       |  FROM fp GROUP BY 1),
       |tot AS (SELECT SUM(n) AS nt FROM binned)
       |SELECT bin, CAST(n AS BIGINT) AS n,
       |  round(CAST(CAST(sp AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE), 6)
       |    AS mean_p_r,
       |  round(CAST(npos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate_r,
       |  round(abs(CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)
       |      - CAST(CAST(sp AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
       |    * CAST(n AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS ece_part_r
       |FROM binned CROSS JOIN tot ORDER BY bin""".stripMargin

  // ------------------------------------------------------------------
  // q33_segment_migration — customer value-segment migration between
  // two halves of the order history (≤1997 vs ≥1998): per-period
  // spend terciles (thresholds from `percentile` ≡ `quantile_cont`,
  // parity-pinned; cut points rounded once) classify each customer
  // low/mid/high, then a full-outer join builds the 4×4 movement
  // matrix including 'none' rows for churned/new customers. Two
  // customer-keyed groupBys + two broadcast threshold rows — nothing
  // shuffles on more than the customer key.
  // ------------------------------------------------------------------
  private val q33SegmentMigration: QFn = (s, dir) => {
    def spend(pred: org.apache.spark.sql.Column): DataFrame =
      t(s, dir, "orders").filter(pred)
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast(DecimalType(12, 2))).as("sp"))
        .select(col("o_custkey"),
          col("sp").cast("string").cast("double").as("sp_d"))
    def seg(df: DataFrame, label: String): DataFrame = {
      val th = df.agg(
        round(expr("percentile(sp_d, 0.333333)"), 6).as("t1"),
        round(expr("percentile(sp_d, 0.666667)"), 6).as("t2"))
      df.crossJoin(broadcast(th))
        .select(col("o_custkey"),
          when(col("sp_d") <= col("t1"), "low")
            .when(col("sp_d") <= col("t2"), "mid")
            .otherwise("high").as(label))
    }
    val s1 = seg(spend(year(col("o_orderdate")) <= 1997), "seg1")
    val s2 = seg(spend(year(col("o_orderdate")) >= 1998), "seg2")
    s1.join(s2, Seq("o_custkey"), "full_outer")
      .select(coalesce(col("seg1"), lit("none")).as("seg_before"),
        coalesce(col("seg2"), lit("none")).as("seg_after"))
      .groupBy("seg_before", "seg_after")
      .agg(count(lit(1)).as("n_cust"))
      .orderBy("seg_before", "seg_after")
  }
  private val q33SegmentMigrationSql = {
    def half(cmp: String) =
      s"""SELECT o_custkey,
         |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
         |    AS DOUBLE) AS sp_d
         |FROM orders WHERE year(o_orderdate) $cmp GROUP BY 1""".stripMargin
    def seg(src: String, label: String) =
      s"""SELECT o_custkey,
         |  CASE WHEN sp_d <= t1 THEN 'low'
         |       WHEN sp_d <= t2 THEN 'mid'
         |       ELSE 'high' END AS $label
         |FROM $src CROSS JOIN ${src}_th""".stripMargin
    s"""WITH h1 AS (${half("<= 1997")}),
       |h2 AS (${half(">= 1998")}),
       |h1_th AS (SELECT round(quantile_cont(sp_d, 0.333333), 6) AS t1,
       |    round(quantile_cont(sp_d, 0.666667), 6) AS t2 FROM h1),
       |h2_th AS (SELECT round(quantile_cont(sp_d, 0.333333), 6) AS t1,
       |    round(quantile_cont(sp_d, 0.666667), 6) AS t2 FROM h2),
       |s1 AS (${seg("h1", "seg1")}),
       |s2 AS (${seg("h2", "seg2")})
       |SELECT COALESCE(s1.seg1, 'none') AS seg_before,
       |  COALESCE(s2.seg2, 'none') AS seg_after,
       |  COUNT(*) AS n_cust
       |FROM s1 FULL OUTER JOIN s2 USING (o_custkey)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "s22_csv_quarantine" -> s22CsvQuarantine,
    "ml_calibration_bins" -> mlCalibrationBins,
    "q33_segment_migration" -> q33SegmentMigration)

  val oracleSql: Map[String, String] = Map(
    "s22_csv_quarantine" -> s22CsvQuarantineSql,
    "ml_calibration_bins" -> mlCalibrationBinsSql,
    "q33_segment_migration" -> q33SegmentMigrationSql)
}

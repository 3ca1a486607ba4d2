package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

// Contents (one object per original pack, APIs unchanged):
//   Frontier31Queries: ml_kfold_cv, a52_wilson_interval, ev_engagement_index
//   Frontier32Queries: a53_overdispersion, t_heaps_fit, q47_lifecycle_stages
//   Frontier33Queries: ann_hard_negatives, t_tokenizer_fertility, ev_activity_bitmap
//   Frontier34Queries: a54_kruskal_wallis, p_importance_weights, g_rich_club
//   Frontier35Queries: t_ngram_novelty, ev_funnel_windows, g_powerlaw_fit

/** Round-5 widening, nineteenth pack: k-fold cross-validation of the
  * histogram stump (train on k−1 hash folds, score on the held-out
  * fold — the generalization measurement that separates a model
  * from a memorizer), Wilson score intervals for conversion rates
  * (the binomial CI that behaves at small n and extreme p, unlike
  * the normal approximation), and a composite engagement index
  * (min-max-normalized weighted KPI blend — the scorecard metric
  * every growth dashboard tracks).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier31Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // ml_kfold_cv — 3-fold cross-validation of the month-bin regression
  // stump (the ml_gbt_stumps fitter): folds are md5 hash classes of
  // the order key (deterministic, coordination-free), each fold's
  // model fits on the other two and reports TRAIN and VALIDATION
  // mean squared error (per-row squared residuals in exact decimal,
  // ONE rounded double per emitted mse). The gap between the two
  // columns IS the overfit measurement. Each fold is one bin-stat
  // aggregation + one scoring pass — 3 folds cost 3 bounded scans,
  // embarrassingly parallel within each.
  // ------------------------------------------------------------------
  private val mlKfoldCv: QFn = (s, dir) => {
    val rows = t(s, dir, "orders")
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("bin"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("y"),
        (conv(substring(md5(concat(lit("cv:"),
          col("o_orderkey").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 3).as("fold"))
      .localCheckpoint(true)
    def fitAndScore(k: Int): DataFrame = {
      val train = rows.filter(col("fold") =!= k)
      val bins = train.groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(col("y")).cast(DecimalType(38, 4)).as("sy"),
          sum((col("y") * col("y")).cast(DecimalType(38, 8))).as("qy"))
      val wc = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = bins
        .withColumn("nl", sum(col("n")).over(wc))
        .withColumn("sl", sum(col("sy")).over(wc).cast(DecimalType(38, 4)))
        .withColumn("ql", sum(col("qy")).over(wc).cast(DecimalType(38, 8)))
      val tot = bins.agg(sum(col("n")).as("nt"),
        sum(col("sy")).cast(DecimalType(38, 4)).as("st"),
        sum(col("qy")).cast(DecimalType(38, 8)).as("qt"))
      val cand = cum.crossJoin(broadcast(tot))
        .filter(col("nl") < col("nt"))
        .select(col("bin").as("thr"), col("nl"), col("sl"),
          (col("nt") - col("nl")).as("nr"), (col("st") - col("sl"))
            .as("sr"),
          round(((col("ql").cast("double") -
            col("sl").cast("double") * col("sl").cast("double") /
              col("nl").cast("double")) +
            ((col("qt") - col("ql")).cast("double") -
              (col("st") - col("sl")).cast("double") *
              (col("st") - col("sl")).cast("double") /
                (col("nt") - col("nl")).cast("double"))) / lit(1e6), 4)
            .as("sse_m"))
      val best = cand
        .withColumn("rk", row_number().over(
          Window.orderBy(col("sse_m").asc, col("thr").asc)))
        .filter(col("rk") === 1)
        .select(col("thr"),
          round(col("sl").cast("double") / col("nl").cast("double"), 6)
            .cast(DecimalType(18, 6)).as("lm"),
          round(col("sr").cast("double") / col("nr").cast("double"), 6)
            .cast(DecimalType(18, 6)).as("rm"))
      val scored = rows.crossJoin(broadcast(best))
        .select(col("fold"),
          (round(col("y") - when(col("bin") <= col("thr"), col("lm"))
            .otherwise(col("rm")), 4).cast(DecimalType(18, 4))).as("r"))
        .select(col("fold"),
          (col("r") * col("r")).cast(DecimalType(38, 8)).as("r2"))
      scored.groupBy()
        .agg(
          sum(when(col("fold") =!= k, col("r2"))).as("str"),
          sum(when(col("fold") =!= k, 1L).otherwise(0L)).as("ntr"),
          sum(when(col("fold") === k, col("r2"))).as("sva"),
          sum(when(col("fold") === k, 1L).otherwise(0L)).as("nva"))
        .select(lit(k).as("fold"),
          round(col("str").cast("double") / col("ntr").cast("double") /
            lit(1e6), 6).as("train_mse_m_r"),
          round(col("sva").cast("double") / col("nva").cast("double") /
            lit(1e6), 6).as("val_mse_m_r"))
    }
    fitAndScore(0).unionByName(fitAndScore(1)).unionByName(fitAndScore(2))
      .orderBy("fold")
  }
  private val mlKfoldCvSql = {
    def fold(k: Int): String =
      s"""bins_$k AS (SELECT bin, COUNT(*) AS n,
         |    CAST(SUM(y) AS DECIMAL(38,4)) AS sy,
         |    CAST(SUM(CAST(y AS DECIMAL(28,4)) * y) AS DECIMAL(38,8))
         |      AS qy
         |  FROM rows0 WHERE fold <> $k GROUP BY 1),
         |cum_$k AS (SELECT bin, SUM(n) OVER wb AS nl,
         |    CAST(SUM(sy) OVER wb AS DECIMAL(38,4)) AS sl,
         |    CAST(SUM(qy) OVER wb AS DECIMAL(38,8)) AS ql
         |  FROM bins_$k
         |  WINDOW wb AS (ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |tot_$k AS (SELECT SUM(n) AS nt,
         |    CAST(SUM(sy) AS DECIMAL(38,4)) AS st,
         |    CAST(SUM(qy) AS DECIMAL(38,8)) AS qt FROM bins_$k),
         |cand_$k AS (SELECT bin AS thr, nl, sl, nt - nl AS nr,
         |    st - sl AS sr,
         |    round(((CAST(ql AS DOUBLE)
         |        - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
         |          / CAST(nl AS DOUBLE))
         |      + (CAST(qt - ql AS DOUBLE)
         |        - CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
         |          / CAST(nt - nl AS DOUBLE))) / 1e6, 4) AS sse_m
         |  FROM cum_$k CROSS JOIN tot_$k WHERE nl < nt),
         |best_$k AS (SELECT thr,
         |    CAST(round(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) AS lm,
         |    CAST(round(CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) AS rm
         |  FROM cand_$k
         |  QUALIFY row_number() OVER (ORDER BY sse_m, thr) = 1),
         |sc_$k AS (SELECT rows0.fold,
         |    CAST(CAST(round(rows0.y - CASE WHEN rows0.bin <= b.thr
         |        THEN b.lm ELSE b.rm END, 4) AS DECIMAL(18,4))
         |      AS DECIMAL(28,4))
         |    * CAST(round(rows0.y - CASE WHEN rows0.bin <= b.thr
         |        THEN b.lm ELSE b.rm END, 4) AS DECIMAL(18,4)) AS r2
         |  FROM rows0 CROSS JOIN best_$k b),
         |res_$k AS (SELECT $k AS fold,
         |    round(CAST(SUM(CASE WHEN fold <> $k THEN r2 END) AS DOUBLE)
         |      / CAST(SUM(CASE WHEN fold <> $k THEN 1 ELSE 0 END)
         |        AS DOUBLE) / 1e6, 6) AS train_mse_m_r,
         |    round(CAST(SUM(CASE WHEN fold = $k THEN r2 END) AS DOUBLE)
         |      / CAST(SUM(CASE WHEN fold = $k THEN 1 ELSE 0 END)
         |        AS DOUBLE) / 1e6, 6) AS val_mse_m_r
         |  FROM sc_$k)""".stripMargin
    s"""WITH rows0 AS (SELECT
       |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
       |      AS bin,
       |    CAST(o_totalprice AS DECIMAL(18,4)) AS y,
       |    CAST(('0x' || substring(md5('cv:'
       |      || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 3
       |      AS fold
       |  FROM orders),
       |${fold(0)},
       |${fold(1)},
       |${fold(2)}
       |SELECT * FROM res_0 UNION ALL SELECT * FROM res_1
       |UNION ALL SELECT * FROM res_2 ORDER BY fold""".stripMargin
  }

  // ------------------------------------------------------------------
  // a52_wilson_interval — Wilson score CI (95%) for each segment's
  // "urgent order" rate: the binomial interval that stays inside
  // [0,1] and behaves at small counts, computed in its closed form
  // from exact (successes, trials). Every bound is ONE rounded
  // double over exact integers with the z literal shared by both
  // engines — the CI a dashboard should draw instead of ±1.96√pq/n.
  // ------------------------------------------------------------------
  private val a52WilsonInterval: QFn = (s, dir) => {
    val st = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L)).cast("long").as("k"))
    val z = lit(1.959964)
    val n = col("n").cast("double"); val k = col("k").cast("double")
    val p = k / n
    val denom = lit(1.0) + z * z / n
    val center = (p + z * z / (n * 2)) / denom
    val half = z * sqrt(p * (lit(1.0) - p) / n +
      z * z / (n * n * 4)) / denom
    st.select(col("c_mktsegment"), col("n"), col("k"),
        round(p, 6).as("rate_r"),
        round(center - half, 6).as("wilson_lo_r"),
        round(center + half, 6).as("wilson_hi_r"))
      .orderBy("c_mktsegment")
  }
  private val a52WilsonIntervalSql =
    """WITH st AS (SELECT c_mktsegment, COUNT(*) AS n,
      |    SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
      |      AS k
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1),
      |d AS (SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
      |    CAST(k AS BIGINT) AS k,
      |    CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd
      |  FROM st)
      |SELECT c_mktsegment, n, k,
      |  round(kd / nd, 6) AS rate_r,
      |  round((kd / nd + 1.959964 * 1.959964 / (nd * 2))
      |      / (1.0 + 1.959964 * 1.959964 / nd)
      |    - 1.959964 * sqrt((kd / nd) * (1.0 - kd / nd) / nd
      |        + 1.959964 * 1.959964 / (nd * nd * 4))
      |      / (1.0 + 1.959964 * 1.959964 / nd), 6) AS wilson_lo_r,
      |  round((kd / nd + 1.959964 * 1.959964 / (nd * 2))
      |      / (1.0 + 1.959964 * 1.959964 / nd)
      |    + 1.959964 * sqrt((kd / nd) * (1.0 - kd / nd) / nd
      |        + 1.959964 * 1.959964 / (nd * nd * 4))
      |      / (1.0 + 1.959964 * 1.959964 / nd), 6) AS wilson_hi_r
      |FROM d ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------------
  // ev_engagement_index — the composite scorecard: per user, three
  // KPIs (event count, active days, purchase count) min-max
  // normalize across the user base (exact integer min/max from one
  // pass over the per-user aggregate) and blend 50/30/20 into one
  // index — each normalized term ONE rounded double frozen as
  // DECIMAL so the blend is exact. Reported as the decile histogram
  // of the index (bounded output) with per-bucket user checksums.
  // Composite indices are how growth teams rank cohorts; the min-max
  // frame is the piece that must be computed globally (two scalars
  // per KPI — a broadcast, not a shuffle).
  // ------------------------------------------------------------------
  private val evEngagementIndex: QFn = (s, dir) => {
    val per = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("ts div 86400000000000").as("day"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        countDistinct(col("day")).as("n_days"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_buy"))
      .localCheckpoint(true)
    val mm = per.agg(
      min(col("n_ev")).as("ev_lo"), max(col("n_ev")).as("ev_hi"),
      min(col("n_days")).as("dy_lo"), max(col("n_days")).as("dy_hi"),
      min(col("n_buy")).as("by_lo"), max(col("n_buy")).as("by_hi"))
    def norm(c: String, lo: String, hi: String) =
      when(col(hi) === col(lo), lit(0.0))
        .otherwise(round((col(c) - col(lo)).cast("double") /
          (col(hi) - col(lo)).cast("double"), 6))
    val idx = per.crossJoin(broadcast(mm))
      .select(col("user_id"),
        (norm("n_ev", "ev_lo", "ev_hi").cast(DecimalType(18, 6)) *
          lit(BigDecimal("0.5")).cast(DecimalType(18, 6)) +
         norm("n_days", "dy_lo", "dy_hi").cast(DecimalType(18, 6)) *
          lit(BigDecimal("0.3")).cast(DecimalType(18, 6)) +
         norm("n_buy", "by_lo", "by_hi").cast(DecimalType(18, 6)) *
          lit(BigDecimal("0.2")).cast(DecimalType(18, 6))).as("ei"))
    idx.select(floor(col("ei").cast("double") * 10).cast("long")
        .as("decile"), col("user_id"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"),
        sum(col("user_id")).cast("long").as("id_checksum"))
      .orderBy("decile")
  }
  private val evEngagementIndexSql =
    """WITH per AS (SELECT user_id, COUNT(*) AS n_ev,
      |    COUNT(DISTINCT epoch_us(ts) // 86400000000) AS n_days,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS n_buy
      |  FROM events GROUP BY 1),
      |mm AS (SELECT MIN(n_ev) AS ev_lo, MAX(n_ev) AS ev_hi,
      |    MIN(n_days) AS dy_lo, MAX(n_days) AS dy_hi,
      |    MIN(n_buy) AS by_lo, MAX(n_buy) AS by_hi
      |  FROM per),
      |idx AS (SELECT user_id,
      |    CAST(CASE WHEN ev_hi = ev_lo THEN 0.0
      |      ELSE round(CAST(n_ev - ev_lo AS DOUBLE)
      |        / CAST(ev_hi - ev_lo AS DOUBLE), 6) END
      |      AS DECIMAL(18,6)) * CAST(0.5 AS DECIMAL(18,6))
      |    + CAST(CASE WHEN dy_hi = dy_lo THEN 0.0
      |      ELSE round(CAST(n_days - dy_lo AS DOUBLE)
      |        / CAST(dy_hi - dy_lo AS DOUBLE), 6) END
      |      AS DECIMAL(18,6)) * CAST(0.3 AS DECIMAL(18,6))
      |    + CAST(CASE WHEN by_hi = by_lo THEN 0.0
      |      ELSE round(CAST(n_buy - by_lo AS DOUBLE)
      |        / CAST(by_hi - by_lo AS DOUBLE), 6) END
      |      AS DECIMAL(18,6)) * CAST(0.2 AS DECIMAL(18,6)) AS ei
      |  FROM per CROSS JOIN mm)
      |SELECT CAST(floor(CAST(ei AS DOUBLE) * 10) AS BIGINT) AS decile,
      |  COUNT(*) AS n_users,
      |  CAST(SUM(user_id) AS BIGINT) AS id_checksum
      |FROM idx GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ml_kfold_cv" -> mlKfoldCv,
    "a52_wilson_interval" -> a52WilsonInterval,
    "ev_engagement_index" -> evEngagementIndex)

  val oracleSql: Map[String, String] = Map(
    "ml_kfold_cv" -> mlKfoldCvSql,
    "a52_wilson_interval" -> a52WilsonIntervalSql,
    "ev_engagement_index" -> evEngagementIndexSql)
}

/** Round-5 widening, twentieth pack: count-model overdispersion
  * diagnostics (the variance-to-mean test that decides Poisson vs
  * negative-binomial before anyone fits either), Heaps'-law
  * vocabulary-growth fitting (V = k·Nᵝ — the corpus-linguistics
  * twin of the Zipf entry, and the empirical basis for every
  * "vocab stays sublinear" scale argument this repo makes), and
  * customer lifecycle stages (recency-band state machine + the
  * month-to-month transition matrix retention teams steer by).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier32Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // a53_overdispersion — is the per-user event count Poisson? The
  // index of dispersion D = s²/x̄ answers it from exact sufficient
  // statistics (n, Σc, Σc²); the chi-square form (n−1)·D against its
  // n−1 expectation flags overdispersion (D≫1 ⇒ negative binomial /
  // zero-inflation territory — the difference decides every count
  // model downstream). Also emits the implied negative-binomial
  // size parameter x̄²/(s²−x̄) when overdispersed. One groupBy + one
  // moment aggregate; every emitted number is ONE rounded double.
  // ------------------------------------------------------------------
  private val a53Overdispersion: QFn = (s, dir) => {
    val per = t(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val st = per.agg(count(lit(1)).cast("long").as("n"),
      sum(col("c")).cast(DecimalType(38, 0)).as("sc"),
      sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("scc"))
    val n = col("n").cast("double")
    val mean = col("sc").cast("double") / n
    val variance = (col("scc").cast("double") - mean * mean * n) / (n - 1)
    st.select(col("n").as("n_users"),
        round(mean, 6).as("mean_r"),
        round(variance, 6).as("var_r"),
        round(variance / mean, 6).as("dispersion_r"),
        (variance / mean > 1.5).as("overdispersed"),
        when(variance <= mean, lit(0.0))
          .otherwise(round(mean * mean / (variance - mean), 6))
          .as("nb_size_r"))
  }
  private val a53OverdispersionSql =
    """WITH per AS (SELECT user_id, COUNT(*) AS c FROM events
      |  GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(c) AS DECIMAL(38,0)) AS sc,
      |    CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0))
      |      AS scc
      |  FROM per),
      |d AS (SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
      |    CAST(CAST(sc AS VARCHAR) AS DOUBLE) AS scd,
      |    CAST(CAST(scc AS VARCHAR) AS DOUBLE) AS sccd
      |  FROM st)
      |SELECT n AS n_users,
      |  round(scd / nd, 6) AS mean_r,
      |  round((sccd - (scd / nd) * (scd / nd) * nd) / (nd - 1), 6)
      |    AS var_r,
      |  round(((sccd - (scd / nd) * (scd / nd) * nd) / (nd - 1))
      |    / (scd / nd), 6) AS dispersion_r,
      |  ((sccd - (scd / nd) * (scd / nd) * nd) / (nd - 1))
      |    / (scd / nd) > 1.5 AS overdispersed,
      |  CASE WHEN (sccd - (scd / nd) * (scd / nd) * nd) / (nd - 1)
      |      <= scd / nd THEN 0.0
      |    ELSE round((scd / nd) * (scd / nd)
      |      / ((sccd - (scd / nd) * (scd / nd) * nd) / (nd - 1)
      |        - scd / nd), 6) END AS nb_size_r
      |FROM d""".stripMargin

  // ------------------------------------------------------------------
  // t_heaps_fit — Heaps'-law fit of vocabulary growth: walking the
  // corpus in doc_id order, V(N) = distinct words after N tokens is
  // sampled at each document boundary (first occurrences marked by
  // a row_number over each word's global position — one window per
  // word key; the cumulative sums run over the bounded doc axis),
  // then ln V on ln N fits by the a14 OLS idiom. β well below 1 is
  // the sublinearity every vocab-keyed shuffle in this repo counts
  // on — here it's measured, not assumed.
  // ------------------------------------------------------------------
  private val tHeapsFit: QFn = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(TF.normText(col("text")), " "))
          .as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
      .localCheckpoint(true)
    val firstSeen = toks
      .withColumn("rn", row_number().over(
        Window.partitionBy("w").orderBy("doc_id", "pos")))
      .select(col("doc_id"),
        when(col("rn") === 1, 1L).otherwise(0L).as("is_new"))
    val perDoc = firstSeen.groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum(col("is_new")).as("n_new"))
    val wCum = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = perDoc
      .withColumn("cum_n", sum(col("n_toks")).over(wCum))
      .withColumn("cum_v", sum(col("n_new")).over(wCum))
      .select(
        round(log(col("cum_n").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("x"),
        round(log(col("cum_v").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("y"))
    val stats = curve.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).as("sx0"), sum(col("y")).as("sy0"),
      sum((col("x") * col("x")).cast(DecimalType(38, 12))).as("sxx0"),
      sum((col("x") * col("y")).cast(DecimalType(38, 12))).as("sxy0"))
    val n = col("n")
    val sx = col("sx0").cast("double"); val sy = col("sy0").cast("double")
    val sxx = col("sxx0").cast("double")
    val sxy = col("sxy0").cast("double")
    val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    stats.select(n.as("n_points"),
      round(beta, 6).as("beta_r"),
      round(exp((sy - beta * sx) / n), 6).as("k_r"),
      (round(beta, 6) < 1.0).as("sublinear"))
  }
  private val tHeapsFitSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w0 AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS w,
       |    generate_subscripts(string_split($norm, ' '), 1) AS pos
       |  FROM documents),
       |tk AS (SELECT doc_id, pos, w FROM w0 WHERE length(w) > 0),
       |fs AS (SELECT doc_id,
       |    CASE WHEN row_number() OVER (PARTITION BY w
       |      ORDER BY doc_id, pos) = 1 THEN 1 ELSE 0 END AS is_new
       |  FROM tk),
       |pd AS (SELECT doc_id, COUNT(*) AS n_toks, SUM(is_new) AS n_new
       |  FROM fs GROUP BY 1),
       |curve AS (SELECT
       |    CAST(round(ln(CAST(SUM(n_toks) OVER wc AS DOUBLE)), 6)
       |      AS DECIMAL(18,6)) AS x,
       |    CAST(round(ln(CAST(SUM(n_new) OVER wc AS DOUBLE)), 6)
       |      AS DECIMAL(18,6)) AS y
       |  FROM pd
       |  WINDOW wc AS (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |st AS (SELECT COUNT(*) AS n, SUM(x) AS sx0, SUM(y) AS sy0,
       |    SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx0,
       |    SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy0
       |  FROM curve),
       |d AS (SELECT n,
       |    CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) AS sx,
       |    CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) AS sy,
       |    CAST(CAST(sxx0 AS VARCHAR) AS DOUBLE) AS sxx,
       |    CAST(CAST(sxy0 AS VARCHAR) AS DOUBLE) AS sxy
       |  FROM st)
       |SELECT n AS n_points,
       |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta_r,
       |  round(exp((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
       |    * sx) / n), 6) AS k_r,
       |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) < 1.0
       |    AS sublinear
       |FROM d""".stripMargin
  }

  // ------------------------------------------------------------------
  // q47_lifecycle_stages — recency-band lifecycle machine: at each
  // month end a customer is NEW (first order this month), ACTIVE
  // (ordered within 3 months), LAPSED (3–6), or CHURNED (>6). The
  // per-customer monthly state needs only first-order month and a
  // months-since-last-order recency — both from one groupBy plus a
  // month-spine cross join (bounded: customers × months, the same
  // densification q15's gap-fill uses). The output is the aggregate
  // transition matrix between consecutive months — the retention
  // team's steering wheel. State logic is pure integer comparisons.
  // ------------------------------------------------------------------
  private val q47LifecycleStages: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(col("o_custkey").as("ck"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mon"))
    val perCust = o.groupBy("ck", "mon").agg(count(lit(1)).as("n"))
    val span = o.agg(min(col("mon")).as("m0"), max(col("mon")).as("m1"))
    val spine = perCust.select(col("ck")).distinct()
      .crossJoin(broadcast(span))
      .select(col("ck"), explode(sequence(col("m0"), col("m1")))
        .as("mon"))
    val wHist = Window.partitionBy("ck").orderBy("mon")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val states = spine
      .join(perCust, Seq("ck", "mon"), "left")
      .withColumn("ordered", when(col("n").isNotNull, 1L).otherwise(0L))
      .withColumn("last_mon",
        max(when(col("ordered") === 1, col("mon"))).over(wHist))
      .withColumn("first_mon",
        min(when(col("ordered") === 1, col("mon"))).over(wHist))
      .filter(col("first_mon").isNotNull)
      .select(col("ck"), col("mon"),
        when(col("first_mon") === col("mon"), lit("NEW"))
          .when(col("mon") - col("last_mon") <= 3, lit("ACTIVE"))
          .when(col("mon") - col("last_mon") <= 6, lit("LAPSED"))
          .otherwise(lit("CHURNED")).as("stage"))
    val wSeq = Window.partitionBy("ck").orderBy("mon")
    states
      .withColumn("nxt", lead(col("stage"), 1).over(wSeq))
      .filter(col("nxt").isNotNull)
      .groupBy(col("stage").as("from_stage"), col("nxt").as("to_stage"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy("from_stage", "to_stage")
  }
  private val q47LifecycleStagesSql =
    """WITH o AS (SELECT o_custkey AS ck,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS mon
      |  FROM orders),
      |pc AS (SELECT ck, mon, COUNT(*) AS n FROM o GROUP BY 1, 2),
      |sp AS (SELECT MIN(mon) AS m0, MAX(mon) AS m1 FROM o),
      |spine AS (SELECT ck, unnest(generate_series(sp.m0, sp.m1)) AS mon
      |  FROM (SELECT DISTINCT ck FROM pc) c CROSS JOIN sp),
      |st0 AS (SELECT spine.ck, spine.mon,
      |    CASE WHEN pc.n IS NOT NULL THEN 1 ELSE 0 END AS ordered
      |  FROM spine LEFT JOIN pc ON pc.ck = spine.ck
      |    AND pc.mon = spine.mon),
      |st1 AS (SELECT ck, mon,
      |    MAX(CASE WHEN ordered = 1 THEN mon END) OVER wh AS last_mon,
      |    MIN(CASE WHEN ordered = 1 THEN mon END) OVER wh AS first_mon
      |  FROM st0
      |  WINDOW wh AS (PARTITION BY ck ORDER BY mon
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |st AS (SELECT ck, mon,
      |    CASE WHEN first_mon = mon THEN 'NEW'
      |      WHEN mon - last_mon <= 3 THEN 'ACTIVE'
      |      WHEN mon - last_mon <= 6 THEN 'LAPSED'
      |      ELSE 'CHURNED' END AS stage
      |  FROM st1 WHERE first_mon IS NOT NULL),
      |tr AS (SELECT stage AS from_stage,
      |    lead(stage) OVER (PARTITION BY ck ORDER BY mon) AS to_stage
      |  FROM st)
      |SELECT from_stage, to_stage, COUNT(*) AS n_transitions
      |FROM tr WHERE to_stage IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, QFn] = Map(
    "a53_overdispersion" -> a53Overdispersion,
    "t_heaps_fit" -> tHeapsFit,
    "q47_lifecycle_stages" -> q47LifecycleStages)

  val oracleSql: Map[String, String] = Map(
    "a53_overdispersion" -> a53OverdispersionSql,
    "t_heaps_fit" -> tHeapsFitSql,
    "q47_lifecycle_stages" -> q47LifecycleStagesSql)
}

/** Round-5 widening, twenty-first pack: hard-negative mining for
  * embedding training (per probe, the most similar OTHER-label
  * vectors — the pairs a contrastive loss learns most from, and the
  * margin-to-positive gap that predicts how hard), tokenizer
  * fertility (symbols-per-word after BPE merges, per language — the
  * compression report a tokenizer review reads), and per-user
  * activity bitmaps (days-of-month packed into one BIGINT per
  * month: popcount-dense retention math, AND-mask month-over-month
  * persistence — the bitmap engine pattern behind fast DAU/retention
  * serving).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier33Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // ann_hard_negatives — contrastive mining: for 5 md5-chosen probe
  // vectors, the top-3 most-cosine-similar vectors with a DIFFERENT
  // label (hard negatives) plus the best same-label similarity (the
  // positive anchor), and the margin between them. A negative
  // margin (hard negative beats the best positive) marks exactly
  // the probes a contrastive epoch would move most. Cosine runs on
  // the frozen-decimal dims (exact dots/norms, ONE rounded double
  // per pair — the ann_range_search discipline); ranking is a
  // bounded per-probe window.
  // ------------------------------------------------------------------
  private val annHardNegatives: QFn = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val pts = graft.ml.KMeans.pointsLong(emb).localCheckpoint(true)
    val labels = emb.select(col("vec_id"), col("label"))
    val probes = graft.operators.TopK.rankTopK(
        emb.select(col("vec_id"),
          md5(concat(lit("hn:"), col("vec_id").cast("string"))).as("h")),
        5, Seq(col("h").asc, col("vec_id").asc), "prnk")
      .select(col("vec_id").as("qid"))
    val qpts = pts.join(broadcast(probes), col("vec_id") === col("qid"))
      .select(col("qid"), col("dim"), col("vd").as("qd"))
    val norms = pts.groupBy("vec_id")
      .agg(sum((col("vd") * col("vd")).cast(DecimalType(38, 12)))
        .as("x2")).localCheckpoint(true)
    val cos = pts.join(qpts, "dim")
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum((col("vd") * col("qd")).cast(DecimalType(38, 12)))
        .as("dot"))
      .join(norms, "vec_id")
      .join(broadcast(norms.select(col("vec_id").as("qid"),
        col("x2").as("q2"))), "qid")
      .select(col("qid"), col("vec_id"),
        round(col("dot").cast("double") /
          sqrt(col("x2").cast("double") * col("q2").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("cos"))
      .join(labels.select(col("vec_id"), col("label").as("xl")),
        "vec_id")
      .join(broadcast(labels.select(col("vec_id").as("qid"),
        col("label").as("ql"))), "qid")
      .localCheckpoint(true)
    val bestPos = cos.filter(col("xl") === col("ql"))
      .groupBy("qid").agg(max(col("cos")).as("best_pos"))
    val wNeg = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cos.filter(col("xl") =!= col("ql"))
      .withColumn("rnk", row_number().over(wNeg))
      .filter(col("rnk") <= 3)
      .join(broadcast(bestPos), "qid")
      .select(col("qid"), col("rnk"), col("vec_id").as("neg_id"),
        col("cos").cast("string").as("neg_cos"),
        col("best_pos").cast("string").as("best_pos_cos"),
        (col("best_pos") - col("cos")).cast("string").as("margin"))
      .orderBy("qid", "rnk")
  }
  private val annHardNegativesSql =
    """WITH pts AS (SELECT vec_id, dim - 1 AS dim,
      |    CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)) AS vd
      |  FROM (SELECT vec_id, unnest(embedding) AS v,
      |      generate_subscripts(embedding, 1) AS dim
      |    FROM embeddings)),
      |pr AS (SELECT vec_id AS qid FROM (SELECT vec_id,
      |      md5('hn:' || CAST(vec_id AS VARCHAR)) AS h
      |    FROM embeddings)
      |  QUALIFY rank() OVER (ORDER BY h, vec_id) <= 5),
      |qp AS (SELECT pr.qid, p.dim, p.vd AS qd
      |  FROM pts p JOIN pr ON pr.qid = p.vec_id),
      |norms AS (SELECT vec_id,
      |    SUM(CAST(vd * vd AS DECIMAL(38,12))) AS x2
      |  FROM pts GROUP BY 1),
      |cos AS (SELECT d.qid, d.vec_id,
      |    CAST(round(CAST(d.dot AS DOUBLE)
      |      / sqrt(CAST(nx.x2 AS DOUBLE) * CAST(nq.x2 AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS cos,
      |    lx.label AS xl, lq.label AS ql
      |  FROM (SELECT q.qid, p.vec_id,
      |      SUM(CAST(p.vd * q.qd AS DECIMAL(38,12))) AS dot
      |    FROM pts p JOIN qp q ON q.dim = p.dim
      |    WHERE p.vec_id <> q.qid GROUP BY 1, 2) d
      |  JOIN norms nx ON nx.vec_id = d.vec_id
      |  JOIN norms nq ON nq.vec_id = d.qid
      |  JOIN embeddings lx ON lx.vec_id = d.vec_id
      |  JOIN embeddings lq ON lq.vec_id = d.qid),
      |bp AS (SELECT qid, MAX(cos) AS best_pos FROM cos
      |  WHERE xl = ql GROUP BY 1),
      |neg AS (SELECT qid, vec_id, cos,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY cos DESC, vec_id) AS rnk
      |  FROM cos WHERE xl <> ql)
      |SELECT neg.qid, CAST(neg.rnk AS INT) AS rnk,
      |  neg.vec_id AS neg_id,
      |  CAST(neg.cos AS VARCHAR) AS neg_cos,
      |  CAST(bp.best_pos AS VARCHAR) AS best_pos_cos,
      |  CAST(bp.best_pos - neg.cos AS VARCHAR) AS margin
      |FROM neg JOIN bp ON bp.qid = neg.qid
      |WHERE neg.rnk <= 3
      |ORDER BY neg.qid, neg.rnk""".stripMargin

  // ------------------------------------------------------------------
  // t_tokenizer_fertility — compression report for the 3-merge BPE
  // vocabulary (t_bpe_merges' merge table, rebuilt inline): per
  // language, mean symbols-per-word BEFORE (characters) and AFTER
  // the merges, and the compression ratio — fertility is THE number
  // a tokenizer review reads (high fertility on a language = that
  // language pays more FLOPs per word). Token counts are exact
  // integers; merges replay the replace projection; per-language
  // means are exact sums ÷ counts, ONE rounded double each.
  // ------------------------------------------------------------------
  private val tTokenizerFertility: QFn = (s, dir) => {
    val words = t(s, dir, "documents")
      .select(col("lang"),
        explode(split(TF.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .localCheckpoint(true)
    val vocab = words.groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("w"), array_join(split(col("w"), ""), " ").as("sym"),
        col("f"))
      .localCheckpoint(true)
    def topPair(v: DataFrame): DataFrame = v
      .select(col("w"), col("f"), posexplode(split(col("sym"), " "))
        .as(Seq("i", "a")))
      .withColumn("b", lead(col("a"), 1).over(
        Window.partitionBy("w").orderBy("i")))
      .filter(col("b").isNotNull)
      .groupBy("a", "b").agg(sum(col("f")).as("cnt"))
      .withColumn("rk", row_number().over(Window.orderBy(
        col("cnt").desc, col("a").asc, col("b").asc)))
      .filter(col("rk") === 1).select(col("a"), col("b"))
    def merge(v: DataFrame, top: DataFrame): DataFrame =
      v.crossJoin(broadcast(top))
        .select(col("w"),
          expr("replace(sym, a || ' ' || b, a || b)").as("sym"),
          col("f"))
    val v3 = {
      val t1 = topPair(vocab).localCheckpoint(true)
      val v2 = merge(vocab, t1).localCheckpoint(true)
      val t2 = topPair(v2).localCheckpoint(true)
      val vv = merge(v2, t2).localCheckpoint(true)
      val t3 = topPair(vv).localCheckpoint(true)
      merge(vv, t3).localCheckpoint(true)
    }
    val sized = v3.select(col("w"),
      (size(split(col("sym"), " "))).cast("long").as("n_sym"),
      length(col("w")).cast("long").as("n_chars"))
    words.join(sized, "w")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_sym")).as("sum_syms"))
      .select(col("lang"), col("n_words"),
        round(col("sum_chars").cast("double") /
          col("n_words").cast("double"), 6).as("chars_per_word_r"),
        round(col("sum_syms").cast("double") /
          col("n_words").cast("double"), 6).as("fertility_r"),
        round(col("sum_syms").cast("double") /
          col("sum_chars").cast("double"), 6).as("compression_r"))
      .orderBy("lang")
  }
  private val tTokenizerFertilitySql = {
    val norm = TF.normTextSql("text")
    def top(v: String, n: Int): String =
      s"""p$n AS (SELECT a, b FROM (SELECT a, b, SUM(f) AS cnt FROM (
         |  SELECT f, s AS a,
         |      lead(s) OVER (PARTITION BY w ORDER BY i) AS b
         |  FROM (SELECT w, f, unnest(string_split(sym, ' ')) AS s,
         |      generate_subscripts(string_split(sym, ' '), 1) AS i
         |    FROM $v))
         |  WHERE b IS NOT NULL GROUP BY 1, 2)
         |  QUALIFY row_number() OVER (ORDER BY cnt DESC, a, b) = 1)"""
        .stripMargin
    s"""WITH wl AS (SELECT lang, unnest(string_split($norm, ' ')) AS w
       |  FROM documents),
       |words AS (SELECT lang, w FROM wl WHERE length(w) > 0),
       |vocab0 AS (SELECT w, COUNT(*) AS f FROM words GROUP BY 1),
       |v1 AS (SELECT w,
       |    array_to_string(string_split_regex(w, ''), ' ') AS sym, f
       |  FROM vocab0),
       |${top("v1", 1)},
       |v2 AS (SELECT v1.w, replace(v1.sym, p1.a || ' ' || p1.b,
       |    p1.a || p1.b) AS sym, v1.f FROM v1 CROSS JOIN p1),
       |${top("v2", 2)},
       |v3 AS (SELECT v2.w, replace(v2.sym, p2.a || ' ' || p2.b,
       |    p2.a || p2.b) AS sym, v2.f FROM v2 CROSS JOIN p2),
       |${top("v3", 3)},
       |v4 AS (SELECT v3.w, replace(v3.sym, p3.a || ' ' || p3.b,
       |    p3.a || p3.b) AS sym, v3.f FROM v3 CROSS JOIN p3),
       |sized AS (SELECT w,
       |    CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_sym,
       |    CAST(length(w) AS BIGINT) AS n_chars
       |  FROM v4)
       |SELECT lang, COUNT(*) AS n_words,
       |  round(CAST(SUM(n_chars) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS chars_per_word_r,
       |  round(CAST(SUM(n_sym) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS fertility_r,
       |  round(CAST(SUM(n_sym) AS DOUBLE)
       |    / CAST(SUM(n_chars) AS DOUBLE), 6) AS compression_r
       |FROM words JOIN sized USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // ev_activity_bitmap — bitmap retention engine at WEEK grain
  // (the one-month synthetic stream holds ~5 weeks): each user-week
  // packs its active DAYS-OF-WEEK into one BIGINT (bit d set =
  // active that weekday — bit_or of per-event masks, a mergeable
  // aggregate that shuffles 8 bytes per user-week no matter how
  // many events), then popcount gives active-day counts and the AND
  // of consecutive weeks' masks counts SAME-WEEKDAY persistence
  // (the habit signal plain retention misses). Reported per week:
  // users, mean active days, and the habitual-user count.
  // ------------------------------------------------------------------
  private val evActivityBitmap: QFn = (s, dir) => {
    val e = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .select(col("user_id"), (col("day") / 7).cast("long").as("wk"),
        (col("day") % 7).cast("int").as("dow"))
    val masks = e.groupBy("user_id", "wk")
      .agg(expr("bit_or(shiftleft(1L, dow))").as("mask"))
      .localCheckpoint(true)
    val wSeq = Window.partitionBy("user_id").orderBy("wk")
    val withPrev = masks
      .withColumn("prev_mask", lag(col("mask"), 1).over(wSeq))
      .withColumn("prev_wk", lag(col("wk"), 1).over(wSeq))
    withPrev.groupBy("wk")
      .agg(count(lit(1)).as("n_users"),
        sum(expr("bit_count(mask)")).cast("long").as("active_days"),
        sum(when(col("prev_wk") === col("wk") - 1,
          expr("bit_count(mask & prev_mask)"))).cast("long")
          .as("same_dow_overlap"),
        sum(when(col("prev_wk") === col("wk") - 1 &&
          expr("bit_count(mask & prev_mask)") >= 2, 1L).otherwise(0L))
          .cast("long").as("n_habitual"))
      .select(col("wk"), col("n_users"),
        round(col("active_days").cast("double") /
          col("n_users").cast("double"), 6).as("mean_active_days_r"),
        coalesce(col("same_dow_overlap"), lit(0L))
          .as("same_dow_overlap"),
        col("n_habitual"))
      .orderBy("wk")
  }
  private val evActivityBitmapSql =
    """WITH e AS (SELECT user_id,
      |    (epoch_us(ts) // 86400000000) // 7 AS wk,
      |    CAST((epoch_us(ts) // 86400000000) % 7 AS INT) AS dow
      |  FROM events),
      |m AS (SELECT user_id, wk,
      |    bit_or(CAST(1 AS BIGINT) << dow) AS mask
      |  FROM e GROUP BY 1, 2),
      |p AS (SELECT user_id, wk, mask,
      |    lag(mask) OVER w AS prev_mask,
      |    lag(wk) OVER w AS prev_wk
      |  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY wk))
      |SELECT wk, COUNT(*) AS n_users,
      |  round(CAST(SUM(bit_count(mask)) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_active_days_r,
      |  COALESCE(CAST(SUM(CASE WHEN prev_wk = wk - 1
      |    THEN bit_count(mask & prev_mask) END) AS BIGINT), 0)
      |    AS same_dow_overlap,
      |  CAST(SUM(CASE WHEN prev_wk = wk - 1
      |    AND bit_count(mask & prev_mask) >= 2 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_habitual
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ann_hard_negatives" -> annHardNegatives,
    "t_tokenizer_fertility" -> tTokenizerFertility,
    "ev_activity_bitmap" -> evActivityBitmap)

  val oracleSql: Map[String, String] = Map(
    "ann_hard_negatives" -> annHardNegativesSql,
    "t_tokenizer_fertility" -> tTokenizerFertilitySql,
    "ev_activity_bitmap" -> evActivityBitmapSql)
}

/** Round-5 widening, twenty-second pack: the Kruskal–Wallis k-sample
  * rank test (one shot answers "do ANY of the five segments differ?"
  * — the multi-group extension of the Mann–Whitney entry, on the
  * same exact-midrank machinery as ml_roc_auc), importance-sampling
  * weights with effective sample size (the reweighting report that
  * says what a corpus rebalance actually costs in statistical
  * power), and the rich-club coefficient (do the highest-degree
  * parts preferentially interconnect? — Zhou & Mondragón 2004).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier34Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // a54_kruskal_wallis — rank-based k-sample location test on order
  // price across the five market segments: H = 12/(N(N+1)) ·
  // Σ R²ᵢ/nᵢ − 3(N+1), midranks exact half-integers in DECIMAL
  // (ties share the average rank — with the standard tie correction
  // divisor 1 − Σ(t³−t)/(N³−N)). H ≈ χ²₄ under H₀; H > 9.488 rejects
  // at 5%. Midranks come from the two-phase operators/Midrank (keyed
  // shuffles + range-partitioned prefix sum — NO global window, no
  // single-partition funnel) + per-segment exact sums.
  // ------------------------------------------------------------------
  private val a54KruskalWallis: QFn = (s, dir) => {
    val rows = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("g"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("x"))
    val ranked = graft.operators.Midrank.attach(rows, col("x"), "mr")
      .select(col("g"), col("mr"))
    val per = ranked.groupBy("g")
      .agg(count(lit(1)).cast("long").as("ni"),
        sum(col("mr")).cast(DecimalType(38, 1)).as("ri"))
    val ties = rows.groupBy("x").agg(count(lit(1)).as("t"))
      .agg(sum((col("t") * col("t") * col("t") - col("t"))
        .cast(DecimalType(38, 0))).as("tsum"))
    val tot = per.agg(sum(col("ni")).cast("long").as("nt"))
    val hRaw = per.crossJoin(broadcast(tot))
      .select(col("nt"),
        round((col("ri") * col("ri")).cast("double") /
          col("ni").cast("double"), 4).cast(DecimalType(38, 4))
          .as("r2n"))
      .groupBy("nt").agg(sum(col("r2n")).as("sr2n"))
    hRaw.crossJoin(broadcast(ties))
      .select(col("nt").as("n_total"),
        round(
          (lit(12.0) / (col("nt").cast("double") *
            (col("nt").cast("double") + 1)) *
            col("sr2n").cast("double") -
            lit(3.0) * (col("nt").cast("double") + 1)) /
          (lit(1.0) - col("tsum").cast("double") /
            (col("nt").cast("double") * col("nt").cast("double") *
             col("nt").cast("double") - col("nt").cast("double"))), 6)
          .as("h_r"))
      .select(col("n_total"), col("h_r"),
        (col("h_r") > 9.487729).as("reject_5pct"))
  }
  private val a54KruskalWallisSql =
    """WITH rows0 AS (SELECT c_mktsegment AS g,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |rk AS (SELECT g,
      |    CAST(rank() OVER (ORDER BY x) AS DECIMAL(28,1))
      |      + (CAST(COUNT(*) OVER (PARTITION BY x) AS DECIMAL(28,1))
      |          - 1) / 2 AS mr
      |  FROM rows0),
      |per AS (SELECT g, COUNT(*) AS ni,
      |    CAST(SUM(mr) AS DECIMAL(38,1)) AS ri
      |  FROM rk GROUP BY 1),
      |ties AS (SELECT CAST(SUM(CAST(t AS DECIMAL(38,0)) * t * t - t)
      |      AS DECIMAL(38,0)) AS tsum
      |  FROM (SELECT COUNT(*) AS t FROM rows0 GROUP BY x)),
      |tot AS (SELECT CAST(SUM(ni) AS BIGINT) AS nt FROM per),
      |h0 AS (SELECT tot.nt,
      |    SUM(CAST(round(CAST(ri * ri AS DOUBLE)
      |      / CAST(ni AS DOUBLE), 4) AS DECIMAL(38,4))) AS sr2n
      |  FROM per CROSS JOIN tot GROUP BY tot.nt)
      |SELECT h0.nt AS n_total,
      |  round((12.0 / (CAST(h0.nt AS DOUBLE)
      |      * (CAST(h0.nt AS DOUBLE) + 1))
      |    * CAST(CAST(h0.sr2n AS VARCHAR) AS DOUBLE)
      |    - 3.0 * (CAST(h0.nt AS DOUBLE) + 1))
      |    / (1.0 - CAST(CAST(ties.tsum AS VARCHAR) AS DOUBLE)
      |      / (CAST(h0.nt AS DOUBLE) * CAST(h0.nt AS DOUBLE)
      |        * CAST(h0.nt AS DOUBLE) - CAST(h0.nt AS DOUBLE))), 6)
      |    AS h_r,
      |  round((12.0 / (CAST(h0.nt AS DOUBLE)
      |      * (CAST(h0.nt AS DOUBLE) + 1))
      |    * CAST(CAST(h0.sr2n AS VARCHAR) AS DOUBLE)
      |    - 3.0 * (CAST(h0.nt AS DOUBLE) + 1))
      |    / (1.0 - CAST(CAST(ties.tsum AS VARCHAR) AS DOUBLE)
      |      / (CAST(h0.nt AS DOUBLE) * CAST(h0.nt AS DOUBLE)
      |        * CAST(h0.nt AS DOUBLE) - CAST(h0.nt AS DOUBLE))), 6)
      |    > 9.487729 AS reject_5pct
      |FROM h0 CROSS JOIN ties""".stripMargin

  // ------------------------------------------------------------------
  // p_importance_weights — corpus rebalancing accounting: to serve a
  // UNIFORM source mixture from the observed one, each document
  // carries weight w = target_share / observed_share; the effective
  // sample size ESS = (Σw)²/Σw² says how many "real" documents the
  // reweighted corpus is worth — the honest cost of rebalancing
  // (ESS/N → 1 means the mixture was already right). Weights are
  // ONE rounded double frozen per source; Σw and Σw² are exact
  // decimal sums over per-source counts (weights are constant
  // within a source — no per-row math at all).
  // ------------------------------------------------------------------
  private val pImportanceWeights: QFn = (s, dir) => {
    val per = t(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val tot = per.agg(sum(col("n")).cast("long").as("nt"),
      count(lit(1)).cast("long").as("k"))
    val weighted = per.crossJoin(broadcast(tot))
      .select(col("source"), col("n"), col("nt"), col("k"),
        // w = (nt/k) / n — uniform target share over observed share
        round(col("nt").cast("double") /
          (col("k").cast("double") * col("n").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("w"))
    val ess = weighted
      .select(col("nt"),
        (col("w") * col("n")).cast(DecimalType(38, 10)).as("sw"),
        (col("w") * col("w") * col("n")).cast(DecimalType(38, 12))
          .as("sw2"))
      .groupBy("nt").agg(sum(col("sw")).as("tsw"),
        sum(col("sw2")).as("tsw2"))
      .select(lit("ESS").as("source"), lit(-1L).as("n"),
        lit(null).cast("string").as("w"),
        round((col("tsw").cast("double") * col("tsw").cast("double")) /
          col("tsw2").cast("double"), 4).as("metric_r"),
        round((col("tsw").cast("double") * col("tsw").cast("double")) /
          (col("tsw2").cast("double") * col("nt").cast("double")), 6)
          .as("efficiency_r"))
    weighted.select(col("source"), col("n").cast("long").as("n"),
        col("w").cast("string").as("w"),
        lit(-1.0).as("metric_r"), lit(-1.0).as("efficiency_r"))
      .unionByName(ess)
      .orderBy("source")
  }
  private val pImportanceWeightsSql =
    """WITH per AS (SELECT source, COUNT(*) AS n FROM documents
      |  GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
      |    CAST(COUNT(*) AS BIGINT) AS k FROM per),
      |wt AS (SELECT source, n, nt, k,
      |    CAST(round(CAST(nt AS DOUBLE)
      |      / (CAST(k AS DOUBLE) * CAST(n AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS w
      |  FROM per CROSS JOIN tot),
      |ess AS (SELECT 'ESS' AS source, CAST(-1 AS BIGINT) AS n,
      |    CAST(NULL AS VARCHAR) AS w,
      |    round((CAST(tsw AS DOUBLE) * CAST(tsw AS DOUBLE))
      |      / CAST(tsw2 AS DOUBLE), 4) AS metric_r,
      |    round((CAST(tsw AS DOUBLE) * CAST(tsw AS DOUBLE))
      |      / (CAST(tsw2 AS DOUBLE) * CAST(nt AS DOUBLE)), 6)
      |      AS efficiency_r
      |  FROM (SELECT nt,
      |      SUM(CAST(w * n AS DECIMAL(38,10))) AS tsw,
      |      SUM(CAST(w * w * n AS DECIMAL(38,12))) AS tsw2
      |    FROM wt GROUP BY nt))
      |SELECT source, CAST(n AS BIGINT) AS n, CAST(w AS VARCHAR) AS w,
      |  -1.0 AS metric_r, -1.0 AS efficiency_r
      |FROM wt
      |UNION ALL SELECT * FROM ess
      |ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // g_rich_club — do hubs interconnect? For the co-purchase graph,
  // restrict to the top-k highest-degree parts (k = 50, degree ties
  // broken on the key) and compare the edge density among them with
  // the whole graph's density: φ(k) = 2·E_club / (k(k−1)) and the
  // normalized ratio vs overall density. Degrees come from the full
  // edge list; the club subgraph is two broadcast semijoins. A ratio
  // ≫ 1 says the "rich" parts form a core — the topology that makes
  // hub-bounding (the cap the wedge joins use) NECESSARY.
  // ------------------------------------------------------------------
  private val gRichClub: QFn = (s, dir) => {
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = op.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = op.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val e0 = a.join(b, "l_orderkey").filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("nb"))
      .filter(col("nb") >= 2)
      .select(col("pa"), col("pb"))
      .localCheckpoint(true)
    val deg = e0.select(col("pa").as("v"))
      .unionAll(e0.select(col("pb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val club = graft.operators.TopK.rankTopK(deg, 50,
        Seq(col("deg").desc, col("v").asc), "rk")
      .filter(col("rk") <= 50) // rank ties could exceed 50 — keep all
      .select(col("v"))
      .localCheckpoint(true)
    val kSize = club.count()
    val clubEdges = e0
      .join(club.select(col("v").as("pa")), "pa")
      .join(club.select(col("v").as("pb")), "pb")
      .count()
    val nNodes = deg.count()
    val nEdges = e0.count()
    val phiClub = 2.0 * clubEdges / (kSize.toDouble * (kSize - 1))
    val phiAll = 2.0 * nEdges / (nNodes.toDouble * (nNodes - 1))
    import s.implicits._
    Seq((kSize, clubEdges, nNodes, nEdges,
        BigDecimal(phiClub).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble,
        BigDecimal(phiClub / phiAll).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("club_size", "club_edges", "n_nodes", "n_edges",
        "phi_club_r", "rich_club_ratio_r")
  }
  private val gRichClubSql =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM op a JOIN op b USING (l_orderkey)
      |  WHERE a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |deg AS (SELECT v, COUNT(*) AS deg FROM (
      |    SELECT pa AS v FROM e0 UNION ALL SELECT pb FROM e0)
      |  GROUP BY 1),
      |club AS (SELECT v FROM deg
      |  QUALIFY rank() OVER (ORDER BY deg DESC, v) <= 50),
      |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS ks FROM club),
      |ce AS (SELECT CAST(COUNT(*) AS BIGINT) AS club_edges
      |  FROM e0 JOIN club ca ON ca.v = e0.pa
      |  JOIN club cb ON cb.v = e0.pb),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
      |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e0)
      |SELECT k.ks AS club_size, ce.club_edges, nn.n_nodes, ne.n_edges,
      |  round(2.0 * CAST(ce.club_edges AS DOUBLE)
      |    / (CAST(k.ks AS DOUBLE) * (CAST(k.ks AS DOUBLE) - 1)), 6)
      |    AS phi_club_r,
      |  round((2.0 * CAST(ce.club_edges AS DOUBLE)
      |      / (CAST(k.ks AS DOUBLE) * (CAST(k.ks AS DOUBLE) - 1)))
      |    / (2.0 * CAST(ne.n_edges AS DOUBLE)
      |      / (CAST(nn.n_nodes AS DOUBLE)
      |        * (CAST(nn.n_nodes AS DOUBLE) - 1))), 4)
      |    AS rich_club_ratio_r
      |FROM k CROSS JOIN ce CROSS JOIN nn CROSS JOIN ne""".stripMargin

  val queries: Map[String, QFn] = Map(
    "a54_kruskal_wallis" -> a54KruskalWallis,
    "p_importance_weights" -> pImportanceWeights,
    "g_rich_club" -> gRichClub)

  val oracleSql: Map[String, String] = Map(
    "a54_kruskal_wallis" -> a54KruskalWallisSql,
    "p_importance_weights" -> pImportanceWeightsSql,
    "g_rich_club" -> gRichClubSql)
}

/** Round-5 widening, twenty-third pack: per-document n-gram novelty
  * (what fraction of each document's 4-grams is NEW at its position
  * in the stream — the marginal-value curve incremental curation
  * decides by), the funnel window-sensitivity sweep (the same
  * signup→click→purchase funnel at three conversion windows in one
  * pass — window choice is the most-gamed free parameter in funnel
  * reporting, so report all of them), and power-law degree fitting
  * (the Clauset–Shalizi–Newman closed-form MLE α̂ = 1 + n/Σln(x/xmin)
  * — the tail diagnostic that justifies hub-bounding).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier35Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // t_ngram_novelty — the marginal-novelty curve: walking documents
  // in doc_id order, each doc's novelty is the share of its 4-gram
  // occurrences whose gram was never seen in any EARLIER doc (first
  // occurrence via one row_number per gram key — the Heaps-fit
  // trick at n-gram granularity; grams hash to 60-bit keys before
  // the shuffle). Reported as doc-decile means (bounded output):
  // declining novelty along the stream is the diminishing-returns
  // signal that tells a crawler when another million pages stops
  // buying new text.
  // ------------------------------------------------------------------
  private val tNgramNovelty: QFn = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(TF.normText(col("text")), " "))
          .as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val wNext = Window.partitionBy("doc_id").orderBy("pos")
    val grams = toks
      .withColumn("g", concat_ws(" ", col("w"),
        lead(col("w"), 1).over(wNext), lead(col("w"), 2).over(wNext),
        lead(col("w"), 3).over(wNext)))
      .withColumn("w3", lead(col("w"), 3).over(wNext))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long")
          .as("h"))
    val marked = grams
      .withColumn("rn", row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "pos")))
      .select(col("doc_id"),
        when(col("rn") === 1, 1L).otherwise(0L).as("novel"))
    val perDoc = marked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("novel")).as("n_novel"))
    val tot = perDoc.agg(max(col("doc_id")).as("mx"),
      min(col("doc_id")).as("mn"))
    perDoc.crossJoin(broadcast(tot))
      .select(
        least(lit(9), ((col("doc_id") - col("mn")) * 10 /
          (col("mx") - col("mn") + 1)).cast("long")).as("decile"),
        col("n_grams"), col("n_novel"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).cast("long").as("n_grams"),
        sum(col("n_novel")).cast("long").as("n_novel"))
      .select(col("decile"), col("n_docs"), col("n_grams"),
        col("n_novel"),
        round(col("n_novel").cast("double") /
          col("n_grams").cast("double"), 6).as("novelty_r"))
      .orderBy("decile")
  }
  private val tNgramNoveltySql = {
    val norm = TF.normTextSql("text")
    s"""WITH w0 AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS w,
       |    generate_subscripts(string_split($norm, ' '), 1) AS pos
       |  FROM documents),
       |tk AS (SELECT doc_id, pos, w FROM w0 WHERE length(w) > 0),
       |g0 AS (SELECT doc_id, pos,
       |    w || ' ' || lead(w, 1) OVER wo || ' ' || lead(w, 2) OVER wo
       |      || ' ' || lead(w, 3) OVER wo AS g,
       |    lead(w, 3) OVER wo AS w3
       |  FROM tk WINDOW wo AS (PARTITION BY doc_id ORDER BY pos)),
       |g AS (SELECT doc_id, pos,
       |    CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS h
       |  FROM g0 WHERE w3 IS NOT NULL),
       |mk AS (SELECT doc_id,
       |    CASE WHEN row_number() OVER (PARTITION BY h
       |      ORDER BY doc_id, pos) = 1 THEN 1 ELSE 0 END AS novel
       |  FROM g),
       |pd AS (SELECT doc_id, COUNT(*) AS n_grams, SUM(novel) AS n_novel
       |  FROM mk GROUP BY 1),
       |tot AS (SELECT MAX(doc_id) AS mx, MIN(doc_id) AS mn FROM pd)
       |SELECT least(9, (pd.doc_id - tot.mn) * 10
       |    // (tot.mx - tot.mn + 1)) AS decile,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_grams) AS BIGINT) AS n_grams,
       |  CAST(SUM(n_novel) AS BIGINT) AS n_novel,
       |  round(CAST(SUM(n_novel) AS DOUBLE)
       |    / CAST(SUM(n_grams) AS DOUBLE), 6) AS novelty_r
       |FROM pd CROSS JOIN tot GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // ev_funnel_windows — window-sensitivity sweep for the signup →
  // click → purchase funnel: per-stage converted-user counts at 1-
  // hour, 1-day and 7-day conversion windows, all three from ONE
  // pass over the per-user stage-time table (the window parameter
  // only changes a comparison, so the three reports share every
  // shuffle). Divergence across columns = the funnel's sensitivity
  // to its most arbitrary knob; flat = robust.
  // ------------------------------------------------------------------
  private val evFunnelWindows: QFn = (s, dir) => {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("sec"))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("sec")).as("ss"))
      .localCheckpoint(true)
    def sweep(hz: Long, label: String): DataFrame = {
      val s2 = e.filter(col("event_type") === "click")
        .join(s1, "user_id")
        .filter(col("sec") >= col("ss") && col("sec") < col("ss") + hz)
        .groupBy("user_id").agg(min(col("sec")).as("cs"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2, "user_id")
        .filter(col("sec") >= col("cs") && col("sec") < col("cs") + hz)
        .groupBy("user_id").agg(min(col("sec")).as("ps"))
      s1.agg(count(lit(1)).as("n1"))
        .crossJoin(s2.agg(count(lit(1)).as("n2")))
        .crossJoin(s3.agg(count(lit(1)).as("n3")))
        .select(lit(label).as("conv_window"), col("n1"), col("n2"), col("n3"),
          round(col("n3").cast("double") / col("n1").cast("double"), 6)
            .as("end_to_end_r"))
    }
    sweep(3600L, "1h").unionByName(sweep(86400L, "1d"))
      .unionByName(sweep(604800L, "7d"))
      .orderBy("conv_window")
  }
  private val evFunnelWindowsSql = {
    def sweep(hz: Long, label: String): String =
      s"""SELECT '$label' AS conv_window,
         |  (SELECT COUNT(*) FROM s1) AS n1,
         |  (SELECT COUNT(*) FROM (SELECT e.user_id FROM e JOIN s1
         |      USING (user_id)
         |    WHERE e.event_type = 'click' AND e.sec >= s1.ss
         |      AND e.sec < s1.ss + $hz GROUP BY 1)) AS n2,
         |  (SELECT COUNT(*) FROM (
         |    SELECT e.user_id FROM e
         |    JOIN (SELECT e.user_id, MIN(e.sec) AS cs FROM e JOIN s1
         |        USING (user_id)
         |      WHERE e.event_type = 'click' AND e.sec >= s1.ss
         |        AND e.sec < s1.ss + $hz GROUP BY 1) c2
         |      USING (user_id)
         |    WHERE e.event_type = 'purchase' AND e.sec >= c2.cs
         |      AND e.sec < c2.cs + $hz GROUP BY 1)) AS n3,
         |  round(CAST((SELECT COUNT(*) FROM (
         |    SELECT e.user_id FROM e
         |    JOIN (SELECT e.user_id, MIN(e.sec) AS cs FROM e JOIN s1
         |        USING (user_id)
         |      WHERE e.event_type = 'click' AND e.sec >= s1.ss
         |        AND e.sec < s1.ss + $hz GROUP BY 1) c2
         |      USING (user_id)
         |    WHERE e.event_type = 'purchase' AND e.sec >= c2.cs
         |      AND e.sec < c2.cs + $hz GROUP BY 1)) AS DOUBLE)
         |    / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE), 6)
         |    AS end_to_end_r""".stripMargin
    s"""WITH e AS (SELECT user_id, event_type,
       |    epoch_us(ts) // 1000000 AS sec
       |  FROM events),
       |s1 AS (SELECT user_id, MIN(sec) AS ss FROM e
       |  WHERE event_type = 'signup' GROUP BY 1)
       |${sweep(3600L, "1h")}
       |UNION ALL
       |${sweep(86400L, "1d")}
       |UNION ALL
       |${sweep(604800L, "7d")}
       |ORDER BY conv_window""".stripMargin
  }

  // ------------------------------------------------------------------
  // g_powerlaw_fit — discrete power-law tail fit on the co-purchase
  // degree distribution: the CSN continuous-MLE approximation
  // α̂ = 1 + n / Σ ln(deg / (xmin − ½)) over degrees ≥ xmin = 2,
  // with its standard error (α̂−1)/√n. Every ln term is ONE rounded
  // double frozen as DECIMAL(18,6) (order-free sum); degree counts
  // are exact. α near 2–3 with a fat tail is WHY per-node caps and
  // salting exist — this entry measures the exponent instead of
  // assuming it.
  // ------------------------------------------------------------------
  private val gPowerlawFit: QFn = (s, dir) => {
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = op.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = op.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val e0 = a.join(b, "l_orderkey").filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("nb"))
      .filter(col("nb") >= 2)
    val deg = e0.select(col("pa").as("v"))
      .unionAll(e0.select(col("pb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
    val terms = deg.select(
      round(log(col("deg").cast("double") / 1.5), 6)
        .cast(DecimalType(18, 6)).as("lt"))
    terms.agg(count(lit(1)).cast("long").as("n_tail"),
        sum(col("lt")).as("slt"))
      .select(col("n_tail"),
        round(lit(1.0) + col("n_tail").cast("double") /
          col("slt").cast("double"), 6).as("alpha_r"),
        round((col("n_tail").cast("double") /
          col("slt").cast("double")) /
          sqrt(col("n_tail").cast("double")), 6).as("alpha_se_r"))
  }
  private val gPowerlawFitSql =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM op a JOIN op b USING (l_orderkey)
      |  WHERE a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |deg AS (SELECT v, COUNT(*) AS deg FROM (
      |    SELECT pa AS v FROM e0 UNION ALL SELECT pb FROM e0)
      |  GROUP BY 1 HAVING COUNT(*) >= 2),
      |terms AS (SELECT CAST(round(ln(CAST(deg AS DOUBLE) / 1.5), 6)
      |    AS DECIMAL(18,6)) AS lt
      |  FROM deg)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
      |  round(1.0 + CAST(COUNT(*) AS DOUBLE)
      |    / CAST(SUM(lt) AS DOUBLE), 6) AS alpha_r,
      |  round((CAST(COUNT(*) AS DOUBLE) / CAST(SUM(lt) AS DOUBLE))
      |    / sqrt(CAST(COUNT(*) AS DOUBLE)), 6) AS alpha_se_r
      |FROM terms""".stripMargin

  val queries: Map[String, QFn] = Map(
    "t_ngram_novelty" -> tNgramNovelty,
    "ev_funnel_windows" -> evFunnelWindows,
    "g_powerlaw_fit" -> gPowerlawFit)

  val oracleSql: Map[String, String] = Map(
    "t_ngram_novelty" -> tNgramNoveltySql,
    "ev_funnel_windows" -> evFunnelWindowsSql,
    "g_powerlaw_fit" -> gPowerlawFitSql)
}

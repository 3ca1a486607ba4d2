package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

// Contents (one object per original pack, APIs unchanged):
//   FrontierQueries: p_weighted_sample, t_tfidf_topterms, g_sssp_hubs, a28_cramers_v
//   Frontier2Queries: a29_mann_whitney, a30_poisson_bootstrap, q28_seasonal_backtest, g_clustering_coeff, x8_dp_noisy_count, pipe_dataset_card
//   Frontier3Queries: ev_survival_km, q29_cusum_shift, a31_multireg, a32_kendall_tau
//   Frontier4Queries: ml_kmeans_embed, t_nb_classify
//   Frontier5Queries: a33_theil_sen, a34_bh_fdr, ml_pca_power

/** Round-5 fifth-session widening: weighted reservoir sampling
  * (Efraimidis–Spirakis A-Res), per-doc TF-IDF keyword extraction on
  * the native per-group top-k operator, weighted single-source (hub)
  * shortest paths via level-synchronous Bellman–Ford, and Cramér's V
  * categorical association.
  *
  * Determinism rules follow the house style (SURVEY §11): counts and
  * integer/decimal arithmetic end-to-end, log/ratio terms computed as
  * ONE double expression rounded to 6 before any reordering sum, and
  * every entry ends in a total ORDER BY.
  */
object FrontierQueries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // p_weighted_sample — weighted reservoir sampling (Efraimidis &
  // Spirakis 2006, A-Res): each doc draws u ~ Uniform(0,1] from a
  // salted md5 hash of its key and scores key = ln(u)/w (monotone in
  // u^(1/w)); the sample is the global top-50 by key. Inclusion
  // probability is proportional to weight (token count), yet
  // membership is a pure function of the key — re-runs, backfills and
  // multi-cluster runs agree with zero coordination, the same property
  // the split/stratified entries pin. The top-50 selection runs on the
  // two-phase TopK operator (per-partition prune, then a global window
  // over ≤ 50·partitions survivors) — no unpartitioned sort of the
  // corpus, so the plan survives a 10¹⁰-doc scan.
  // u = (h13 + 1) / 2^52 with h13 = first 13 md5 hex digits: both
  // engines divide an exact ≤2^52 integer by a power of two (exact in
  // double), take ln of the identical double, and round to 6.
  // ------------------------------------------------------------------
  private val pWeightedSample: QFn = (s, dir) => {
    val d = t(s, dir, "documents").select(col("doc_id"),
      TF.wsTokenCount(col("text")).cast("long").as("w_tokens"))
    val h13 = conv(substring(md5(concat(lit("ws:"),
      col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
    val u = (h13 + lit(1L)).cast("double") / lit(4.503599627370496e15)
    val scored = d.withColumn("key_r",
      round(log(u) / col("w_tokens").cast("double"), 6))
    graft.operators.TopK.rankTopK(scored, 50,
        Seq(col("key_r").desc, col("doc_id").asc), "rnk")
      .select(col("rnk"), col("doc_id"), col("w_tokens"), col("key_r"))
      .orderBy("rnk")
  }
  private val pWeightedSampleSql = {
    val w = TF.wsTokenCountSql("text")
    s"""WITH d AS (SELECT doc_id, CAST($w AS BIGINT) AS w_tokens
       |  FROM documents),
       |k AS (SELECT doc_id, w_tokens,
       |  round(ln((CAST(('0x' || substring(md5('ws:' ||
       |      CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
       |      / 4503599627370496.0)
       |    / CAST(w_tokens AS DOUBLE), 6) AS key_r FROM d)
       |SELECT CAST(rank() OVER (ORDER BY key_r DESC, doc_id) AS INT)
       |  AS rnk, doc_id, w_tokens, key_r
       |FROM k
       |QUALIFY rnk <= 50
       |ORDER BY rnk""".stripMargin
  }

  // ------------------------------------------------------------------
  // t_tfidf_topterms — per-doc keyword extraction: tf·idf with
  // idf = ln(N/df), top-3 terms per doc. The corpus pass is two
  // groupBys (doc-term tf, then term df); each distinct term's idf is
  // ONE double ln rounded to 6 and frozen as DECIMAL(18,6), so
  // score = tf · idf_r is exact and the per-doc ranking is
  // engine-independent. The top-3-per-doc runs on the NATIVE
  // per-group top-k operator (plans/TopKPerGroup): a k-bounded heap
  // per input partition caps the exchange at 3·partitions rows per
  // doc — no full sort of the doc-term matrix, the 100 TB shape for
  // "give me keywords for every document in the corpus".
  // ------------------------------------------------------------------
  private val tTfidfTop: QFn = (s, dir) => {
    val words = t(s, dir, "documents").select(col("doc_id"),
        explode(split(TF.normText(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = t(s, dir, "documents").agg(count(lit(1)).as("n"))
    val scored = tf.join(dfx, "term").crossJoin(broadcast(nd))
      .withColumn("score",
        round(log(col("n").cast("double") / col("df").cast("double")), 6)
          .cast(DecimalType(18, 6)) * col("tf"))
    graft.plans.TopKPerGroup.topK(scored, Seq("doc_id"),
        Seq(("score", true), ("term", false)), k = 3)
      .select(col("doc_id"), col("term"), col("tf"),
        col("score").cast("string").cast("double").as("score"))
      .orderBy(col("doc_id"), col("score").desc, col("term"))
  }
  private val tTfidfTopSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w0 AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS term
       |  FROM documents),
       |w AS (SELECT doc_id, term FROM w0 WHERE length(term) > 0),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
       |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |nd AS (SELECT COUNT(*) AS n FROM documents),
       |sc AS (SELECT doc_id, term, tf,
       |  CAST(round(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6)
       |       AS DECIMAL(18,6)) * tf AS score
       |  FROM tf JOIN dfx USING (term) CROSS JOIN nd)
       |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
       |  CAST(CAST(score AS VARCHAR) AS DOUBLE) AS score
       |FROM sc
       |QUALIFY row_number() OVER (PARTITION BY doc_id
       |  ORDER BY score DESC, term) <= 3
       |ORDER BY doc_id, score DESC, term""".stripMargin
  }

  // ------------------------------------------------------------------
  // g_sssp_hubs — weighted shortest path to the nearest hub over the
  // co-purchase graph (g_bfs_layers' edge derivation, plus an integer
  // edge cost inversely tied to co-purchase strength): every 100th
  // part is a hub at distance 0, then 3 level-synchronous
  // Bellman–Ford relaxation rounds — each round ONE frontier-edge
  // join + a min-aggregate, lineage cut per round (the CC/KCore
  // discipline). Distances are exact integers; level-synchronous
  // rounds are engine-independent, so the oracle replays them as
  // chained CTEs. Emits the distance histogram + id checksum.
  // ------------------------------------------------------------------
  private val gSsspHubs: QFn = (s, dir) => {
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = op.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = op.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val e0 = a.join(b, "l_orderkey").filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 2)
      .withColumn("w", greatest(lit(1L), lit(10L) - col("n_both")))
    val und = e0.select(col("pa").as("src"), col("pb").as("dst"), col("w"))
      .unionAll(e0.select(col("pb").as("src"), col("pa").as("dst"), col("w")))
      .localCheckpoint(true)
    var dist = und.select(col("src").as("node")).distinct()
      .filter(col("node") % 100 === 0)
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    (1 to 3).foreach { _ =>
      val relaxed = dist.join(und, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
    }
    dist.groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"),
           sum(col("node")).cast("long").as("id_checksum"))
      .orderBy("dist")
  }
  private val gSsspSql = {
    val rounds = (1 to 3).map { r =>
      s"""d$r AS (SELECT node, MIN(dist) AS dist FROM (
         |  SELECT node, dist FROM d${r - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, d${r - 1}.dist + e.w AS dist
         |  FROM d${r - 1} JOIN e ON e.src = d${r - 1}.node) u
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
       |        greatest(1, 10 - COUNT(*)) AS w
       |      FROM op a JOIN op b USING (l_orderkey)
       |      WHERE a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |e AS (SELECT pa AS src, pb AS dst, w FROM p
       |      UNION ALL SELECT pb, pa, w FROM p),
       |d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
       |       FROM e WHERE src % 100 = 0),
       |$rounds
       |SELECT dist, COUNT(*) AS n_nodes,
       |CAST(SUM(node) AS BIGINT) AS id_checksum
       |FROM d3 GROUP BY 1 ORDER BY dist""".stripMargin
  }

  // ------------------------------------------------------------------
  // a28_cramers_v — association strength between two categoricals
  // (order status × order priority): χ² over the contingency table with
  // expected counts from the marginals, V = sqrt(χ² / (N·min(r−1,
  // c−1))). One groupBy builds the cells; marginals come from window-
  // free re-aggregation of the cells (the table is domain-bounded:
  // |flags|·|modes| rows). Each cell's χ² term is ONE double
  // expression rounded to 6 and summed as DECIMAL — order-free — and
  // V is one final double, round-6.
  // ------------------------------------------------------------------
  private val a28CramersV: QFn = (s, dir) => {
    val cells = t(s, dir, "orders")
      .groupBy(col("o_orderstatus").as("f"), col("o_orderpriority").as("m"))
      .agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy("f").agg(sum("o").as("rt"))
    val colTot = cells.groupBy("m").agg(sum("o").as("ct"))
    val n = cells.agg(sum("o").as("n"), countDistinct(col("f")).as("r"),
      countDistinct(col("m")).as("c"))
    val term = round(
      pow(col("o").cast("double") -
          col("rt").cast("double") * col("ct").cast("double") /
            col("n").cast("double"), 2) /
        (col("rt").cast("double") * col("ct").cast("double") /
          col("n").cast("double")), 6)
    cells.join(broadcast(rowTot), "f").join(broadcast(colTot), "m")
      .crossJoin(broadcast(n))
      .select(col("n"), col("r"), col("c"),
        term.cast(DecimalType(18, 6)).as("term"))
      .groupBy("n", "r", "c")
      .agg(sum("term").as("chi2d"))
      .select(
        col("n").as("n_rows"),
        round(col("chi2d").cast("double"), 6).as("chi2"),
        round(sqrt(col("chi2d").cast("double") /
          (col("n").cast("double") *
            least(col("r") - 1, col("c") - 1).cast("double"))), 6)
          .as("cramers_v"))
  }
  private val a28Sql =
    """WITH cells AS (SELECT o_orderstatus AS f, o_orderpriority AS m,
      |    COUNT(*) AS o FROM orders GROUP BY 1, 2),
      |rt AS (SELECT f, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      |ct AS (SELECT m, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      |nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
      |       COUNT(DISTINCT f) AS r, COUNT(DISTINCT m) AS c FROM cells),
      |terms AS (SELECT n, r, c,
      |  CAST(round(
      |    pow(CAST(o AS DOUBLE)
      |        - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE), 2)
      |    / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)),
      |    6) AS DECIMAL(18,6)) AS term
      |  FROM cells JOIN rt USING (f) JOIN ct USING (m) CROSS JOIN nn)
      |SELECT n AS n_rows,
      |round(CAST(SUM(term) AS DOUBLE), 6) AS chi2,
      |round(sqrt(CAST(SUM(term) AS DOUBLE)
      |  / (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE))), 6)
      |  AS cramers_v
      |FROM terms GROUP BY n, r, c""".stripMargin

  val queries: Map[String, QFn] = Map(
    "p_weighted_sample" -> pWeightedSample,
    "t_tfidf_topterms" -> tTfidfTop,
    "g_sssp_hubs" -> gSsspHubs,
    "a28_cramers_v" -> a28CramersV)

  val oracleSql: Map[String, String] = Map(
    "p_weighted_sample" -> pWeightedSampleSql,
    "t_tfidf_topterms" -> tTfidfTopSql,
    "g_sssp_hubs" -> gSsspSql,
    "a28_cramers_v" -> a28Sql)
}

/** Round-5 sixth-session widening: nonparametric inference
  * (Mann–Whitney U with tie correction), scalable uncertainty
  * quantification (Poisson bootstrap — the single-pass bootstrap used
  * at web scale), forecast backtesting (seasonal-naive + MAPE), graph
  * local clustering coefficients, a differential-privacy-shaped noisy
  * release, and the corpus "dataset card" summary an LLM data
  * pipeline publishes next to every training mix.
  *
  * Determinism follows the house rules (SURVEY §11): exact
  * integer/decimal arithmetic end-to-end, every double born as ONE
  * expression over exact inputs and rounded to 6 before any
  * reordering sum (round-6 terms that must be summed are frozen as
  * DECIMAL(18,6) first), md5-derived uniforms for anything sampled,
  * and a total ORDER BY on every result.
  */
object Frontier2Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // a29_mann_whitney — Mann–Whitney U rank-sum test (en vs es doc
  // lengths) with the tie-corrected normal approximation. The combined
  // ranking is NEVER materialized per row: n_chars has a bounded
  // domain (≤ ~550 distinct values), so the rank structure lives in a
  // value histogram — per value v, the count below it (cless) gives
  // every tied member the average rank (cless + (t+1)/2). Doubling
  // that (r2x = Σ n1v·(2·cless + t + 1) = 2·R1) keeps the whole rank
  // sum in BIGINT; U, the tie term Σ(t³−t), and both test statistics
  // derive from those exact integers in one rounded double each. The
  // only window runs over the ≤550-row histogram (domain-bounded), so
  // the plan at 10¹⁰ docs is: one groupBy shuffle on the value key +
  // a centimeter of driver-free window.
  // ------------------------------------------------------------------
  private val a29MannWhitney: QFn = (s, dir) => {
    val d = t(s, dir, "documents")
      .filter(col("lang").isin("en", "es"))
      .select(col("lang"), col("n_chars"))
    val hist = d.groupBy("n_chars").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n1v"),
      count(lit(1)).as("ntv"))
    val w = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.withColumn("cless",
      coalesce(sum(col("ntv")).over(w), lit(0L)))
    val a = cum.agg(
      sum(col("n1v")).as("n1"),
      sum(col("ntv") - col("n1v")).as("n2"),
      sum(col("n1v") * (lit(2L) * col("cless") + col("ntv") + lit(1L)))
        .as("r2x"),
      sum(col("ntv") * col("ntv") * col("ntv") - col("ntv")).as("tiesum"))
    val u2x = col("r2x") - col("n1") * (col("n1") + 1)
    a.select(
      col("n1"), col("n2"),
      (u2x.cast("double") / lit(2.0)).as("u1"),
      round(
        ((u2x.cast("double") / lit(2.0)) -
          col("n1").cast("double") * col("n2").cast("double") / lit(2.0)) /
          sqrt(col("n1").cast("double") * col("n2").cast("double") / lit(12.0) *
            ((col("n1") + col("n2") + 1).cast("double") -
              col("tiesum").cast("double") /
                ((col("n1") + col("n2")).cast("double") *
                  (col("n1") + col("n2") - 1).cast("double")))), 6).as("z_r"),
      round(lit(1.0) -
        u2x.cast("double") / (col("n1") * col("n2")).cast("double"), 6)
        .as("rbc_r"))
  }
  private val a29Sql =
    """WITH d AS (SELECT lang, n_chars FROM documents
      |           WHERE lang IN ('en', 'es')),
      |h AS (SELECT n_chars,
      |        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n1v,
      |        COUNT(*) AS ntv
      |      FROM d GROUP BY 1),
      |c AS (SELECT n_chars, n1v, ntv,
      |        COALESCE(SUM(ntv) OVER (ORDER BY n_chars
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cless
      |      FROM h),
      |a AS (SELECT SUM(n1v) AS n1, SUM(ntv - n1v) AS n2,
      |        SUM(n1v * (2 * cless + ntv + 1)) AS r2x,
      |        SUM(ntv * ntv * ntv - ntv) AS tiesum
      |      FROM c)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(r2x - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
      |  round(((CAST(r2x - n1 * (n1 + 1) AS DOUBLE) / 2.0)
      |      - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
      |    / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
      |      * (CAST(n1 + n2 + 1 AS DOUBLE)
      |        - CAST(tiesum AS DOUBLE)
      |          / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))),
      |    6) AS z_r,
      |  round(1.0 - CAST(r2x - n1 * (n1 + 1) AS DOUBLE)
      |    / CAST(n1 * n2 AS DOUBLE), 6) AS rbc_r
      |FROM a""".stripMargin

  // ------------------------------------------------------------------
  // a30_poisson_bootstrap — bootstrap CI for the mean order price via
  // the Poisson bootstrap (Chamandy et al., "Estimating Uncertainty
  // for Massive Data Streams", Google 2012): instead of resampling n
  // rows with replacement (which needs global coordination), each row
  // independently draws its multiplicity c ~ Poisson(1) per replicate
  // from a salted md5 uniform, so all 64 replicates stream out of ONE
  // scan with map-side partial aggregation — the shuffle carries 64
  // rows per partition, never the data. Replicate means are exact
  // DECIMAL sums ÷ BIGINT counts (one rounded double each); the 95%
  // interval is the 2nd / 63rd order statistic of the 64 replicate
  // means (a 64-row window — bounded by the replicate count, not the
  // data). u = (h13+1)/2^52 is an exact ≤2^52 integer over a power of
  // two; the Poisson(1) inverse-CDF thresholds are fixed double
  // literals, so both engines bucket identically.
  // ------------------------------------------------------------------
  private val pbThresholds = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119)
  private val a30PoissonBootstrap: QFn = (s, dir) => {
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_totalprice").cast(DecimalType(12, 2)).as("p"))
    val reps = o.withColumn("rep", explode(sequence(lit(0), lit(63))))
    val h13 = conv(substring(md5(concat(lit("pb:"),
      col("rep").cast("string"), lit(":"),
      col("o_orderkey").cast("string"))), 1, 13), 16, 10).cast("long")
    val u = (h13 + lit(1L)).cast("double") / lit(4.503599627370496e15)
    val c = pbThresholds.zipWithIndex
      .foldLeft(when(u < pbThresholds.head, 0L)) { case (acc, (th, i)) =>
        if (i == 0) acc else acc.when(u < th, i.toLong)
      }.otherwise(7L)
    val repMeans = reps.withColumn("c", c)
      .groupBy("rep")
      .agg(sum(col("p") * col("c")).as("sdec"), sum(col("c")).as("n"))
      .select(col("rep"), round(
        col("sdec").cast("double") / col("n").cast("double"), 6).as("m_r"))
    val ranked = repMeans.withColumn("rk",
      row_number().over(Window.orderBy(col("m_r"), col("rep"))))
    val ci = ranked.agg(
      count(lit(1)).as("n_reps"),
      max(when(col("rk") === 2, col("m_r"))).as("ci_lo_r"),
      max(when(col("rk") === 63, col("m_r"))).as("ci_hi_r"))
    val est = o.agg(round(
      sum(col("p")).cast("double") / count(lit(1)).cast("double"), 6)
      .as("est_mean_r"))
    est.crossJoin(broadcast(ci))
      .select(col("n_reps"), col("est_mean_r"), col("ci_lo_r"), col("ci_hi_r"))
  }
  private val a30Sql = {
    val cdf = pbThresholds.zipWithIndex
      .map { case (th, i) => s"WHEN u < $th THEN $i" }.mkString(" ")
    s"""WITH o AS (SELECT o_orderkey,
       |             CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
       |r AS (SELECT o.o_orderkey, o.p, t.rep,
       |        (CAST(('0x' || substring(md5('pb:' || CAST(t.rep AS VARCHAR)
       |           || ':' || CAST(o.o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT)
       |         + 1) / 4503599627370496.0 AS u
       |      FROM o CROSS JOIN range(0, 64) t(rep)),
       |m AS (SELECT rep,
       |        round(CAST(CAST(SUM(p * c) AS VARCHAR) AS DOUBLE)
       |          / CAST(SUM(c) AS DOUBLE), 6) AS m_r
       |      FROM (SELECT rep, p, CASE $cdf ELSE 7 END AS c FROM r)
       |      GROUP BY 1),
       |rk AS (SELECT rep, m_r,
       |         row_number() OVER (ORDER BY m_r, rep) AS rk FROM m),
       |ci AS (SELECT COUNT(*) AS n_reps,
       |         MAX(CASE WHEN rk = 2 THEN m_r END) AS ci_lo_r,
       |         MAX(CASE WHEN rk = 63 THEN m_r END) AS ci_hi_r FROM rk),
       |est AS (SELECT round(CAST(CAST(SUM(p) AS VARCHAR) AS DOUBLE)
       |          / CAST(COUNT(*) AS DOUBLE), 6) AS est_mean_r FROM o)
       |SELECT n_reps, est_mean_r, ci_lo_r, ci_hi_r
       |FROM est CROSS JOIN ci""".stripMargin
  }

  // ------------------------------------------------------------------
  // q28_seasonal_backtest — forecast backtesting: the seasonal-naive
  // model (forecast(m) = actual(m − 12 months)) scored by MAPE per
  // backtest year. Monthly revenue is an exact DECIMAL sum; the
  // forecast join is a self-join on (year+1, month) — calendar-
  // bounded, ~80 rows; each month's absolute percentage error is one
  // rounded double frozen to DECIMAL(18,6) so the per-year mean is an
  // exact decimal sum (no unordered double accumulation). This is the
  // evaluation loop every demand-forecasting pipeline runs before
  // promoting a model — expressed as two shuffles on keys that scale
  // with the calendar, not the fact table.
  // ------------------------------------------------------------------
  private val q28SeasonalBacktest: QFn = (s, dir) => {
    val m = t(s, dir, "orders")
      .select(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("p"))
      .groupBy("yr", "mo").agg(sum(col("p")).as("rev"))
    val prev = m.select((col("yr") + 1).as("yr"), col("mo"),
      col("rev").as("rev_prev"))
    val bt = m.join(prev, Seq("yr", "mo"))
      .withColumn("ape_d",
        round(abs(col("rev") - col("rev_prev")).cast("double") /
          col("rev").cast("double"), 6).cast(DecimalType(18, 6)))
    bt.groupBy("yr")
      .agg(count(lit(1)).as("n_months"), sum(col("ape_d")).as("sape"))
      .select(col("yr"), col("n_months"),
        round(col("sape").cast("double") / col("n_months").cast("double"), 6)
          .as("mape_r"))
      .orderBy("yr")
  }
  private val q28Sql =
    """WITH m AS (SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |             CAST(month(o_orderdate) AS INT) AS mo,
      |             SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |           FROM orders GROUP BY 1, 2),
      |bt AS (SELECT a.yr, a.mo,
      |         CAST(round(CAST(abs(a.rev - b.rev) AS DOUBLE)
      |           / CAST(a.rev AS DOUBLE), 6) AS DECIMAL(18,6)) AS ape_d
      |       FROM m a JOIN m b ON a.yr = b.yr + 1 AND a.mo = b.mo)
      |SELECT yr, COUNT(*) AS n_months,
      |  round(CAST(SUM(ape_d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    AS mape_r
      |FROM bt GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // g_clustering_coeff — per-node local clustering coefficient over
  // the co-purchase graph (same edge rule as g_triangle_count: part
  // pairs sharing ≥2 orders). Triangle membership comes from the
  // degree-ordered oriented enumeration (operators/Triangles) — each
  // triangle emitted once, exploded to its three corners, tallied by
  // one groupBy — so the wedge work stays O(m^1.5) and no node's
  // neighborhood is ever self-joined. cc = 2·tri/(deg·(deg−1)) is one
  // rounded double from exact integers.
  // ------------------------------------------------------------------
  private val gClusteringCoeff: QFn = (s, dir) => {
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = op.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = op.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val edges = a.join(b, "l_orderkey").filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= 2)
      .select(col("pa").as("ea"), col("pb").as("eb"))
    graft.operators.Triangles.localClustering(edges, "ea", "eb")
      .orderBy("node")
  }
  private val gClusteringSql =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS ea, b.l_partkey AS eb
      |      FROM op a JOIN op b USING (l_orderkey)
      |      WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |deg AS (SELECT node, COUNT(*) AS deg FROM
      |        (SELECT ea AS node FROM e UNION ALL SELECT eb FROM e) GROUP BY 1),
      |o AS (SELECT CASE WHEN (da.deg, e.ea) < (db.deg, e.eb) THEN e.ea ELSE e.eb END AS s,
      |             CASE WHEN (da.deg, e.ea) < (db.deg, e.eb) THEN e.eb ELSE e.ea END AS t,
      |             CASE WHEN (da.deg, e.ea) < (db.deg, e.eb) THEN db.deg ELSE da.deg END AS dt
      |      FROM e JOIN deg da ON da.node = e.ea JOIN deg db ON db.node = e.eb),
      |tri AS (SELECT x.s AS v1, x.t AS v2, y.t AS v3
      |        FROM o x JOIN o y ON x.s = y.s AND ((x.dt, x.t) < (y.dt, y.t))
      |        JOIN o z ON z.s = x.t AND z.t = y.t),
      |nt AS (SELECT node, COUNT(*) AS tri_n FROM
      |       (SELECT v1 AS node FROM tri UNION ALL SELECT v2 FROM tri
      |        UNION ALL SELECT v3 FROM tri) GROUP BY 1)
      |SELECT d.node, d.deg, COALESCE(nt.tri_n, 0) AS tri_n,
      |  round((2.0 * CAST(COALESCE(nt.tri_n, 0) AS DOUBLE))
      |    / (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE)), 6) AS cc_r
      |FROM deg d LEFT JOIN nt USING (node)
      |WHERE d.deg >= 2 ORDER BY d.node""".stripMargin

  // ------------------------------------------------------------------
  // x8_dp_noisy_count — differential-privacy-SHAPED release: per-
  // nation customer counts with Laplace(b = 1/ε, ε = 1) noise via the
  // inverse CDF (−b·sign(u−½)·ln(1−2|u−½|)). The "noise" is drawn
  // from a salted md5 uniform on the release key so the entry is
  // byte-reproducible for the oracle — a production release would use
  // a secret seed; the mechanism, sensitivity-1 count shape, and
  // calibrated scale are the real thing (Dwork et al., TCC'06).
  // Extends §2.10 beyond masking/k-anonymity to noise-based
  // disclosure control. One broadcast-sized groupBy; noise is one
  // rounded double per output row.
  // ------------------------------------------------------------------
  private val x8DpNoisyCount: QFn = (s, dir) => {
    val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val c = t(s, dir, "customer")
      .groupBy("c_nationkey").agg(count(lit(1)).as("cnt"))
    val h13 = conv(substring(md5(concat(lit("dp:"), col("n_name"))),
      1, 13), 16, 10).cast("long")
    val u = (h13 + lit(1L)).cast("double") / lit(4.503599627370496e15)
    val uc = u - lit(0.5)
    val noise = when(uc < 0, lit(1.0)).otherwise(lit(-1.0)) *
      log(lit(1.0) - lit(2.0) * abs(uc))
    n.join(c, n("n_nationkey") === c("c_nationkey"), "left")
      .na.fill(0L, Seq("cnt"))
      .select(col("n_name"),
        round(col("cnt").cast("double") + round(noise, 6), 6)
          .as("noisy_count_r"))
      .orderBy("n_name")
  }
  private val x8Sql =
    """WITH c AS (SELECT c_nationkey, COUNT(*) AS cnt
      |           FROM customer GROUP BY 1),
      |u AS (SELECT n.n_name, COALESCE(c.cnt, 0) AS cnt,
      |        (CAST(('0x' || substring(md5('dp:' || n.n_name), 1, 13))
      |           AS BIGINT) + 1) / 4503599627370496.0 - 0.5 AS uc
      |      FROM nation n LEFT JOIN c ON c.c_nationkey = n.n_nationkey)
      |SELECT n_name,
      |  round(CAST(cnt AS DOUBLE)
      |    + round((CASE WHEN uc < 0 THEN 1.0 ELSE -1.0 END)
      |        * ln(1.0 - 2.0 * abs(uc)), 6), 6) AS noisy_count_r
      |FROM u ORDER BY n_name""".stripMargin

  // ------------------------------------------------------------------
  // pipe_dataset_card — the per-language dataset-card block an LLM
  // training mix publishes: document / source counts, token totals
  // and corpus share, exact-duplicate rate (corpus-wide normalized
  // sha2, counted once and joined back), median and mean lengths.
  // One corpus scan feeds both the hash histogram and the per-lang
  // rollup; the corpus token total is a 1-row broadcast. All counts
  // exact; the two ratios are one rounded double each; the median is
  // Spark `percentile` ≡ DuckDB `quantile_cont` (parity pinned by
  // a_percentiles/b2).
  // ------------------------------------------------------------------
  private val pipeDatasetCard: QFn = (s, dir) => {
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
      col("source"), col("n_chars"),
      TF.wsTokenCount(col("text")).cast("long").as("toks"),
      sha2(TF.normText(col("text")), 256).as("h"))
    val hc = d.groupBy("h").agg(count(lit(1)).as("hc"))
    val perLang = d.join(hc, "h").groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      sum(col("toks")).as("tokens_total"),
      sum(when(col("hc") > 1, 1L).otherwise(0L)).as("dup_docs"),
      expr("percentile(n_chars, 0.5)").as("p50_chars"),
      sum(col("n_chars")).as("sum_chars"))
    val tot = perLang.agg(sum(col("tokens_total")).as("corpus_tokens"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        col("tokens_total"), col("dup_docs"), col("p50_chars"),
        round(col("sum_chars").cast("double") / col("n_docs").cast("double"),
          6).as("avg_chars_r"),
        round(col("tokens_total").cast("double") /
          col("corpus_tokens").cast("double"), 6).as("token_share_r"))
      .orderBy("lang")
  }
  private val pipeDatasetCardSql = {
    val toks = TF.wsTokenCountSql("text")
    val norm = TF.normTextSql("text")
    s"""WITH d AS (SELECT doc_id, lang, source, n_chars,
       |             CAST($toks AS BIGINT) AS toks,
       |             sha256($norm) AS h
       |           FROM documents),
       |hc AS (SELECT h, COUNT(*) AS hc FROM d GROUP BY 1),
       |pl AS (SELECT lang, COUNT(*) AS n_docs,
       |         COUNT(DISTINCT source) AS n_sources,
       |         CAST(SUM(toks) AS BIGINT) AS tokens_total,
       |         CAST(SUM(CASE WHEN hc.hc > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS dup_docs,
       |         quantile_cont(n_chars, 0.5) AS p50_chars,
       |         SUM(n_chars) AS sum_chars
       |       FROM d JOIN hc USING (h) GROUP BY 1),
       |tot AS (SELECT SUM(tokens_total) AS corpus_tokens FROM pl)
       |SELECT lang, n_docs, n_sources, tokens_total, dup_docs, p50_chars,
       |  round(CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
       |    AS avg_chars_r,
       |  round(CAST(tokens_total AS DOUBLE) / CAST(corpus_tokens AS DOUBLE),
       |    6) AS token_share_r
       |FROM pl CROSS JOIN tot ORDER BY lang""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "a29_mann_whitney" -> a29MannWhitney,
    "a30_poisson_bootstrap" -> a30PoissonBootstrap,
    "q28_seasonal_backtest" -> q28SeasonalBacktest,
    "g_clustering_coeff" -> gClusteringCoeff,
    "x8_dp_noisy_count" -> x8DpNoisyCount,
    "pipe_dataset_card" -> pipeDatasetCard)

  val oracleSql: Map[String, String] = Map(
    "a29_mann_whitney" -> a29Sql,
    "a30_poisson_bootstrap" -> a30Sql,
    "q28_seasonal_backtest" -> q28Sql,
    "g_clustering_coeff" -> gClusteringSql,
    "x8_dp_noisy_count" -> x8Sql,
    "pipe_dataset_card" -> pipeDatasetCardSql)
}

/** Round-5 seventh-session widening: survival analysis (Kaplan–Meier
  * over time-to-purchase), exact CUSUM changepoint detection via the
  * prefix-sum/running-extremum decomposition, multiple linear
  * regression by normal equations (Cramer's rule over one-pass exact
  * sums), and Kendall's tau-b rank correlation computed from a
  * domain-bounded contingency table (never from row pairs).
  *
  * Determinism follows the house rules (SURVEY §11): exact
  * integer/decimal arithmetic end-to-end, every double born as ONE
  * expression over exact inputs (round-6 terms that must be summed
  * are frozen as DECIMAL(18,6) first), and a total ORDER BY on every
  * multi-row result.
  */
object Frontier3Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // ev_survival_km — Kaplan–Meier survival curve for time from a
  // user's first event to their first purchase, right-censored at the
  // corpus end date. Durations are whole days with a calendar-bounded
  // domain, so the subject table collapses to a duration histogram
  // (one groupBy shuffle on the day key) and every window below runs
  // over ≤ |days| rows — never over users. n_at_risk(d) is a suffix
  // sum of the histogram; each KM factor ln(1 − d_i/n_i) is ONE
  // rounded double frozen as DECIMAL(18,6) so the cumulative log-
  // survival is an exact ordered-free decimal sum, and
  // S(d) = exp(Σ ln-terms) is one rounded double per step. A step
  // where every at-risk subject dies (factor 0) forces S = 0 from
  // then on via an exact flag — no ln(0) is ever evaluated.
  // ------------------------------------------------------------------
  private val evSurvivalKm: QFn = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        to_date(Tables.eventTs("ts")).as("d"))
    val endD = ev.agg(max(col("d")).as("end_d"))
    val perUser = ev.groupBy("user_id").agg(
      min(col("d")).as("first_d"),
      min(when(col("event_type") === "purchase", col("d"))).as("purch_d"))
    val subj = perUser.crossJoin(broadcast(endD))
      .select(
        when(col("purch_d").isNotNull,
          datediff(col("purch_d"), col("first_d")))
          .otherwise(datediff(col("end_d"), col("first_d"))).as("dur"),
        when(col("purch_d").isNotNull, 1L).otherwise(0L).as("ev"))
    val hist = subj.groupBy("dur").agg(
      sum(col("ev")).as("d_events"),
      sum(lit(1L) - col("ev")).as("c_events"),
      count(lit(1)).as("n_at"))
    val wSuf = Window.orderBy("dur")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wPre = Window.orderBy("dur")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = hist.withColumn("n_risk", sum(col("n_at")).over(wSuf))
    val l = r
      .withColumn("lnterm",
        when(col("d_events") > 0 && col("n_risk") > col("d_events"),
          round(log((col("n_risk") - col("d_events")).cast("double") /
            col("n_risk").cast("double")), 6))
          .otherwise(lit(0.0)).cast(DecimalType(18, 6)))
      .withColumn("zf",
        when(col("d_events") > 0 && col("n_risk") === col("d_events"), 1L)
          .otherwise(0L))
    l.withColumn("cumln", sum(col("lnterm")).over(wPre))
      .withColumn("cumzf", sum(col("zf")).over(wPre))
      .filter(col("d_events") > 0)
      .select(col("dur").cast("long").as("dur"),
        col("n_risk").cast("long").as("n_risk"),
        col("d_events").cast("long").as("d_events"),
        col("c_events").cast("long").as("c_events"),
        when(col("cumzf") > 0, lit(0.0))
          .otherwise(round(exp(col("cumln").cast("double")), 6))
          .as("surv_r"))
      .orderBy("dur")
  }
  private val evSurvivalKmSql =
    """WITH ev AS (SELECT user_id, event_type, CAST(ts AS DATE) AS d
      |            FROM events),
      |ed AS (SELECT max(d) AS end_d FROM ev),
      |pu AS (SELECT user_id, min(d) AS first_d,
      |         min(CASE WHEN event_type = 'purchase' THEN d END) AS purch_d
      |       FROM ev GROUP BY 1),
      |subj AS (SELECT
      |    CASE WHEN purch_d IS NOT NULL
      |         THEN date_diff('day', first_d, purch_d)
      |         ELSE date_diff('day', first_d, end_d) END AS dur,
      |    CASE WHEN purch_d IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM pu CROSS JOIN ed),
      |h AS (SELECT dur, SUM(ev) AS d_events, SUM(1 - ev) AS c_events,
      |        COUNT(*) AS n_at FROM subj GROUP BY 1),
      |r AS (SELECT dur, d_events, c_events,
      |        SUM(n_at) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW AND
      |          UNBOUNDED FOLLOWING) AS n_risk FROM h),
      |l AS (SELECT dur, d_events, c_events, n_risk,
      |        CASE WHEN d_events > 0 AND n_risk > d_events
      |          THEN CAST(round(ln(CAST(n_risk - d_events AS DOUBLE)
      |            / CAST(n_risk AS DOUBLE)), 6) AS DECIMAL(18,6))
      |          ELSE CAST(0 AS DECIMAL(18,6)) END AS lnterm,
      |        CASE WHEN d_events > 0 AND n_risk = d_events
      |          THEN 1 ELSE 0 END AS zf
      |      FROM r),
      |c AS (SELECT dur, d_events, c_events, n_risk,
      |        SUM(lnterm) OVER (ORDER BY dur) AS cumln,
      |        SUM(zf) OVER (ORDER BY dur) AS cumzf FROM l)
      |SELECT CAST(dur AS BIGINT) AS dur, CAST(n_risk AS BIGINT) AS n_risk,
      |  CAST(d_events AS BIGINT) AS d_events,
      |  CAST(c_events AS BIGINT) AS c_events,
      |  CASE WHEN cumzf > 0 THEN 0.0
      |       ELSE round(exp(CAST(CAST(cumln AS VARCHAR) AS DOUBLE)), 6)
      |  END AS surv_r
      |FROM c WHERE d_events > 0 ORDER BY dur""".stripMargin

  // ------------------------------------------------------------------
  // q29_cusum_shift — exact two-sided CUSUM changepoint detection over
  // daily revenue. The textbook recursion S⁺_t = max(0, S⁺_{t−1} +
  // x_t − μ − k) looks inherently sequential, but it has a closed
  // form: with P_t = Σ_{i≤t}(x_i − μ − k), S⁺_t = P_t − min(0,
  // min_{j≤t} P_j) — a prefix sum plus a running minimum, both plain
  // window aggregates (Page 1954 via the random-walk reflection
  // identity). Everything stays in exact DECIMAL: μ and the allowance
  // k = σ/2 are rounded once and frozen, so P/Q and both CUSUM
  // statistics are exact decimal arithmetic — the recursion is
  // reproduced bit-for-bit with no per-row iteration. The windows run
  // over the daily series (calendar-bounded); at 100 TB the only
  // data-sized work is the one groupBy building the daily rollup.
  // Flags mark days where either statistic exceeds h = 4σ.
  // ------------------------------------------------------------------
  private val q29CusumShift: QFn = (s, dir) => {
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast(DecimalType(12, 2))).as("rev"))
    val st = daily.agg(count(lit(1)).as("n"),
      sum(col("rev")).as("srev"), sum(col("rev") * col("rev")).as("ssrev"))
    val nD = col("n").cast("double")
    val sD = col("srev").cast("double")
    val ssD = col("ssrev").cast("double")
    val params = st.select(
      round(sD / nD, 4).cast(DecimalType(18, 4)).as("mu"),
      round(sqrt((ssD - sD * sD / nD) / nD), 4).cast(DecimalType(18, 4))
        .as("sd"))
      .select(col("mu"), col("sd"),
        round(col("sd").cast("double") / 2.0, 4).cast(DecimalType(18, 4))
          .as("k"),
        round(col("sd").cast("double") * 4.0, 4).cast(DecimalType(18, 4))
          .as("h"))
    val wPre = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = daily.crossJoin(broadcast(params))
      .withColumn("devp", col("rev") - col("mu") - col("k"))
      .withColumn("devm", col("rev") - col("mu") + col("k"))
    val cum = x
      .withColumn("p", sum(col("devp")).over(wPre))
      .withColumn("q", sum(col("devm")).over(wPre))
    cum
      .withColumn("s_plus",
        col("p") - least(lit(0).cast(DecimalType(18, 4)),
          min(col("p")).over(wPre)))
      .withColumn("s_minus",
        greatest(lit(0).cast(DecimalType(18, 4)),
          max(col("q")).over(wPre)) - col("q"))
      .select(col("d"),
        col("rev").cast("string").cast("double").as("rev_d"),
        col("s_plus").cast("string").cast("double").as("s_plus_d"),
        col("s_minus").cast("string").cast("double").as("s_minus_d"),
        when(col("s_plus") > col("h") || col("s_minus") > col("h"), 1)
          .otherwise(0).as("shift_flag"))
      .orderBy("d")
  }
  private val q29CusumShiftSql =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM orders GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n, SUM(rev) AS srev,
      |         SUM(rev * rev) AS ssrev FROM daily),
      |pr AS (SELECT
      |    CAST(round(CAST(CAST(srev AS VARCHAR) AS DOUBLE)
      |      / CAST(n AS DOUBLE), 4) AS DECIMAL(18,4)) AS mu,
      |    CAST(round(sqrt((CAST(CAST(ssrev AS VARCHAR) AS DOUBLE)
      |      - CAST(CAST(srev AS VARCHAR) AS DOUBLE)
      |        * CAST(CAST(srev AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
      |      / CAST(n AS DOUBLE)), 4) AS DECIMAL(18,4)) AS sd
      |  FROM st),
      |pk AS (SELECT mu, sd,
      |    CAST(round(CAST(CAST(sd AS VARCHAR) AS DOUBLE) / 2.0, 4)
      |      AS DECIMAL(18,4)) AS k,
      |    CAST(round(CAST(CAST(sd AS VARCHAR) AS DOUBLE) * 4.0, 4)
      |      AS DECIMAL(18,4)) AS h
      |  FROM pr),
      |x AS (SELECT d, rev, rev - mu - k AS devp, rev - mu + k AS devm, h
      |      FROM daily CROSS JOIN pk),
      |c AS (SELECT d, rev, h,
      |        SUM(devp) OVER (ORDER BY d) AS p,
      |        SUM(devm) OVER (ORDER BY d) AS q FROM x),
      |c2 AS (SELECT d, rev, h,
      |        CAST(p AS DECIMAL(28,4)) AS p, CAST(q AS DECIMAL(28,4)) AS q
      |      FROM c),
      |c3 AS (SELECT d, rev, h, p, q,
      |        MIN(p) OVER (ORDER BY d) AS mp,
      |        MAX(q) OVER (ORDER BY d) AS mq FROM c2),
      |sc AS (SELECT d, rev, h,
      |        p - (CASE WHEN mp < 0 THEN mp
      |             ELSE CAST(0 AS DECIMAL(28,4)) END) AS s_plus,
      |        (CASE WHEN mq > 0 THEN mq
      |         ELSE CAST(0 AS DECIMAL(28,4)) END) - q AS s_minus
      |      FROM c3)
      |SELECT d, CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS rev_d,
      |  CAST(CAST(s_plus AS VARCHAR) AS DOUBLE) AS s_plus_d,
      |  CAST(CAST(s_minus AS VARCHAR) AS DOUBLE) AS s_minus_d,
      |  CASE WHEN s_plus > h OR s_minus > h THEN 1 ELSE 0 END AS shift_flag
      |FROM sc ORDER BY d""".stripMargin

  // ------------------------------------------------------------------
  // a31_multireg — multiple linear regression (2 regressors +
  // intercept) fitted in ONE aggregation pass: per-customer total
  // spend regressed on order count and account balance. The 3×3
  // normal equations are solved in closed form by Cramer's rule over
  // the ten exact sufficient statistics (n, Σx₁, Σx₂, Σy, Σx₁²,
  // Σx₁x₂, Σx₂², Σx₁y, Σx₂y, Σy²) — all BIGINT/DECIMAL, so the
  // shuffle carries ten numbers per partition and the model fits in
  // one map-side-combined groupBy no matter the table size. Each
  // coefficient is ONE double expression over the exact sums (both
  // engines evaluate the identical IEEE tree), rounded to 6; R² is
  // derived from the rounded coefficients via SSE = Σy² − b·[Σy,
  // Σx₁y, Σx₂y] so it, too, is deterministic.
  // ------------------------------------------------------------------
  private val a31Multireg: QFn = (s, dir) => {
    val spend = t(s, dir, "orders").groupBy("o_custkey").agg(
      count(lit(1)).as("x1"),
      sum(col("o_totalprice").cast(DecimalType(12, 2))).as("y"))
    val cust = t(s, dir, "customer").select(col("c_custkey"),
      col("c_acctbal").cast(DecimalType(12, 2)).as("x2"))
    val d = spend.join(cust, spend("o_custkey") === cust("c_custkey"))
    val m = d.agg(
      count(lit(1)).as("n"),
      sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
      sum(col("y")).as("sy"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"),
      sum(col("y") * col("y")).as("syy"))
    val n = col("n").cast("double")
    val sx1 = col("sx1").cast("double"); val sx2 = col("sx2").cast("double")
    val sy = col("sy").cast("double")
    val s11 = col("s11").cast("double"); val s12 = col("s12").cast("double")
    val s22 = col("s22").cast("double")
    val s1y = col("s1y").cast("double"); val s2y = col("s2y").cast("double")
    val syy = col("syy").cast("double")
    val det = n * (s11 * s22 - s12 * s12) -
      sx1 * (sx1 * s22 - s12 * sx2) + sx2 * (sx1 * s12 - s11 * sx2)
    val b0 = round((sy * (s11 * s22 - s12 * s12) -
      sx1 * (s1y * s22 - s12 * s2y) + sx2 * (s1y * s12 - s11 * s2y)) / det, 6)
    val b1 = round((n * (s1y * s22 - s12 * s2y) -
      sy * (sx1 * s22 - s12 * sx2) + sx2 * (sx1 * s2y - s1y * sx2)) / det, 6)
    val b2 = round((n * (s11 * s2y - s1y * s12) -
      sx1 * (sx1 * s2y - s1y * sx2) + sy * (sx1 * s12 - s11 * sx2)) / det, 6)
    m.select(col("n"), col("sy"), col("s1y"), col("s2y"), col("syy"),
        b0.as("b0_r"), b1.as("b1_r"), b2.as("b2_r"))
      .select(col("n"), col("b0_r"), col("b1_r"), col("b2_r"),
        round(lit(1.0) -
          (syy - col("b0_r") * sy - col("b1_r") * s1y - col("b2_r") * s2y) /
            (syy - sy * sy / n), 6).as("r2_r"))
  }
  private val a31MultiregSql = {
    val det = """(n * (s11 * s22 - s12 * s12)
      - sx1 * (sx1 * s22 - s12 * sx2) + sx2 * (sx1 * s12 - s11 * sx2))"""
    s"""WITH spend AS (SELECT o_custkey, COUNT(*) AS x1,
       |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS y
       |  FROM orders GROUP BY 1),
       |d AS (SELECT spend.x1, CAST(c.c_acctbal AS DECIMAL(12,2)) AS x2,
       |        spend.y
       |      FROM spend JOIN customer c ON spend.o_custkey = c.c_custkey),
       |m AS (SELECT COUNT(*) AS n,
       |        SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
       |        SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12,
       |        SUM(x2 * x2) AS s22, SUM(x1 * y) AS s1y,
       |        SUM(x2 * y) AS s2y, SUM(y * y) AS syy
       |      FROM d),
       |md AS (SELECT CAST(n AS BIGINT) AS n0, CAST(n AS DOUBLE) AS n,
       |        CAST(CAST(sx1 AS VARCHAR) AS DOUBLE) AS sx1,
       |        CAST(CAST(sx2 AS VARCHAR) AS DOUBLE) AS sx2,
       |        CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
       |        CAST(CAST(s11 AS VARCHAR) AS DOUBLE) AS s11,
       |        CAST(CAST(s12 AS VARCHAR) AS DOUBLE) AS s12,
       |        CAST(CAST(s22 AS VARCHAR) AS DOUBLE) AS s22,
       |        CAST(CAST(s1y AS VARCHAR) AS DOUBLE) AS s1y,
       |        CAST(CAST(s2y AS VARCHAR) AS DOUBLE) AS s2y,
       |        CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy
       |      FROM m),
       |b AS (SELECT n0, n, sy, s1y, s2y, syy, sx1, sx2,
       |  round((sy * (s11 * s22 - s12 * s12)
       |    - sx1 * (s1y * s22 - s12 * s2y)
       |    + sx2 * (s1y * s12 - s11 * s2y)) / $det, 6) AS b0_r,
       |  round((n * (s1y * s22 - s12 * s2y)
       |    - sy * (sx1 * s22 - s12 * sx2)
       |    + sx2 * (sx1 * s2y - s1y * sx2)) / $det, 6) AS b1_r,
       |  round((n * (s11 * s2y - s1y * s12)
       |    - sx1 * (sx1 * s2y - s1y * sx2)
       |    + sy * (sx1 * s12 - s11 * sx2)) / $det, 6) AS b2_r
       |  FROM md)
       |SELECT n0 AS n, b0_r, b1_r, b2_r,
       |  round(1.0 - (syy - b0_r * sy - b1_r * s1y - b2_r * s2y)
       |    / (syy - sy * sy / n), 6) AS r2_r
       |FROM b""".stripMargin
  }

  // ------------------------------------------------------------------
  // a32_kendall_tau — Kendall's tau-b between lineitem quantity and
  // discount, computed EXACTLY without ever enumerating row pairs:
  // both variables have bounded domains (50 × 11), so the data
  // collapses to a contingency table in one groupBy and the
  // concordant/discordant tallies come from a cell-level theta join
  // (≤ |cells|² = 302k combinations — bounded by the domain, not the
  // data). A pair of rows is counted once at its lexicographically
  // larger cell: nc = Σ n_a·(Σ n_b : b.q < a.q, b.d < a.d),
  // nd = Σ n_a·(Σ n_b : b.q < a.q, b.d > a.d). Tie corrections use
  // the marginal histograms; products that would overflow BIGINT at
  // petabyte row counts are carried as DECIMAL(38,0). tau-b is one
  // rounded double over the exact tallies.
  // ------------------------------------------------------------------
  private val a32KendallTau: QFn = (s, dir) => {
    val cells = t(s, dir, "lineitem")
      .groupBy(col("l_quantity").cast("int").as("q"),
        round(col("l_discount") * 100).cast("int").as("disc"))
      .agg(count(lit(1)).as("cn"))
    val a = cells.select(col("q").as("qa"), col("disc").as("da"),
      col("cn").as("na"))
    val b = cells.select(col("q").as("qb"), col("disc").as("db"),
      col("cn").as("nb"))
    val pair = a.join(b, col("qb") < col("qa"))
      .groupBy("qa", "da", "na")
      .agg(sum(when(col("db") < col("da"), col("nb")).otherwise(0L))
             .as("cl"),
           sum(when(col("db") > col("da"), col("nb")).otherwise(0L))
             .as("cg"))
    val tallies = pair.agg(
      sum(col("na").cast(DecimalType(19, 0)) * col("cl")).as("nc"),
      sum(col("na").cast(DecimalType(19, 0)) * col("cg")).as("nd"))
    val qm = cells.groupBy("q").agg(sum("cn").as("qn"))
      .agg(sum(col("qn")).as("nn"),
        sum(col("qn").cast(DecimalType(19, 0)) * (col("qn") - 1)).as("t1x2"))
    val dm = cells.groupBy("disc").agg(sum("cn").as("dn"))
      .agg(sum(col("dn").cast(DecimalType(19, 0)) * (col("dn") - 1))
        .as("t2x2"))
    val nD = col("nn").cast("double")
    val n0x2 = nD * (nD - 1)
    val joined = tallies.crossJoin(broadcast(qm)).crossJoin(broadcast(dm))
    joined.select(
      col("nn").cast("long").as("n"),
      col("nc").cast("string").cast("double").as("nc_d"),
      col("nd").cast("string").cast("double").as("nd_d"),
      round(lit(2.0) *
        (col("nc").cast("double") - col("nd").cast("double")) /
        sqrt((n0x2 - col("t1x2").cast("double")) *
          (n0x2 - col("t2x2").cast("double"))), 6).as("tau_b_r"))
  }
  private val a32KendallTauSql =
    """WITH cells AS (SELECT CAST(l_quantity AS INT) AS q,
      |    CAST(round(l_discount * 100) AS INT) AS disc, COUNT(*) AS cn
      |  FROM lineitem GROUP BY 1, 2),
      |pair AS (SELECT a.q AS qa, a.disc AS da, a.cn AS na,
      |    SUM(CASE WHEN b.disc < a.disc THEN b.cn ELSE 0 END) AS cl,
      |    SUM(CASE WHEN b.disc > a.disc THEN b.cn ELSE 0 END) AS cg
      |  FROM cells a JOIN cells b ON b.q < a.q
      |  GROUP BY 1, 2, 3),
      |tal AS (SELECT SUM(CAST(na AS DECIMAL(19,0)) * cl) AS nc,
      |          SUM(CAST(na AS DECIMAL(19,0)) * cg) AS nd FROM pair),
      |qm AS (SELECT SUM(qn) AS nn,
      |         SUM(CAST(qn AS DECIMAL(19,0)) * (qn - 1)) AS t1x2
      |       FROM (SELECT q, SUM(cn) AS qn FROM cells GROUP BY 1)),
      |dm AS (SELECT SUM(CAST(dn AS DECIMAL(19,0)) * (dn - 1)) AS t2x2
      |       FROM (SELECT disc, SUM(cn) AS dn FROM cells GROUP BY 1))
      |SELECT CAST(nn AS BIGINT) AS n,
      |  CAST(CAST(nc AS VARCHAR) AS DOUBLE) AS nc_d,
      |  CAST(CAST(nd AS VARCHAR) AS DOUBLE) AS nd_d,
      |  round(2.0 * (CAST(CAST(nc AS VARCHAR) AS DOUBLE)
      |      - CAST(CAST(nd AS VARCHAR) AS DOUBLE))
      |    / sqrt((CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1)
      |        - CAST(CAST(t1x2 AS VARCHAR) AS DOUBLE))
      |      * (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1)
      |        - CAST(CAST(t2x2 AS VARCHAR) AS DOUBLE))), 6) AS tau_b_r
      |FROM tal CROSS JOIN qm CROSS JOIN dm""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ev_survival_km" -> evSurvivalKm,
    "q29_cusum_shift" -> q29CusumShift,
    "a31_multireg" -> a31Multireg,
    "a32_kendall_tau" -> a32KendallTau)

  val oracleSql: Map[String, String] = Map(
    "ev_survival_km" -> evSurvivalKmSql,
    "q29_cusum_shift" -> q29CusumShiftSql,
    "a31_multireg" -> a31MultiregSql,
    "a32_kendall_tau" -> a32KendallTauSql)
}

/** Round-5 eighth-session widening: unsupervised clustering (Lloyd's
  * k-means over the embedding corpus, fully distributed and exactly
  * deterministic) and a multinomial Naive Bayes text classifier
  * (train + score + confusion matrix in one query) — the two ML
  * primitives an LLM data pipeline leans on for semantic corpus
  * bucketing and fastText-style quality/domain classification.
  *
  * Both entries keep EVERY intermediate in exact integer/decimal
  * arithmetic (coordinates and log-likelihoods are rounded once and
  * frozen as DECIMAL(18,6)), so cluster assignments and argmax
  * predictions are bit-reproducible across engines and partitionings
  * — no floating-point accumulation order anywhere.
  */
object Frontier4Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // ml_kmeans_embed — Lloyd's k-means (k = 8, 3 update rounds) over
  // the 64-dim embedding table in long (vec_id, dim, value) layout:
  // assignment is one join on the dim key against the 512-row
  // broadcast centroid table + a groupBy(vec, cluster) for distances
  // + a partitioned argmin window; the update is one
  // groupBy(cluster, dim) mean. Nothing ever shuffles on anything
  // but (vec_id | dim | cid) keys, partial aggregation runs map-side,
  // and the per-round driver loop is a fixed 3 iterations — the
  // classic scalable k-means shape (distances could fuse into a
  // dot-product form, but the explicit long layout keeps every
  // intermediate exact). Determinism: coordinates are frozen as
  // round-6 DECIMAL on load, so squared distances are EXACT decimals
  // (diffs clamped to DECIMAL(12,6) to keep both engines inside
  // decimal width limits), argmin ties break on cid, seeds are the 8
  // smallest md5(vec_id) picked by the two-phase TopK operator, and
  // centroid means re-freeze to round-6 DECIMAL each round. Empty
  // clusters drop (standard Lloyd behavior), identically in both
  // engines. Output: per-cluster size, inertia, and centroid norm.
  // ------------------------------------------------------------------
  private val mlKmeansEmbed: QFn = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val pts = graft.ml.KMeans.pointsLong(emb).localCheckpoint(true)
    val cent = graft.ml.KMeans.fit(emb, pts, k = 8, iters = 3)
    val finalAsg = graft.ml.KMeans.assign(pts, cent)
    val cnorm = cent
      .withColumn("c6", col("cd").cast(DecimalType(12, 6)))
      .groupBy("cid").agg(sum(col("c6") * col("c6")).as("nrm"))
      .select(col("cid"), round(col("nrm").cast("double"), 6).as("cnorm_r"))
    finalAsg.groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("d2")).cast("double"), 6).as("inertia_r"))
      .join(broadcast(cnorm), "cid")
      .select(col("cid"), col("n_vecs"), col("inertia_r"), col("cnorm_r"))
      .orderBy("cid")
  }
  private val mlKmeansEmbedSql = {
    s"""WITH ${graft.ml.KMeans.sqlCtes(dim = 64, k = 8, iters = 3)},
       |cn AS (SELECT cid,
       |    round(CAST(CAST(SUM(CAST(cd AS DECIMAL(12,6))
       |      * CAST(cd AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE), 6)
       |    AS cnorm_r
       |  FROM c3 GROUP BY 1)
       |SELECT a4.cid, COUNT(*) AS n_vecs,
       |  round(CAST(CAST(SUM(a4.d2) AS VARCHAR) AS DOUBLE), 6) AS inertia_r,
       |  cn.cnorm_r
       |FROM a4 JOIN cn USING (cid)
       |GROUP BY a4.cid, cn.cnorm_r
       |ORDER BY a4.cid""".stripMargin
  }

  // ------------------------------------------------------------------
  // t_nb_classify — multinomial Naive Bayes language classifier with
  // add-one smoothing, trained on the 80% md5 split (p_hash_split's
  // exact bucketing) and scored on the 20% holdout; output is the
  // confusion matrix. Per-class per-term log-likelihoods
  // ln((tc+1)/(tot_c+V)) and priors ln(n_c/N) are each ONE double
  // over exact counts, rounded to 6 and frozen as DECIMAL(18,6), so
  // a document's class score — prior + Σ token log-liks — is an
  // EXACT decimal sum (order-free) and the argmax is
  // engine-independent (ties break on class name). The plan: two
  // token-level groupBys for the model (term-key shuffles with
  // map-side combine), a 5-way token × class expansion joined to the
  // broadcast-sized model on the term key, and one doc-key groupBy —
  // the fastText-style quality/domain-classifier shape at corpus
  // scale. Unseen terms fall back to the class's smoothed floor via
  // coalesce against the broadcast per-class default.
  // ------------------------------------------------------------------
  private val tNbClassify: QFn = (s, dir) => {
    // normalize+tokenize ONCE: docs feeds train (3 consumers) and test
    // (2 consumers), and un-checkpointed every one re-ran the documents
    // scan + normText + split (plan-verified: 30 parquet scans)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        split(TF.normText(col("text")), " ").as("toks"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"))
      .localCheckpoint(true)
    val train = docs.filter(col("bucket") < 80)
    val test = docs.filter(col("bucket") >= 80)
    // the exploded training tokens feed vocab, the per-class totals and
    // the per-term counts — materialized so the explode runs once
    val tokTr = train.select(col("lang"), explode(col("toks")).as("term"))
      .filter(length(col("term")) > 0)
      .localCheckpoint(true)
    val tokTe = test
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(length(col("term")) > 0)
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    val vocab = tokTr.agg(countDistinct(col("term")).as("v"))
    val classes = train.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .join(tokTr.groupBy("lang").agg(count(lit(1)).as("tot")), "lang")
      .crossJoin(broadcast(nTrain)).crossJoin(broadcast(vocab))
      .select(col("lang").as("c"), col("tot"), col("v"),
        round(log(col("n_docs").cast("double") /
          col("n_train").cast("double")), 6).cast(DecimalType(18, 6))
          .as("prior_r"),
        round(log(lit(1.0) / (col("tot") + col("v")).cast("double")), 6)
          .cast(DecimalType(18, 6)).as("def_r"))
      // |classes| rows, broadcast three times below — the barrier stops
      // each broadcast from re-running the whole model-count lineage
      .localCheckpoint(true)
    val ll = tokTr.groupBy(col("lang").as("c"), col("term"))
      .agg(count(lit(1)).as("tc"))
      .join(broadcast(classes.select("c", "tot", "v")), "c")
      .select(col("c"), col("term"),
        round(log((col("tc") + 1).cast("double") /
          (col("tot") + col("v")).cast("double")), 6)
          .cast(DecimalType(18, 6)).as("ll_r"))
    val tokScores = tokTe
      .crossJoin(broadcast(classes.select("c", "def_r")))
      .join(ll, Seq("term", "c"), "left")
      .select(col("doc_id"), col("c"),
        coalesce(col("ll_r"), col("def_r")).as("l"))
      .groupBy("doc_id", "c")
      .agg(sum(col("l")).cast(DecimalType(28, 6)).as("toksum"))
    val pred = test.select(col("doc_id"), col("lang").as("true_lang"))
      .crossJoin(broadcast(classes.select("c", "prior_r")))
      .join(tokScores, Seq("doc_id", "c"), "left")
      .withColumn("score", col("prior_r") +
        coalesce(col("toksum"), lit(0).cast(DecimalType(28, 6))))
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("c").asc)))
      .filter(col("rn") === 1)
    pred.groupBy(col("true_lang"), col("c").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("true_lang", "pred_lang")
  }
  private val tNbClassifySql = {
    val norm = TF.normTextSql("text")
    s"""WITH docs AS (SELECT doc_id, lang, $norm AS nt,
       |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % 100 AS bucket
       |  FROM documents),
       |train AS (SELECT * FROM docs WHERE bucket < 80),
       |test AS (SELECT * FROM docs WHERE bucket >= 80),
       |tok_tr0 AS (SELECT lang, unnest(string_split(nt, ' ')) AS term
       |            FROM train),
       |tok_tr AS (SELECT lang, term FROM tok_tr0 WHERE length(term) > 0),
       |tok_te0 AS (SELECT doc_id, unnest(string_split(nt, ' ')) AS term
       |            FROM test),
       |tok_te AS (SELECT doc_id, term FROM tok_te0 WHERE length(term) > 0),
       |nt AS (SELECT COUNT(*) AS n_train FROM train),
       |vb AS (SELECT COUNT(DISTINCT term) AS v FROM tok_tr),
       |cls AS (SELECT d.lang AS c, t.tot, vb.v,
       |    CAST(round(ln(CAST(d.n_docs AS DOUBLE)
       |      / CAST(nt.n_train AS DOUBLE)), 6) AS DECIMAL(18,6)) AS prior_r,
       |    CAST(round(ln(1.0 / CAST(t.tot + vb.v AS DOUBLE)), 6)
       |      AS DECIMAL(18,6)) AS def_r
       |  FROM (SELECT lang, COUNT(*) AS n_docs FROM train GROUP BY 1) d
       |  JOIN (SELECT lang, COUNT(*) AS tot FROM tok_tr GROUP BY 1) t
       |    USING (lang) CROSS JOIN nt CROSS JOIN vb),
       |ll AS (SELECT tc.c, tc.term,
       |    CAST(round(ln(CAST(tc.tc + 1 AS DOUBLE)
       |      / CAST(cls.tot + cls.v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS ll_r
       |  FROM (SELECT lang AS c, term, COUNT(*) AS tc FROM tok_tr
       |        GROUP BY 1, 2) tc
       |  JOIN cls USING (c)),
       |ts AS (SELECT te.doc_id, cl.c,
       |    CAST(SUM(COALESCE(ll.ll_r, cl.def_r)) AS DECIMAL(28,6)) AS toksum
       |  FROM tok_te te CROSS JOIN cls cl
       |  LEFT JOIN ll ON ll.term = te.term AND ll.c = cl.c
       |  GROUP BY 1, 2),
       |sc AS (SELECT t.doc_id, t.lang AS true_lang, cl.c,
       |    cl.prior_r + COALESCE(ts.toksum, CAST(0 AS DECIMAL(28,6)))
       |      AS score
       |  FROM test t CROSS JOIN cls cl
       |  LEFT JOIN ts ON ts.doc_id = t.doc_id AND ts.c = cl.c),
       |pr AS (SELECT doc_id, true_lang, c FROM sc
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, c) = 1)
       |SELECT true_lang, c AS pred_lang, COUNT(*) AS n_docs
       |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "ml_kmeans_embed" -> mlKmeansEmbed,
    "t_nb_classify" -> tNbClassify)

  val oracleSql: Map[String, String] = Map(
    "ml_kmeans_embed" -> mlKmeansEmbedSql,
    "t_nb_classify" -> tNbClassifySql)
}

/** Round-5 ninth-session widening: robust regression (Theil–Sen
  * median-of-slopes over the monthly revenue series), multiple-testing
  * control (per-nation Welch z-tests with Benjamini–Hochberg FDR), and
  * distributed PCA (leading eigenvector of the embedding covariance by
  * power iteration). Statistics that a production analytics/feature
  * platform ships next to plain aggregates — each expressed so the
  * data-sized work is one scan/groupBy and all iteration happens on
  * domain-bounded state (calendar pairs, 25 nations, a 64×64
  * covariance).
  *
  * House determinism rules throughout: exact integer/decimal
  * arithmetic, each double born as ONE expression over exact inputs
  * and rounded to 6 (re-frozen as DECIMAL(18,6) wherever it feeds
  * later arithmetic), and total ORDER BYs.
  */
object Frontier5Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // a33_theil_sen — Theil–Sen robust trend over monthly revenue: the
  // slope estimate is the median of all pairwise slopes
  // (rev_j − rev_i)/(t_j − t_i), the intercept the median of
  // rev_i − slope·t_i. Monthly revenue is one exact-decimal groupBy
  // of the fact table; the pairwise stage is a self-join of the
  // MONTHLY series — bounded by the calendar squared (~3.5k pairs),
  // never by the data. Each slope is ONE rounded double from exact
  // decimals; the median uses `percentile` ≡ `quantile_cont` (parity
  // pinned by a_percentiles); the fitted slope is re-frozen as
  // DECIMAL(18,6) so the intercept residuals are exact decimals.
  // The estimator shrugs off the outlier months that wreck the OLS
  // fit (a14/a31) — the robust twin of the regression pack.
  // ------------------------------------------------------------------
  private val a33TheilSen: QFn = (s, dir) => {
    val m = t(s, dir, "orders")
      .groupBy(((year(col("o_orderdate")) - 1990) * 12 +
        month(col("o_orderdate")) - 1).as("tt"))
      .agg(sum(col("o_totalprice").cast(DecimalType(12, 2))).as("rev"))
    val a = m.select(col("tt").as("ti"), col("rev").as("ri"))
    val b = m.select(col("tt").as("tj"), col("rev").as("rj"))
    val slopes = a.join(b, col("ti") < col("tj"))
      .select(round((col("rj") - col("ri")).cast("double") /
        (col("tj") - col("ti")).cast("double"), 6).as("slope_r"))
    val sm = slopes.agg(count(lit(1)).as("n_pairs"),
      expr("percentile(slope_r, 0.5)").as("slope_m"))
      .select(col("n_pairs"),
        round(col("slope_m"), 6).cast(DecimalType(18, 6)).as("slope_m"))
    val ic = m.crossJoin(broadcast(sm))
      .select(col("n_pairs"), col("slope_m"),
        (col("rev") - col("slope_m") * col("tt")).cast(DecimalType(28, 6))
          .as("b0"))
      .groupBy("n_pairs", "slope_m")
      .agg(count(lit(1)).as("n_months"),
        expr("percentile(b0, 0.5)").as("b0_m"))
    ic.select(col("n_months"), col("n_pairs"),
      col("slope_m").cast("string").cast("double").as("slope_r"),
      round(col("b0_m"), 6).as("intercept_r"))
  }
  private val a33TheilSenSql =
    """WITH m AS (SELECT (CAST(year(o_orderdate) AS INT) - 1990) * 12
      |      + CAST(month(o_orderdate) AS INT) - 1 AS tt,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM orders GROUP BY 1),
      |sl AS (SELECT round(CAST(b.rev - a.rev AS DOUBLE)
      |      / CAST(b.tt - a.tt AS DOUBLE), 6) AS slope_r
      |  FROM m a JOIN m b ON a.tt < b.tt),
      |sm AS (SELECT COUNT(*) AS n_pairs,
      |    CAST(round(quantile_cont(slope_r, 0.5), 6) AS DECIMAL(18,6))
      |      AS slope_m
      |  FROM sl),
      |ic AS (SELECT n_pairs, slope_m, COUNT(*) AS n_months,
      |    quantile_cont(CAST(rev - slope_m * tt AS DECIMAL(28,6)), 0.5)
      |      AS b0_m
      |  FROM m CROSS JOIN sm GROUP BY 1, 2)
      |SELECT n_months, n_pairs,
      |  CAST(CAST(slope_m AS VARCHAR) AS DOUBLE) AS slope_r,
      |  round(b0_m, 6) AS intercept_r
      |FROM ic""".stripMargin

  // ------------------------------------------------------------------
  // a34_bh_fdr — 25 simultaneous hypotheses (is a nation's customer
  // balance distribution shifted vs the rest?) with Benjamini–
  // Hochberg false-discovery control. One groupBy produces per-nation
  // exact sums; each complement's sums are the GLOBAL sums minus the
  // nation's (exact decimal subtraction — no second scan). Welch z is
  // one rounded double per nation; the two-sided p-value uses the
  // Abramowitz–Stegun 7.1.26 erf polynomial (max error 1.5e-7),
  // spelled out identically in both engines so the doubles agree
  // bit-for-bit — no libm erf dependency. The BH step-up (reject all
  // p(i) with i ≤ k* = max{k : p(k) ≤ kα/m}, α = 0.10) runs as two
  // windows over the 25-row test table — domain-bounded.
  // ------------------------------------------------------------------
  private val a34BhFdr: QFn = (s, dir) => {
    val per = t(s, dir, "customer")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n1"),
        sum(col("c_acctbal").cast(DecimalType(12, 2))).as("s1"),
        sum(col("c_acctbal").cast(DecimalType(12, 2)) *
          col("c_acctbal").cast(DecimalType(12, 2))).as("ss1"))
    val glob = per.agg(sum(col("n1")).as("ng"), sum(col("s1")).as("sg"),
      sum(col("ss1")).as("ssg"))
    val j = per.crossJoin(broadcast(glob))
      .join(t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
    val n1 = col("n1").cast("double")
    val n2 = (col("ng") - col("n1")).cast("double")
    val s1 = col("s1").cast("double")
    val s2 = (col("sg") - col("s1")).cast("double")
    val ss1 = col("ss1").cast("double")
    val ss2 = (col("ssg") - col("ss1")).cast("double")
    val v1 = (ss1 - s1 * s1 / n1) / (n1 - 1)
    val v2 = (ss2 - s2 * s2 / n2) / (n2 - 1)
    val z = (s1 / n1 - s2 / n2) / sqrt(v1 / n1 + v2 / n2)
    // two-sided p = 1 - erf(|z|/sqrt(2)), erf via A-S 7.1.26
    val x = abs(col("z_r")) / sqrt(lit(2.0))
    val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * tt - lit(1.453152027)) * tt +
      lit(1.421413741)) * tt - lit(0.284496736)) * tt + lit(0.254829592)) * tt
    val erf = lit(1.0) - poly * exp(negate(x * x))
    val tests = j.select(col("n_name"), col("n1").as("n_cust"),
        round(z, 6).as("z_r"))
      .withColumn("p_r", round(lit(1.0) - erf, 6))
    val wAll = Window.partitionBy(lit(0))
    val ranked = tests
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("p_r"), col("n_name"))))
      .withColumn("m", count(lit(1)).over(wAll))
    ranked
      .withColumn("kstar", max(when(
        col("p_r") * col("m") <= col("rnk") * 0.10, col("rnk"))
        .otherwise(0)).over(wAll))
      .select(col("n_name"), col("n_cust"), col("z_r"), col("p_r"),
        col("rnk"),
        when(col("rnk") <= col("kstar"), 1).otherwise(0).as("bh_reject"))
      .orderBy("rnk")
  }
  private val a34BhFdrSql =
    """WITH per AS (SELECT c_nationkey, COUNT(*) AS n1,
      |    SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS s1,
      |    SUM(CAST(c_acctbal AS DECIMAL(12,2))
      |      * CAST(c_acctbal AS DECIMAL(12,2))) AS ss1
      |  FROM customer GROUP BY 1),
      |gl AS (SELECT SUM(n1) AS ng, SUM(s1) AS sg, SUM(ss1) AS ssg FROM per),
      |d AS (SELECT n.n_name, per.n1 AS n_cust,
      |    CAST(per.n1 AS DOUBLE) AS n1,
      |    CAST(gl.ng - per.n1 AS DOUBLE) AS n2,
      |    CAST(CAST(per.s1 AS VARCHAR) AS DOUBLE) AS s1,
      |    CAST(CAST(gl.sg - per.s1 AS VARCHAR) AS DOUBLE) AS s2,
      |    CAST(CAST(per.ss1 AS VARCHAR) AS DOUBLE) AS ss1,
      |    CAST(CAST(gl.ssg - per.ss1 AS VARCHAR) AS DOUBLE) AS ss2
      |  FROM per CROSS JOIN gl
      |  JOIN nation n ON per.c_nationkey = n.n_nationkey),
      |zt AS (SELECT n_name, n_cust,
      |    round((s1 / n1 - s2 / n2)
      |      / sqrt(((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1
      |           + ((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2), 6) AS z_r
      |  FROM d),
      |pv AS (SELECT n_name, n_cust, z_r,
      |    round(1.0 - (1.0
      |      - ((((1.061405429 * (1.0 / (1.0 + 0.3275911 * (abs(z_r)
      |            / sqrt(2.0)))) - 1.453152027)
      |          * (1.0 / (1.0 + 0.3275911 * (abs(z_r) / sqrt(2.0))))
      |          + 1.421413741)
      |          * (1.0 / (1.0 + 0.3275911 * (abs(z_r) / sqrt(2.0))))
      |          - 0.284496736)
      |          * (1.0 / (1.0 + 0.3275911 * (abs(z_r) / sqrt(2.0))))
      |          + 0.254829592)
      |        * (1.0 / (1.0 + 0.3275911 * (abs(z_r) / sqrt(2.0))))
      |        * exp(-((abs(z_r) / sqrt(2.0)) * (abs(z_r) / sqrt(2.0))))),
      |      6) AS p_r
      |  FROM zt),
      |rk AS (SELECT n_name, n_cust, z_r, p_r,
      |    CAST(row_number() OVER (ORDER BY p_r, n_name) AS INT) AS rnk,
      |    COUNT(*) OVER () AS m
      |  FROM pv),
      |ks AS (SELECT *, MAX(CASE WHEN p_r * m <= rnk * 0.10 THEN rnk
      |    ELSE 0 END) OVER () AS kstar FROM rk)
      |SELECT n_name, n_cust, z_r, p_r, rnk,
      |  CASE WHEN rnk <= kstar THEN 1 ELSE 0 END AS bh_reject
      |FROM ks ORDER BY rnk""".stripMargin

  // ------------------------------------------------------------------
  // ml_pca_power — leading principal component of the embedding
  // corpus by power iteration. The only data-sized work is the
  // one-pass covariance: explode to (vec, dim, value), self-join on
  // vec_id, groupBy (i, j) — the standard sum-of-outer-products
  // shape whose shuffle carries 64×64 cells per partition after
  // map-side combine. Each covariance cell Σxy/n − x̄ȳ is ONE
  // rounded double frozen as DECIMAL(18,6); the three matvec +
  // renormalize rounds then run entirely on the 4096-row matrix and
  // the 64-row vector (domain-bounded, engine-replayable as chained
  // CTEs). v₀ = 1/8 exactly (= 1/√64, an exact decimal). Rayleigh
  // quotient vᵀ(Cv)/vᵀv reported as the eigenvalue estimate. Sign
  // is pinned by the all-positive start; assignments and rounding
  // make every digit engine-independent.
  // ------------------------------------------------------------------
  private val mlPcaPower: QFn = (s, dir) => {
    val pts = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"),
        round(col("v").cast("double"), 6).cast(DecimalType(18, 6)).as("vd"))
      .localCheckpoint(true)
    val nRows = t(s, dir, "embeddings").agg(count(lit(1)).as("n"))
    val means = pts.groupBy("dim")
      .agg(sum(col("vd")).as("sv"))
      .crossJoin(broadcast(nRows))
      .select(col("dim"),
        round(col("sv").cast("double") / col("n"), 6)
          .cast(DecimalType(18, 6)).as("mu"))
    val a = pts.select(col("vec_id"), col("dim").as("i"), col("vd").as("vi"))
    val b = pts.select(col("vec_id"), col("dim").as("j"), col("vd").as("vj"))
    val cov = a.join(b, "vec_id")
      .groupBy("i", "j").agg(sum(col("vi") * col("vj")).as("sij"))
      .crossJoin(broadcast(nRows))
      .join(broadcast(means.select(col("dim").as("i"), col("mu").as("mi"))),
        "i")
      .join(broadcast(means.select(col("dim").as("j"), col("mu").as("mj"))),
        "j")
      .select(col("i"), col("j"),
        round(col("sij").cast("double") / col("n") -
          col("mi").cast("double") * col("mj").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("c"))
      .localCheckpoint(true)
    var v = means.select(col("dim"),
      lit(0.125).cast(DecimalType(18, 6)).as("vv"))
    def matvec(vc: DataFrame): DataFrame =
      cov.join(broadcast(vc.select(col("dim").as("j"), col("vv"))), "j")
        .groupBy(col("i").as("dim")).agg(sum(col("c") * col("vv")).as("w"))
        .select(col("dim"), round(col("w").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("w_r"))
    (1 to 3).foreach { _ =>
      val w = matvec(v)
      val w6 = col("w_r").cast(DecimalType(12, 6))
      val nrm = w.agg(round(sqrt(sum(w6 * w6).cast("double")), 6)
        .cast(DecimalType(18, 6)).as("nrm"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("dim"),
          round(col("w_r").cast("double") / col("nrm").cast("double"), 6)
            .cast(DecimalType(18, 6)).as("vv"))
      v = v.localCheckpoint(true)
    }
    val u = matvec(v)
    val ray = v.join(u, "dim")
      .agg(sum(col("vv").cast(DecimalType(12, 6)) *
          col("w_r").cast(DecimalType(12, 6))).as("vu"),
        sum(col("vv").cast(DecimalType(12, 6)) *
          col("vv").cast(DecimalType(12, 6))).as("vv2"))
      .select(round(col("vu").cast("double") / col("vv2").cast("double"), 6)
        .as("lambda_r"))
    v.crossJoin(broadcast(ray))
      .select(col("dim"),
        col("vv").cast("string").cast("double").as("v_r"), col("lambda_r"))
      .orderBy("dim")
  }
  private val mlPcaPowerSql = {
    def matvec(vCte: String, n: Int) =
      s"""w$n AS (SELECT cv.i AS dim,
         |    CAST(round(CAST(CAST(SUM(cv.c * $vCte.vv) AS VARCHAR)
         |      AS DOUBLE), 6) AS DECIMAL(18,6)) AS w_r
         |  FROM cov cv JOIN $vCte ON $vCte.dim = cv.j GROUP BY 1)""".stripMargin
    def renorm(n: Int) =
      s"""n$n AS (SELECT CAST(round(sqrt(CAST(CAST(SUM(
         |      CAST(w_r AS DECIMAL(12,6)) * CAST(w_r AS DECIMAL(12,6)))
         |      AS VARCHAR) AS DOUBLE)), 6) AS DECIMAL(18,6)) AS nrm
         |  FROM w$n),
         |v$n AS (SELECT dim, CAST(round(CAST(CAST(w_r AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(nrm AS VARCHAR) AS DOUBLE), 6) AS DECIMAL(18,6))
         |    AS vv
         |  FROM w$n CROSS JOIN n$n)""".stripMargin
    s"""WITH pts AS (SELECT vec_id, r.i AS dim,
       |    CAST(round(CAST(embedding[r.i + 1] AS DOUBLE), 6)
       |      AS DECIMAL(18,6)) AS vd
       |  FROM embeddings CROSS JOIN range(0, 64) r(i)),
       |nr AS (SELECT COUNT(*) AS n FROM embeddings),
       |mn AS (SELECT dim, CAST(round(CAST(CAST(SUM(vd) AS VARCHAR)
       |      AS DOUBLE) / n, 6) AS DECIMAL(18,6)) AS mu
       |  FROM pts CROSS JOIN nr GROUP BY dim, n),
       |cov AS (SELECT a.dim AS i, b.dim AS j,
       |    CAST(round(CAST(CAST(SUM(a.vd * b.vd) AS VARCHAR) AS DOUBLE)
       |        / nr.n
       |      - CAST(CAST(mi.mu AS VARCHAR) AS DOUBLE)
       |        * CAST(CAST(mj.mu AS VARCHAR) AS DOUBLE), 6)
       |      AS DECIMAL(18,6)) AS c
       |  FROM pts a JOIN pts b USING (vec_id) CROSS JOIN nr
       |  JOIN mn mi ON mi.dim = a.dim JOIN mn mj ON mj.dim = b.dim
       |  GROUP BY a.dim, b.dim, nr.n, mi.mu, mj.mu),
       |v0 AS (SELECT dim, CAST(0.125 AS DECIMAL(18,6)) AS vv FROM mn),
       |${matvec("v0", 1)},
       |${renorm(1)},
       |${matvec("v1", 2)},
       |${renorm(2)},
       |${matvec("v2", 3)},
       |${renorm(3)},
       |${matvec("v3", 4)},
       |ray AS (SELECT round(
       |    CAST(CAST(SUM(CAST(v3.vv AS DECIMAL(12,6))
       |        * CAST(w4.w_r AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE)
       |    / CAST(CAST(SUM(CAST(v3.vv AS DECIMAL(12,6))
       |        * CAST(v3.vv AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE), 6)
       |    AS lambda_r
       |  FROM v3 JOIN w4 USING (dim))
       |SELECT v3.dim, CAST(CAST(v3.vv AS VARCHAR) AS DOUBLE) AS v_r,
       |  ray.lambda_r
       |FROM v3 CROSS JOIN ray ORDER BY v3.dim""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "a33_theil_sen" -> a33TheilSen,
    "a34_bh_fdr" -> a34BhFdr,
    "ml_pca_power" -> mlPcaPower)

  val oracleSql: Map[String, String] = Map(
    "a33_theil_sen" -> a33TheilSenSql,
    "a34_bh_fdr" -> a34BhFdrSql,
    "ml_pca_power" -> mlPcaPowerSql)
}

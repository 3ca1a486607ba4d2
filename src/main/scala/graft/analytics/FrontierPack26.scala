package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

// Contents (one object per original pack, APIs unchanged):
//   Frontier26Queries: sql_recursive_cte, s27_skew_report, t_langid_eval
//   Frontier27Queries: ml_roc_auc, t_embedding_outliers, q43_price_index
//   Frontier28Queries: d_dedup_savings, t_pmi_pairs, ev_hourly_profile
//   Frontier29Queries: i25_accumulating_snapshot, t_bpe_merges, w32_seasonal_indices
//   Frontier30Queries: a51_power_analysis, x13_retention_sweep, j29_churn_anti_join

/** Round-5 widening, fourteenth pack: the recursive-CTE SQL front
  * door (Spark 4's WITH RECURSIVE — hierarchy walks expressed in
  * pure SQL, the last big ANSI surface the engine gained), a salting
  * skew report (bucket-occupancy numbers that QUANTIFY why a skewed
  * join key needs salting — the scale story stated as data), and
  * language-ID evaluation against the labeled corpus (the heuristic
  * classifier scored like any model: confusion counts + per-class
  * accuracy).
  *
  * House determinism rules: exact integer arithmetic throughout;
  * doubles are single rounded expressions; total ORDER BYs.
  */
object Frontier26Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // sql_recursive_cte — WITH RECURSIVE through spark.sql(...): the
  // supplier keys induce a synthetic decimal-trie hierarchy
  // (parent = key div 10 — e.g. 4217 → 421 → 42 → 4, a determinate
  // forest with max depth ⌈log₁₀(max key)⌉), and the recursion walks
  // every root-to-node chain, accumulating depth. The aggregate per
  // depth (node count + key checksum) pins the whole closure. This
  // is the operator a warehouse uses for org charts and BOM
  // explosions; Spark executes it as UnionLoop with per-step reuse —
  // each iteration shuffles only the frontier, so a shallow wide
  // hierarchy (the common case) costs depth × frontier scans.
  // DuckDB runs the IDENTICAL text.
  // ------------------------------------------------------------------
  private val sqlRecursiveCte: QFn = (s, dir) => {
    Tables.registerAll(s, dir)
    s.sql(
      """WITH RECURSIVE walk AS (
        |  SELECT s_suppkey AS node, 0 AS depth
        |  FROM supplier WHERE s_suppkey < 10
        |  UNION ALL
        |  SELECT sup.s_suppkey, w.depth + 1
        |  FROM supplier sup JOIN walk w
        |    ON sup.s_suppkey >= 10 AND sup.s_suppkey div 10 = w.node
        |)
        |SELECT depth, COUNT(*) AS n_nodes,
        |  CAST(SUM(node) AS BIGINT) AS key_checksum
        |FROM walk GROUP BY depth ORDER BY depth""".stripMargin)
  }
  private val sqlRecursiveCteSql =
    """WITH RECURSIVE walk AS (
      |  SELECT s_suppkey AS node, 0 AS depth
      |  FROM supplier WHERE s_suppkey < 10
      |  UNION ALL
      |  SELECT sup.s_suppkey, w.depth + 1
      |  FROM supplier sup JOIN walk w
      |    ON sup.s_suppkey >= 10 AND sup.s_suppkey // 10 = w.node
      |)
      |SELECT depth, COUNT(*) AS n_nodes,
      |  CAST(SUM(node) AS BIGINT) AS key_checksum
      |FROM walk GROUP BY depth ORDER BY depth""".stripMargin

  // ------------------------------------------------------------------
  // s27_skew_report — why salting: bucket the lineitem stream by the
  // md5-bucket of a 3-valued key (l_returnflag — the classic
  // low-cardinality join key) into 32 "reducers", then re-bucket the
  // SALTED key (flag ⊕ md5(orderkey,linenumber) % 8). The report
  // states occupancy, the largest bucket, and the max/ideal skew
  // factor for both strategies — the number that explains a straggler
  // task to anyone. All bucketing is engine-portable md5 arithmetic
  // (NOT the engine's internal hash), so the oracle reproduces it
  // bit-for-bit; the real join would shuffle exactly these volumes.
  // ------------------------------------------------------------------
  private val s27SkewReport: QFn = (s, dir) => {
    def b(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long") % 32
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
      .localCheckpoint(true)
    val plain = li.select(b(col("l_returnflag")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("occupied"), max(col("n")).as("mx"),
        sum(col("n")).as("total"))
      .select(lit("plain").as("strategy"), col("occupied"),
        col("mx").cast("long").as("largest_bucket"),
        col("total").cast("long").as("total_rows"),
        round(col("mx").cast("double") /
          (col("total").cast("double") / 32.0), 6).as("skew_factor_r"))
    val salted = li.select(b(concat(col("l_returnflag"), lit("#"),
        (conv(substring(md5(concat(col("l_orderkey").cast("string"),
          lit(":"), col("l_linenumber").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 8).cast("string"))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("occupied"), max(col("n")).as("mx"),
        sum(col("n")).as("total"))
      .select(lit("salted").as("strategy"), col("occupied"),
        col("mx").cast("long").as("largest_bucket"),
        col("total").cast("long").as("total_rows"),
        round(col("mx").cast("double") /
          (col("total").cast("double") / 32.0), 6).as("skew_factor_r"))
    plain.unionByName(salted).orderBy("strategy")
  }
  private val s27SkewReportSql =
    """WITH li AS (SELECT l_returnflag, l_orderkey, l_linenumber
      |  FROM lineitem),
      |p AS (SELECT CAST(('0x' || substring(md5(l_returnflag), 1, 8))
      |      AS BIGINT) % 32 AS bucket
      |  FROM li),
      |pa AS (SELECT COUNT(*) AS occupied, MAX(n) AS mx, SUM(n) AS total
      |  FROM (SELECT bucket, COUNT(*) AS n FROM p GROUP BY 1)),
      |sk AS (SELECT CAST(('0x' || substring(md5(l_returnflag || '#'
      |      || CAST(CAST(('0x' || substring(md5(
      |        CAST(l_orderkey AS VARCHAR) || ':'
      |        || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) % 8
      |        AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS bucket
      |  FROM li),
      |sa AS (SELECT COUNT(*) AS occupied, MAX(n) AS mx, SUM(n) AS total
      |  FROM (SELECT bucket, COUNT(*) AS n FROM sk GROUP BY 1))
      |SELECT strategy, occupied,
      |  CAST(mx AS BIGINT) AS largest_bucket,
      |  CAST(total AS BIGINT) AS total_rows,
      |  round(CAST(mx AS DOUBLE) / (CAST(total AS DOUBLE) / 32.0), 6)
      |    AS skew_factor_r
      |FROM (SELECT 'plain' AS strategy, * FROM pa
      |      UNION ALL SELECT 'salted', * FROM sa)
      |ORDER BY strategy""".stripMargin

  // ------------------------------------------------------------------
  // t_langid_eval — the language-ID heuristic scored against the
  // corpus's ground-truth lang labels: full confusion counts
  // (true lang × predicted lang) plus per-class accuracy — the
  // honest way to ship a heuristic classifier (t_lang_id emits its
  // predictions; THIS entry says how often they're right, per
  // class). One scan, one groupBy on the (truth, prediction) pair;
  // the per-class accuracy joins on the tiny label axis.
  // ------------------------------------------------------------------
  private val tLangidEval: QFn = (s, dir) => {
    val scored = t(s, dir, "documents")
      .select(col("lang"), TF.langId(TF.normText(col("text"))).as("pred"))
    val conf = scored.groupBy("lang", "pred")
      .agg(count(lit(1)).as("n"))
    val per = conf.groupBy("lang")
      .agg(sum(col("n")).as("nt"),
        sum(when(col("lang") === col("pred"), col("n"))
          .otherwise(lit(0L))).as("nc"))
    conf.join(per, "lang")
      .select(col("lang"), col("pred"), col("n").cast("long").as("n"),
        round(col("nc").cast("double") / col("nt").cast("double"), 6)
          .as("class_accuracy_r"))
      .orderBy("lang", "pred")
  }
  private val tLangidEvalSql = {
    val pred = TF.langIdSql(TF.normTextSql("text"))
    s"""WITH sc AS (SELECT lang, $pred AS pred FROM documents),
       |conf AS (SELECT lang, pred, COUNT(*) AS n FROM sc GROUP BY 1, 2),
       |per AS (SELECT lang, SUM(n) AS nt,
       |    SUM(CASE WHEN lang = pred THEN n ELSE 0 END) AS nc
       |  FROM conf GROUP BY 1)
       |SELECT conf.lang, conf.pred, CAST(conf.n AS BIGINT) AS n,
       |  round(CAST(per.nc AS DOUBLE) / CAST(per.nt AS DOUBLE), 6)
       |    AS class_accuracy_r
       |FROM conf JOIN per ON per.lang = conf.lang
       |ORDER BY conf.lang, conf.pred""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "sql_recursive_cte" -> sqlRecursiveCte,
    "s27_skew_report" -> s27SkewReport,
    "t_langid_eval" -> tLangidEval)

  val oracleSql: Map[String, String] = Map(
    "sql_recursive_cte" -> sqlRecursiveCteSql,
    "s27_skew_report" -> s27SkewReportSql,
    "t_langid_eval" -> tLangidEvalSql)
}

/** Round-5 widening, fifteenth pack: exact ROC-AUC via the
  * Mann–Whitney rank identity (the threshold-free score every
  * classifier comparison uses — computed from midranks, no curve
  * integration), embedding-space outlier detection (distance-to-
  * centroid — the curation pass that catches mis-embedded or
  * off-distribution documents), and the Laspeyres price index
  * (base-period-weighted price level per month — the index-number
  * economics of "did prices rise, holding the basket fixed").
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier27Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // ml_roc_auc — exact AUC for the prior-spend score against the
  // future-buyer label, through the Mann–Whitney identity
  // AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) where R⁺ sums the positives'
  // MIDRANKS (ties share the average rank — the exact tie-corrected
  // AUC, not an approximation). Midranks come from the two-phase
  // operators/Midrank (per-value tie counts + range-partitioned
  // prefix sum + join-back — NO global window, so the customer axis
  // never funnels through one task): rank r with t ties has midrank
  // r + (t−1)/2, an exact half-integer in DECIMAL. Emits AUC plus the
  // Gini coefficient 2·AUC−1 the credit-scoring world quotes.
  // ------------------------------------------------------------------
  private val mlRocAuc: QFn = (s, dir) => {
    val cust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(when(year(col("o_orderdate")) < 1998,
          col("o_totalprice").cast(DecimalType(18, 4)))).as("score"),
        max(when(year(col("o_orderdate")) >= 1998, 1L).otherwise(0L))
          .as("y"))
      .filter(col("score").isNotNull)
    val ranked = graft.operators.Midrank.attach(cust, col("score"), "mr")
      .select(col("y"), col("mr"))
    val agg = ranked.agg(
      sum(when(col("y") === 1, col("mr"))).as("rpos"),
      sum(col("y")).as("np"),
      sum(lit(1L) - col("y")).as("nn"))
    // one-class data has no ranking problem: report the 0.5 coin-flip
    // convention with both counts visible so the caller sees why
    agg.select(col("np").cast("long").as("n_pos"),
        col("nn").cast("long").as("n_neg"),
        when(col("np") === 0 || col("nn") === 0, lit(0.5))
          .otherwise(round((col("rpos").cast("double") -
            col("np").cast("double") * (col("np").cast("double") + 1)
              / 2) /
            (col("np").cast("double") * col("nn").cast("double")), 6))
          .as("auc_r"))
      .select(col("n_pos"), col("n_neg"), col("auc_r"),
        round(lit(2.0) * col("auc_r") - 1.0, 6).as("gini_r"))
  }
  private val mlRocAucSql =
    """WITH cust AS (SELECT o_custkey,
      |    SUM(CASE WHEN year(o_orderdate) < 1998
      |      THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS score,
      |    MAX(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END)
      |      AS y
      |  FROM orders GROUP BY 1),
      |c2 AS (SELECT * FROM cust WHERE score IS NOT NULL),
      |rk AS (SELECT y,
      |    CAST(rank() OVER (ORDER BY score) AS DECIMAL(18,1))
      |      + (CAST(COUNT(*) OVER (PARTITION BY score)
      |          AS DECIMAL(18,1)) - 1) / 2 AS mr
      |  FROM c2),
      |agg AS (SELECT SUM(CASE WHEN y = 1 THEN mr END) AS rpos,
      |    SUM(y) AS np, SUM(1 - y) AS nn
      |  FROM rk)
      |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
      |  CASE WHEN np = 0 OR nn = 0 THEN 0.5
      |    ELSE round((CAST(rpos AS DOUBLE)
      |      - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1) / 2)
      |    / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6) END AS auc_r,
      |  round(2.0 * (CASE WHEN np = 0 OR nn = 0 THEN 0.5
      |    ELSE round((CAST(rpos AS DOUBLE)
      |      - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1) / 2)
      |    / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6) END) - 1.0, 6)
      |    AS gini_r
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // t_embedding_outliers — centroid-distance outlier scoring over
  // the embedding table: the corpus centroid is the exact per-dim
  // decimal mean (one rounded double per dim, frozen — the KMeans
  // update step with k=1), each vector's squared distance to it is
  // an exact decimal sum, and the 10 farthest vectors surface via
  // the two-phase rankTopK. Off-distribution embeddings are what a
  // curation pass quarantines before they poison ANN recall or
  // k-means cells. One dim-keyed aggregate + one dim-keyed join —
  // embarrassingly parallel on the vector axis.
  // ------------------------------------------------------------------
  private val tEmbeddingOutliers: QFn = (s, dir) => {
    val pts = graft.ml.KMeans.pointsLong(t(s, dir, "embeddings"))
      .localCheckpoint(true)
    val centroid = pts.groupBy("dim")
      .agg(round(sum(col("vd")).cast("double") / count(lit(1)), 6)
        .cast(DecimalType(18, 6)).as("cd"))
    val d2 = pts.join(broadcast(centroid), "dim")
      .select(col("vec_id"),
        ((col("vd") - col("cd")) * (col("vd") - col("cd")))
          .cast(DecimalType(38, 12)).as("sq"))
      .groupBy("vec_id").agg(sum(col("sq")).as("d2"))
    val scored = d2.select(col("vec_id"),
      round(sqrt(col("d2").cast("double")), 6).as("dist_r"))
    graft.operators.TopK.rankTopK(scored, 10,
        Seq(col("dist_r").desc, col("vec_id").asc), "rnk")
      .select(col("rnk"), col("vec_id"), col("dist_r"))
      .orderBy("rnk", "vec_id")
  }
  private val tEmbeddingOutliersSql =
    """WITH pts AS (SELECT vec_id, dim - 1 AS dim,
      |    CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)) AS vd
      |  FROM (SELECT vec_id, unnest(embedding) AS v,
      |      generate_subscripts(embedding, 1) AS dim
      |    FROM embeddings)),
      |cen AS (SELECT dim,
      |    CAST(round(CAST(SUM(vd) AS DOUBLE) / COUNT(*), 6)
      |      AS DECIMAL(18,6)) AS cd
      |  FROM pts GROUP BY 1),
      |d2 AS (SELECT p.vec_id,
      |    SUM(CAST((p.vd - cen.cd) * (p.vd - cen.cd) AS DECIMAL(38,12)))
      |      AS d2
      |  FROM pts p JOIN cen ON cen.dim = p.dim GROUP BY 1),
      |sc AS (SELECT vec_id,
      |    round(sqrt(CAST(d2 AS DOUBLE)), 6) AS dist_r
      |  FROM d2),
      |rk AS (SELECT CAST(rank() OVER (ORDER BY dist_r DESC, vec_id)
      |      AS INT) AS rnk, vec_id, dist_r
      |  FROM sc)
      |SELECT rnk, vec_id, dist_r FROM rk WHERE rnk <= 10
      |ORDER BY rnk, vec_id""".stripMargin

  // ------------------------------------------------------------------
  // q43_price_index — monthly Laspeyres price index over the part
  // basket: base-period (first month) quantities fix the basket,
  // per-month average unit prices (exact decimal Σprice/Σqty — ONE
  // rounded double frozen per (part, month)) price it, and the index
  // is Σ p_t·q₀ / Σ p₀·q₀ × 100. Parts missing a month drop from
  // both sums that month (matched-sample Laspeyres — the standard
  // practical fix). Everything joins on the part key; month count is
  // bounded, so the index table is data-scale-invariant.
  // ------------------------------------------------------------------
  private val q43PriceIndex: QFn = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("pk"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mon"),
        col("l_extendedprice").cast(DecimalType(18, 4)).as("ep"),
        col("l_quantity").cast(DecimalType(18, 4)).as("q"))
    val pm = li.groupBy("pk", "mon")
      .agg(round(sum(col("ep")).cast("double") /
          sum(col("q")).cast("double"), 6)
        .cast(DecimalType(18, 6)).as("unit_p"),
        sum(col("q")).as("qty"))
      .localCheckpoint(true)
    val m0 = pm.agg(min(col("mon")).as("mon0"))
    val base = pm.join(broadcast(m0), col("mon") === col("mon0"))
      .select(col("pk"), col("unit_p").as("p0"), col("qty").as("q0"))
    val joined = pm.join(broadcast(base), "pk")
      .select(col("mon"),
        (col("unit_p") * col("q0")).cast(DecimalType(38, 10)).as("ptq0"),
        (col("p0") * col("q0")).cast(DecimalType(38, 10)).as("p0q0"))
      .groupBy("mon")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("ptq0")).as("num"), sum(col("p0q0")).as("den"))
    joined.select(col("mon"), col("n_parts"),
        round(col("num").cast("double") / col("den").cast("double")
          * 100.0, 4).as("laspeyres_r"))
      .orderBy("mon")
  }
  private val q43PriceIndexSql =
    """WITH li AS (SELECT l_partkey AS pk,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS mon,
      |    CAST(l_extendedprice AS DECIMAL(18,4)) AS ep,
      |    CAST(l_quantity AS DECIMAL(18,4)) AS q
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |pm AS (SELECT pk, mon,
      |    CAST(round(CAST(SUM(ep) AS DOUBLE) / CAST(SUM(q) AS DOUBLE),
      |      6) AS DECIMAL(18,6)) AS unit_p,
      |    SUM(q) AS qty
      |  FROM li GROUP BY 1, 2),
      |m0 AS (SELECT MIN(mon) AS mon0 FROM pm),
      |base AS (SELECT pk, unit_p AS p0, qty AS q0
      |  FROM pm, m0 WHERE mon = mon0),
      |j AS (SELECT pm.mon,
      |    CAST(pm.unit_p * base.q0 AS DECIMAL(38,10)) AS ptq0,
      |    CAST(base.p0 * base.q0 AS DECIMAL(38,10)) AS p0q0
      |  FROM pm JOIN base ON base.pk = pm.pk)
      |SELECT mon, COUNT(*) AS n_parts,
      |  round(CAST(SUM(ptq0) AS DOUBLE) / CAST(SUM(p0q0) AS DOUBLE)
      |    * 100.0, 4) AS laspeyres_r
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ml_roc_auc" -> mlRocAuc,
    "t_embedding_outliers" -> tEmbeddingOutliers,
    "q43_price_index" -> q43PriceIndex)

  val oracleSql: Map[String, String] = Map(
    "ml_roc_auc" -> mlRocAucSql,
    "t_embedding_outliers" -> tEmbeddingOutliersSql,
    "q43_price_index" -> q43PriceIndexSql)
}

/** Round-5 widening, sixteenth pack: the dedup savings report (what
  * exact dedup actually buys in documents and bytes — the number
  * that justifies the pipeline stage), PMI word associations
  * (pointwise mutual information over co-occurrence windows — the
  * classic distributional-semantics signal), and the hour-of-day
  * activity profile (the traffic-shape panel capacity planning and
  * anomaly baselines both start from).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier28Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // d_dedup_savings — the business case for exact dedup, per source:
  // documents whose normalized-text sha256 collides keep ONE
  // canonical survivor (lowest doc_id — the d_exact_dedup /
  // d_survivorship convention) and the report counts removed docs
  // and removed characters, with corpus-wide totals on the 'ALL'
  // row. One hash-groupBy (the dedup shuffle itself) + one
  // source-keyed rollup — the report is a free by-product of the
  // dedup pass, which is exactly how a production pipeline should
  // emit it.
  // ------------------------------------------------------------------
  private val dDedupSavings: QFn = (s, dir) => {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"),
        sha2(TF.normText(col("text")), 256).as("h"))
    val ranked = docs
      .withColumn("keeper",
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("h")))
    val marked = ranked.select(col("source"), col("n_chars"),
      (col("doc_id") === col("keeper")).as("kept"))
    val per = marked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(!col("kept"), col("n_chars")).otherwise(lit(0L)))
          .as("chars_removed"))
    val tot = marked.agg(count(lit(1)).as("n_docs"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(!col("kept"), col("n_chars")).otherwise(lit(0L)))
          .as("chars_removed"))
      .select(lit("ALL").as("source"), col("n_docs"), col("n_removed"),
        col("chars_removed"))
    per.unionByName(tot)
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("n_removed").cast("long").as("n_removed"),
        col("chars_removed").cast("long").as("chars_removed"),
        round(col("n_removed").cast("double") /
          col("n_docs").cast("double"), 6).as("removal_rate_r"))
      .orderBy("source")
  }
  private val dDedupSavingsSql = {
    val norm = TF.normTextSql("text")
    s"""WITH d AS (SELECT doc_id, source, n_chars,
       |    sha256($norm) AS h
       |  FROM documents),
       |k AS (SELECT source, n_chars,
       |    doc_id = MIN(doc_id) OVER (PARTITION BY h) AS kept
       |  FROM d),
       |per AS (SELECT source, COUNT(*) AS n_docs,
       |    SUM(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS n_removed,
       |    SUM(CASE WHEN NOT kept THEN n_chars ELSE 0 END)
       |      AS chars_removed
       |  FROM k GROUP BY 1),
       |tot AS (SELECT 'ALL' AS source, COUNT(*) AS n_docs,
       |    SUM(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS n_removed,
       |    SUM(CASE WHEN NOT kept THEN n_chars ELSE 0 END)
       |      AS chars_removed
       |  FROM k),
       |u AS (SELECT * FROM per UNION ALL SELECT * FROM tot)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_removed AS BIGINT) AS n_removed,
       |  CAST(chars_removed AS BIGINT) AS chars_removed,
       |  round(CAST(n_removed AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
       |    AS removal_rate_r
       |FROM u ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------------
  // t_pmi_pairs — pointwise mutual information over adjacent-token
  // co-occurrence: PMI(a,b) = ln(N·c(a,b) / (c(a)·c(b))) for the
  // UNORDERED adjacent pair (a<b canonicalizes), restricted to pairs
  // seen ≥5 times (the standard low-count cutoff — PMI explodes on
  // rare pairs). Counts shuffle on token/pair keys only; the top-10
  // associations surface via the two-phase rankTopK. High-PMI pairs
  // are collocations ("machine learning"); they feed tokenizer merge
  // rules and phrase-aware dedup alike.
  // ------------------------------------------------------------------
  private val tPmiPairs: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(TF.normText(col("text")), " "))
          .as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
      .localCheckpoint(true)
    val wNext = Window.partitionBy("doc_id").orderBy("pos")
    val pairs = toks
      .withColumn("w2", lead(col("w"), 1).over(wNext))
      .filter(col("w2").isNotNull)
      .select(least(col("w"), col("w2")).as("a"),
        greatest(col("w"), col("w2")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= 5)
    val uni = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val n = toks.count()
    val scored = pairs
      .join(uni.select(col("w").as("a"), col("c").as("ca")), "a")
      .join(uni.select(col("w").as("b"), col("c").as("cb")), "b")
      .select(col("a"), col("b"), col("cab"),
        round(log(lit(n.toDouble) * col("cab").cast("double") /
          (col("ca").cast("double") * col("cb").cast("double"))), 6)
          .as("pmi_r"))
    graft.operators.TopK.rankTopK(scored, 10,
        Seq(col("pmi_r").desc, col("a").asc, col("b").asc), "rnk")
      .select(col("rnk"), col("a"), col("b"), col("cab"), col("pmi_r"))
      .orderBy("rnk", "a", "b")
  }
  private val tPmiPairsSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w0 AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS w,
       |    generate_subscripts(string_split($norm, ' '), 1) AS pos
       |  FROM documents),
       |tk AS (SELECT doc_id, pos, w FROM w0 WHERE length(w) > 0),
       |pr AS (SELECT least(w, w2) AS a, greatest(w, w2) AS b,
       |    COUNT(*) AS cab
       |  FROM (SELECT doc_id, w,
       |      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |    FROM tk)
       |  WHERE w2 IS NOT NULL GROUP BY 1, 2 HAVING COUNT(*) >= 5),
       |uni AS (SELECT w, COUNT(*) AS c FROM tk GROUP BY 1),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tk),
       |sc AS (SELECT pr.a, pr.b, pr.cab,
       |    round(ln(nn.n * CAST(pr.cab AS DOUBLE)
       |      / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 6)
       |      AS pmi_r
       |  FROM pr JOIN uni ua ON ua.w = pr.a
       |  JOIN uni ub ON ub.w = pr.b CROSS JOIN nn),
       |rk AS (SELECT CAST(rank() OVER (ORDER BY pmi_r DESC, a, b)
       |      AS INT) AS rnk, a, b, cab, pmi_r
       |  FROM sc)
       |SELECT rnk, a, b, cab, pmi_r FROM rk WHERE rnk <= 10
       |ORDER BY rnk, a, b""".stripMargin
  }

  // ------------------------------------------------------------------
  // ev_hourly_profile — the hour-of-day traffic shape: per hour
  // 0–23, event counts, share of daily volume, a peak-hour flag, and
  // the peak-to-trough ratio carried on every row (constant columns
  // make the row self-describing for dashboard export). One scan,
  // one 24-row aggregate; min/max ride along via a window over the
  // bounded hour axis.
  // ------------------------------------------------------------------
  private val evHourlyProfile: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hours = t(s, dir, "events")
      .select(hour(expr("timestamp_micros(ts div 1000)")).cast("long")
        .as("hr"))
      .groupBy("hr").agg(count(lit(1)).as("n"))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    hours
      .withColumn("tot", sum(col("n")).over(w))
      .withColumn("mx", max(col("n")).over(w))
      .withColumn("mn", min(col("n")).over(w))
      .select(col("hr"), col("n").cast("long").as("n_events"),
        round(col("n").cast("double") / col("tot").cast("double"), 6)
          .as("share_r"),
        (col("n") === col("mx")).as("peak_hour"),
        round(col("mx").cast("double") / col("mn").cast("double"), 6)
          .as("peak_trough_r"))
      .orderBy("hr")
  }
  private val evHourlyProfileSql =
    """WITH h AS (SELECT CAST(hour(ts) AS BIGINT) AS hr, COUNT(*) AS n
      |  FROM events GROUP BY 1),
      |x AS (SELECT hr, n, SUM(n) OVER () AS tot, MAX(n) OVER () AS mx,
      |    MIN(n) OVER () AS mn
      |  FROM h)
      |SELECT hr, CAST(n AS BIGINT) AS n_events,
      |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share_r,
      |  n = mx AS peak_hour,
      |  round(CAST(mx AS DOUBLE) / CAST(mn AS DOUBLE), 6)
      |    AS peak_trough_r
      |FROM x ORDER BY hr""".stripMargin

  val queries: Map[String, QFn] = Map(
    "d_dedup_savings" -> dDedupSavings,
    "t_pmi_pairs" -> tPmiPairs,
    "ev_hourly_profile" -> evHourlyProfile)

  val oracleSql: Map[String, String] = Map(
    "d_dedup_savings" -> dDedupSavingsSql,
    "t_pmi_pairs" -> tPmiPairsSql,
    "ev_hourly_profile" -> evHourlyProfileSql)
}

/** Round-5 widening, seventeenth pack: the accumulating-snapshot
  * fact table (Kimball's fourth fact type — one row per process
  * instance whose milestone columns fill in as the order moves;
  * completes the transaction/periodic/factless coverage), BPE merge
  * rounds (the byte-pair-encoding inner loop every tokenizer
  * training runs — vocabulary-weighted pair counting, argmax merge,
  * re-count), and classical ratio-to-moving-average seasonal
  * indices (the multiplicative seasonality table a forecaster
  * divides out before trending).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier29Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // i25_accumulating_snapshot — the order-fulfillment accumulating
  // snapshot: each order is one process instance whose milestones
  // (placed → first ship → final ship) come from the order header
  // and a line-item rollup; the lag columns (days to first/final
  // ship) are the process-efficiency measures the pattern exists
  // for. Reported at the month × status grain (bounded) with exact
  // counts and decimal-frozen mean lags. The milestone rollup is ONE
  // groupBy on the order key — at scale this fact refreshes by
  // re-aggregating only orders whose lines changed (the watermark
  // framework the etl package already provides).
  // ------------------------------------------------------------------
  private val i25AccumulatingSnapshot: QFn = (s, dir) => {
    val ship = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(min(to_date(col("l_shipdate"))).as("first_ship"),
        max(to_date(col("l_shipdate"))).as("final_ship"),
        count(lit(1)).as("n_lines"))
    val fact = t(s, dir, "orders")
      .join(ship, col("o_orderkey") === col("l_orderkey"), "left")
      .select(
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mon"),
        col("o_orderstatus").as("status"),
        col("n_lines"),
        datediff(col("first_ship"), to_date(col("o_orderdate")))
          .cast("long").as("to_first"),
        datediff(col("final_ship"), to_date(col("o_orderdate")))
          .cast("long").as("to_final"))
    fact.groupBy("mon", "status")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("n_lines").isNull, 1L).otherwise(0L))
          .cast("long").as("n_unshipped"),
        coalesce(sum(col("to_first")), lit(0L)).cast("long")
          .as("sum_to_first"),
        coalesce(sum(col("to_final")), lit(0L)).cast("long")
          .as("sum_to_final"),
        count(col("to_first")).as("n_shipped"))
      .select(col("mon"), col("status"), col("n_orders"),
        col("n_unshipped"),
        when(col("n_shipped") === 0, lit(0.0))
          .otherwise(round(col("sum_to_first").cast("double") /
            col("n_shipped").cast("double"), 6))
          .as("mean_days_to_first_r"),
        when(col("n_shipped") === 0, lit(0.0))
          .otherwise(round(col("sum_to_final").cast("double") /
            col("n_shipped").cast("double"), 6))
          .as("mean_days_to_final_r"))
      .orderBy("mon", "status")
  }
  private val i25AccumulatingSnapshotSql =
    """WITH ship AS (SELECT l_orderkey,
      |    MIN(CAST(l_shipdate AS DATE)) AS first_ship,
      |    MAX(CAST(l_shipdate AS DATE)) AS final_ship,
      |    COUNT(*) AS n_lines
      |  FROM lineitem GROUP BY 1),
      |fact AS (SELECT
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS mon,
      |    o_orderstatus AS status, ship.n_lines,
      |    date_diff('day', CAST(o_orderdate AS DATE), ship.first_ship)
      |      AS to_first,
      |    date_diff('day', CAST(o_orderdate AS DATE), ship.final_ship)
      |      AS to_final
      |  FROM orders LEFT JOIN ship ON l_orderkey = o_orderkey)
      |SELECT mon, status, COUNT(*) AS n_orders,
      |  CAST(SUM(CASE WHEN n_lines IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_unshipped,
      |  CASE WHEN COUNT(to_first) = 0 THEN 0.0
      |    ELSE round(CAST(SUM(to_first) AS DOUBLE)
      |      / CAST(COUNT(to_first) AS DOUBLE), 6) END
      |    AS mean_days_to_first_r,
      |  CASE WHEN COUNT(to_final) = 0 THEN 0.0
      |    ELSE round(CAST(SUM(to_final) AS DOUBLE)
      |      / CAST(COUNT(to_final) AS DOUBLE), 6) END
      |    AS mean_days_to_final_r
      |FROM fact GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // t_bpe_merges — three byte-pair-encoding merge rounds on the
  // corpus vocabulary: words reduce to (distinct word, frequency)
  // first (the standard BPE-on-vocab formulation — Heaps' law keeps
  // the vocab sublinear), each word spells as space-separated
  // symbols, adjacent symbol pairs count weighted by word frequency,
  // the argmax pair (ties: lexicographic — both engines agree)
  // merges via plain all-occurrence replace, and the next round
  // re-counts. Emits (round, merged pair, its count) — the literal
  // merge table a tokenizer trainer writes. Pair counting shuffles
  // on the symbol-pair key; the merge itself is a projection. The
  // space-joined replace can in principle cross a symbol boundary
  // once merged symbols share suffixes ("a ab" matching inside
  // "aa ab"); the spec proves 3 rounds on this corpus match a
  // proper boundary-aware BPE trainer exactly — deeper merge tables
  // would switch the projection to a split-then-scan merge.
  // ------------------------------------------------------------------
  private val tBpeMerges: QFn = (s, dir) => {
    val vocab = t(s, dir, "documents")
      .select(explode(split(TF.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      // spell as space-separated characters; keep w as the stable
      // row identity (merged syms could in principle collide)
      .select(col("w"), array_join(split(col("w"), ""), " ").as("sym"),
        col("f"))
      .localCheckpoint(true)
    def topPair(v: DataFrame): DataFrame = {
      val pairs = v
        .select(col("w"), col("f"), posexplode(split(col("sym"), " "))
          .as(Seq("i", "a")))
        .withColumn("b", lead(col("a"), 1).over(
          Window.partitionBy("w").orderBy("i")))
        .filter(col("b").isNotNull)
      // the lead() partitions on the distinct-word identity, so every
      // word type contributes its own pair stream, weighted by f
      pairs.groupBy("a", "b")
        .agg(sum(col("f")).as("cnt"))
        .withColumn("rk", row_number().over(Window.orderBy(
          col("cnt").desc, col("a").asc, col("b").asc)))
        .filter(col("rk") === 1)
        .select(col("a"), col("b"), col("cnt").cast("long").as("cnt"))
    }
    def mergeRound(v: DataFrame, top: DataFrame): DataFrame =
      v.crossJoin(broadcast(top))
        .select(col("w"),
          expr("replace(sym, a || ' ' || b, a || b)").as("sym"),
          col("f"))
    val t1 = topPair(vocab).localCheckpoint(true)
    val v2 = mergeRound(vocab, t1).localCheckpoint(true)
    val t2 = topPair(v2).localCheckpoint(true)
    val v3 = mergeRound(v2, t2).localCheckpoint(true)
    val t3 = topPair(v3)
    t1.select(lit(1).as("round"), concat(col("a"), lit("+"), col("b"))
        .as("pair"), col("cnt"))
      .unionByName(t2.select(lit(2).as("round"),
        concat(col("a"), lit("+"), col("b")).as("pair"), col("cnt")))
      .unionByName(t3.select(lit(3).as("round"),
        concat(col("a"), lit("+"), col("b")).as("pair"), col("cnt")))
      .orderBy("round")
  }
  private val tBpeMergesSql = {
    val norm = TF.normTextSql("text")
    def top(v: String, n: Int): String =
      s"""p$n AS (SELECT a, b, SUM(f) AS cnt FROM (
         |  SELECT f, s AS a,
         |      lead(s) OVER (PARTITION BY w ORDER BY i) AS b
         |  FROM (SELECT w, f, unnest(string_split(sym, ' ')) AS s,
         |      generate_subscripts(string_split(sym, ' '), 1) AS i
         |    FROM $v))
         |  WHERE b IS NOT NULL GROUP BY 1, 2),
         |t$n AS (SELECT a, b, CAST(cnt AS BIGINT) AS cnt FROM p$n
         |  QUALIFY row_number() OVER (ORDER BY cnt DESC, a, b) = 1)"""
        .stripMargin
    s"""WITH w0 AS (SELECT unnest(string_split($norm, ' ')) AS w
       |  FROM documents),
       |vocab0 AS (SELECT w, COUNT(*) AS f FROM w0
       |  WHERE length(w) > 0 GROUP BY 1),
       |v1 AS (SELECT w,
       |    array_to_string(string_split_regex(w, ''), ' ') AS sym, f
       |  FROM vocab0),
       |${top("v1", 1)},
       |v2 AS (SELECT v1.w, replace(v1.sym, t1.a || ' ' || t1.b,
       |    t1.a || t1.b) AS sym, v1.f
       |  FROM v1 CROSS JOIN t1),
       |${top("v2", 2)},
       |v3 AS (SELECT v2.w, replace(v2.sym, t2.a || ' ' || t2.b,
       |    t2.a || t2.b) AS sym, v2.f
       |  FROM v2 CROSS JOIN t2),
       |${top("v3", 3)}
       |SELECT 1 AS round, a || '+' || b AS pair, cnt FROM t1
       |UNION ALL SELECT 2, a || '+' || b, cnt FROM t2
       |UNION ALL SELECT 3, a || '+' || b, cnt FROM t3
       |ORDER BY round""".stripMargin
  }

  // ------------------------------------------------------------------
  // t_bpe_trained — corpus-trained BPE END TO END: train a 48-rule
  // merge table from the even-doc_id half of the corpus
  // (textops/BpeTrainer: per round, one distributed pair count over the
  // vocab + a 1-row argmax collect + a boundary-aware positional array
  // merge), feed the trained table into the codegen greedy encoder
  // (functions/BpeSegmentWith), and tokenize the HELD-OUT odd half.
  // This proves the vocab-build → encode loop, not just encode:
  // t_bpe_merges trains 3 rounds for the table's own sake, and
  // t_bpe_tokenize applies a committed table. The DuckDB oracle replays
  // BOTH halves — 48 unrolled train rounds (argmax with the same
  // (cnt DESC, a, b) tie-break and a ≠ b restriction, positional list
  // merge, LEFT JOIN so an exhausted round is a no-op exactly like the
  // trainer's early stop) and then the recursive-CTE greedy encode over
  // the held-out vocab, parameterized by the TRAINED rules instead of
  // the committed table. Output pins exact segmentations via the same
  // md5 seg_sig as t_bpe_tokenize.
  // ------------------------------------------------------------------
  private val bpeTrainRounds = 48
  private val tBpeTrained: QFn = (s, dir) => {
    val docsAll = t(s, dir, "documents")
    val rules = graft.textops.BpeTrainer.train(
      docsAll.filter(col("doc_id") % 2 === 0), "text", bpeTrainRounds)
    val words = docsAll.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"),
        explode(split(TF.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
    words
      .withColumn("seg",
        graft.functions.BpeSegmentWith.bpe_segment_with(col("w"), rules))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
           sum(size(split(col("seg"), " ")).cast("long")).as("n_bpe_tokens"),
           sum(pmod(graft.textops.Dedup.md5Hash64(col("seg")),
             lit(1000000007L))).as("seg_sig"))
      .orderBy("doc_id")
  }
  private def tBpeTrainedSql: String = {
    val norm = TF.normTextSql("text")
    // one unrolled training round: pair counts (a <> b) → argmax with
    // the trainer's exact tie-break → positional all-occurrence merge;
    // LEFT JOIN ON TRUE keeps v unchanged when no pair remains (the
    // trainer's early stop)
    // every per-round CTE is MATERIALIZED: DuckDB would otherwise
    // INLINE the v1→v48 chain at each of its references (each t$n pulls
    // the whole prefix), blowing the plan up exponentially — the
    // un-hinted form exhausted 20k file descriptors before planning
    def round(n: Int): String =
      s"""p$n AS MATERIALIZED (SELECT a, b, SUM(f) AS cnt FROM (
         |    SELECT f, tk[i] AS a, tk[i+1] AS b
         |    FROM (SELECT f, tk, unnest(range(1, len(tk))) AS i FROM v$n))
         |  WHERE a <> b GROUP BY 1, 2),
         |t$n AS MATERIALIZED (SELECT a, b FROM p$n
         |  QUALIFY row_number() OVER (ORDER BY cnt DESC, a, b) = 1),
         |v${n + 1} AS MATERIALIZED (SELECT v.w,
         |    CASE WHEN t.a IS NULL THEN v.tk
         |      ELSE list_filter(list_transform(range(1, len(v.tk) + 1), i ->
         |        CASE WHEN i < len(v.tk) AND v.tk[i] = t.a AND v.tk[i+1] = t.b
         |               THEN v.tk[i] || v.tk[i+1]
         |             WHEN i > 1 AND v.tk[i-1] = t.a AND v.tk[i] = t.b
         |               THEN NULL
         |             ELSE v.tk[i] END), x -> x IS NOT NULL)
         |    END AS tk, v.f
         |  FROM v$n v LEFT JOIN t$n t ON TRUE)""".stripMargin
    val rounds = (1 to bpeTrainRounds).map(round).mkString(",\n")
    val mergesUnion = (1 to bpeTrainRounds)
      .map(n => s"SELECT a, b, $n AS rnk FROM t$n").mkString("\nUNION ALL ")
    def h64(x: String) = {
      val hi = s"CAST(('0x' || substring(md5($x), 1, 8)) AS BIGINT)"
      val lo = s"CAST(('0x' || substring(md5($x), 9, 8)) AS BIGINT)"
      s"(($hi - (CASE WHEN $hi >= 2147483648 THEN 4294967296 ELSE 0 END))" +
        s" * 4294967296 + $lo)"
    }
    val segH = s"(((${h64("seg")} % 1000000007) + 1000000007) % 1000000007)"
    s"""WITH RECURSIVE
       |tw AS (SELECT unnest(string_split($norm, ' ')) AS w
       |  FROM documents WHERE doc_id % 2 = 0),
       |vocab0 AS MATERIALIZED (SELECT w, COUNT(*) AS f FROM tw
       |  WHERE length(w) > 0 GROUP BY 1),
       |v1 AS MATERIALIZED (SELECT w,
       |    list_transform(range(1, length(w) + 1), i -> w[i]) AS tk, f
       |  FROM vocab0),
       |$rounds,
       |merges(a, b, rnk) AS MATERIALIZED ($mergesUnion),
       |hw AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS w
       |  FROM documents WHERE doc_id % 2 = 1),
       |hww AS MATERIALIZED (SELECT doc_id, w FROM hw WHERE length(w) > 0),
       |hvocab AS (SELECT DISTINCT w FROM hww),
       |enc(w, toks) AS (
       |  SELECT w, list_transform(range(1, length(w) + 1), i -> w[i])
       |  FROM hvocab
       |  UNION ALL
       |  SELECT e.w, list_filter(list_transform(range(1, len(e.toks) + 1), i ->
       |      CASE WHEN i < len(e.toks) AND e.toks[i] = m.a AND e.toks[i+1] = m.b
       |             THEN e.toks[i] || e.toks[i+1]
       |           WHEN i > 1 AND e.toks[i-1] = m.a AND e.toks[i] = m.b THEN NULL
       |           ELSE e.toks[i] END), x -> x IS NOT NULL)
       |  FROM enc e JOIN merges m ON m.rnk = (
       |    SELECT MIN(m2.rnk) FROM merges m2
       |    WHERE list_contains(
       |      list_transform(range(1, len(e.toks)),
       |        i -> e.toks[i] || '|' || e.toks[i+1]),
       |      m2.a || '|' || m2.b))),
       |fin AS (SELECT w, array_to_string(toks, ' ') AS seg,
       |    CAST(len(toks) AS BIGINT) AS np FROM enc e
       |  WHERE NOT EXISTS (SELECT 1 FROM merges m2
       |    WHERE list_contains(list_transform(range(1, len(e.toks)),
       |      i -> e.toks[i] || '|' || e.toks[i+1]), m2.a || '|' || m2.b)))
       |SELECT doc_id, COUNT(*) AS n_words,
       |CAST(SUM(np) AS BIGINT) AS n_bpe_tokens,
       |CAST(SUM($segH) AS BIGINT) AS seg_sig
       |FROM hww JOIN fin USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // w32_seasonal_indices — classical multiplicative seasonal indices
  // for monthly revenue: each month's ratio to its CENTERED 12-month
  // moving average (the 2×12 MA — halves on the end months, the
  // textbook centering), averaged per calendar month and normalized
  // so the twelve indices mean to 1. Ratios and averages are ONE
  // rounded double each frozen as DECIMAL; the series is the
  // data-scale-invariant monthly aggregate, and the centered MA is
  // a 13-row window frame on it.
  // ------------------------------------------------------------------
  private val w32SeasonalIndices: QFn = (s, dir) => {
    val m = t(s, dir, "orders")
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("mon"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).as("rev"))
    // calendar-bounded series (one row per month of data — dozens of
    // rows at ANY data scale), so the unpartitioned frame is safe
    val w = Window.orderBy("mon").rowsBetween(-6, 6)
    // 2x12 centered MA: mean of the 13-window with half-weight ends =
    // (sum(13) - (first+last)/2) / 12; needs a full 13-month frame
    val ma = m
      .withColumn("s13", sum(col("rev")).over(w))
      .withColumn("n13", count(lit(1)).over(w))
      .withColumn("lo", first(col("rev")).over(w))
      .withColumn("hi", last(col("rev")).over(w))
      .filter(col("n13") === 13)
      .select(col("mon"), col("rev"),
        round((col("s13") - (col("lo") + col("hi")) / 2).cast("double")
          / 12.0, 6).cast(DecimalType(18, 6)).as("cma"))
    val ratios = ma.select((col("mon") % 12).as("cal_mon"),
      round(col("rev").cast("double") / col("cma").cast("double"), 6)
        .cast(DecimalType(18, 6)).as("ratio"))
    val per = ratios.groupBy("cal_mon")
      .agg(count(lit(1)).as("n_years"),
        round(sum(col("ratio")).cast("double") / count(lit(1)), 6)
          .cast(DecimalType(18, 6)).as("raw_idx"))
    val tot = per.agg(sum(col("raw_idx")).as("si"),
      count(lit(1)).as("k"))
    per.crossJoin(broadcast(tot))
      .select(col("cal_mon"), col("n_years"),
        round(col("raw_idx").cast("double") * col("k").cast("double") /
          col("si").cast("double"), 6).as("seasonal_index_r"))
      .orderBy("cal_mon")
  }
  private val w32SeasonalIndicesSql =
    """WITH m AS (SELECT
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS mon,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      |  FROM orders GROUP BY 1),
      |ma AS (SELECT mon, rev,
      |    CAST(round(CAST(s13 - (lo + hi) / 2 AS DOUBLE) / 12.0, 6)
      |      AS DECIMAL(18,6)) AS cma
      |  FROM (SELECT mon, rev,
      |      SUM(rev) OVER wf AS s13, COUNT(*) OVER wf AS n13,
      |      first_value(rev) OVER wf AS lo,
      |      last_value(rev) OVER wf AS hi
      |    FROM m
      |    WINDOW wf AS (ORDER BY mon
      |      ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING))
      |  WHERE n13 = 13),
      |ratios AS (SELECT mon % 12 AS cal_mon,
      |    CAST(round(CAST(rev AS DOUBLE) / CAST(cma AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS ratio
      |  FROM ma),
      |per AS (SELECT cal_mon, COUNT(*) AS n_years,
      |    CAST(round(CAST(SUM(ratio) AS DOUBLE) / COUNT(*), 6)
      |      AS DECIMAL(18,6)) AS raw_idx
      |  FROM ratios GROUP BY 1),
      |tot AS (SELECT SUM(raw_idx) AS si, COUNT(*) AS k FROM per)
      |SELECT cal_mon, n_years,
      |  round(CAST(raw_idx AS DOUBLE) * CAST(k AS DOUBLE)
      |    / CAST(si AS DOUBLE), 6) AS seasonal_index_r
      |FROM per CROSS JOIN tot
      |ORDER BY cal_mon""".stripMargin

  val queries: Map[String, QFn] = Map(
    "i25_accumulating_snapshot" -> i25AccumulatingSnapshot,
    "t_bpe_merges" -> tBpeMerges,
    "t_bpe_trained" -> tBpeTrained,
    "w32_seasonal_indices" -> w32SeasonalIndices)

  val oracleSql: Map[String, String] = Map(
    "i25_accumulating_snapshot" -> i25AccumulatingSnapshotSql,
    "t_bpe_merges" -> tBpeMergesSql,
    "t_bpe_trained" -> tBpeTrainedSql,
    "w32_seasonal_indices" -> w32SeasonalIndicesSql)
}

/** Round-5 widening, eighteenth pack: experiment power analysis (the
  * sample-size sizing every A/B platform answers before launch —
  * closes the experimentation toolkit next to the SRM and
  * randomization-test entries), a data-retention policy sweep (rows
  * and bytes eligible for deletion under per-segment retention
  * clocks — the governance plan a DPO signs off), and the churn
  * anti-join (orders with NO follow-up within the window — the
  * temporal NOT EXISTS that feeds churn models).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier30Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // a51_power_analysis — two-sample sizing at 80% power / 5% α
  // (normal approximation: n per arm = (z_{α/2}+z_β)²·2σ²/δ² ≈
  // 15.698·σ²/δ²) for detecting a 2% lift in mean order price, per
  // market segment: σ² from exact decimal sufficient statistics
  // (n, Σx, Σx²), δ = 0.02·mean, both ONE rounded double each. Also
  // reports the detectable effect at the CURRENT sample size (the
  // inverse question — "what lift could this month's traffic even
  // see?"). One aggregation per segment; the z-constants are
  // literals, so both engines evaluate the identical closed form.
  // ------------------------------------------------------------------
  private val a51PowerAnalysis: QFn = (s, dir) => {
    val st = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).as("sx"),
        sum((col("o_totalprice").cast(DecimalType(18, 4)) *
          col("o_totalprice").cast(DecimalType(18, 4)))
          .cast(DecimalType(38, 8))).as("sxx"))
    val n = col("n").cast("double")
    val mean = col("sx").cast("double") / n
    val variance = (col("sxx").cast("double") - mean * mean * n) / (n - 1)
    // (1.959964 + 0.841621)^2 * 2 = 15.697674
    val kappa = lit(15.697674)
    st.select(col("c_mktsegment"), col("n"),
        round(mean, 4).as("mean_r"),
        round(sqrt(variance), 4).as("sd_r"),
        round(kappa * variance / ((mean * 0.02) * (mean * 0.02)), 2)
          .as("n_per_arm_for_2pct_r"),
        // detectable relative effect with current n split into 2 arms:
        // delta = sqrt(kappa * variance / (n/2)) / mean
        round(sqrt(kappa * variance / (n / 2)) / mean, 6)
          .as("mde_at_current_n_r"))
      .orderBy("c_mktsegment")
  }
  private val a51PowerAnalysisSql =
    """WITH st AS (SELECT c_mktsegment, COUNT(*) AS n,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS sx,
      |    SUM(CAST(CAST(o_totalprice AS DECIMAL(28,4))
      |      * CAST(o_totalprice AS DECIMAL(18,4)) AS DECIMAL(38,8)))
      |      AS sxx
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1),
      |d AS (SELECT c_mktsegment, n, CAST(n AS DOUBLE) AS nd,
      |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
      |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd
      |  FROM st)
      |SELECT c_mktsegment, n,
      |  round(sxd / nd, 4) AS mean_r,
      |  round(sqrt((sxxd - (sxd / nd) * (sxd / nd) * nd) / (nd - 1)), 4)
      |    AS sd_r,
      |  round(15.697674 * ((sxxd - (sxd / nd) * (sxd / nd) * nd)
      |      / (nd - 1))
      |    / (((sxd / nd) * 0.02) * ((sxd / nd) * 0.02)), 2)
      |    AS n_per_arm_for_2pct_r,
      |  round(sqrt(15.697674 * ((sxxd - (sxd / nd) * (sxd / nd) * nd)
      |      / (nd - 1)) / (nd / 2)) / (sxd / nd), 6)
      |    AS mde_at_current_n_r
      |FROM d ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------------
  // x13_retention_sweep — retention-policy deletion plan: each
  // market segment carries a policy clock (a literal policy map —
  // 3/4/5/6/7 years), the "now" anchor is the corpus max order date
  // (deterministic — no wall clock in the plan), and the sweep
  // reports rows and revenue-bytes eligible for purge per segment
  // plus the earliest surviving date. The eligibility predicate is a
  // pure comparison against the broadcast policy row — the scan
  // stays one pass, and at 100 TB the same predicate drives
  // partition-level deletes (months entirely past the clock drop by
  // manifest, no row scan).
  // ------------------------------------------------------------------
  private val x13RetentionSweep: QFn = (s, dir) => {
    val policy = Seq(("AUTOMOBILE", 3), ("BUILDING", 4), ("FURNITURE", 5),
      ("HOUSEHOLD", 6), ("MACHINERY", 7))
    val pol = policy.map(p => s"WHEN '${p._1}' THEN ${p._2}")
      .mkString("CASE c_mktsegment ", " ", " ELSE 10 END")
    val o = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), to_date(col("o_orderdate")).as("d"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("tp"))
    val anchor = o.agg(max(col("d")).as("now"))
    o.crossJoin(broadcast(anchor))
      .withColumn("keep_years", expr(pol))
      .withColumn("eligible",
        col("d") < add_months(col("now"), lit(-12) * col("keep_years")))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("eligible"), 1L).otherwise(0L)).cast("long")
          .as("n_purgeable"),
        sum(when(col("eligible"), col("tp"))).cast("string")
          .as("purgeable_revenue"),
        min(when(!col("eligible"), col("d"))).cast("string")
          .as("earliest_kept"))
      .select(col("c_mktsegment"), col("n_rows"), col("n_purgeable"),
        coalesce(col("purgeable_revenue"), lit("0.0000"))
          .as("purgeable_revenue"),
        col("earliest_kept"),
        round(col("n_purgeable").cast("double") /
          col("n_rows").cast("double"), 6).as("purge_rate_r"))
      .orderBy("c_mktsegment")
  }
  private val x13RetentionSweepSql =
    """WITH o AS (SELECT c_mktsegment, CAST(o_orderdate AS DATE) AS d,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS tp
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |a AS (SELECT MAX(d) AS now FROM o),
      |e AS (SELECT o.*, CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 3
      |    WHEN 'BUILDING' THEN 4 WHEN 'FURNITURE' THEN 5
      |    WHEN 'HOUSEHOLD' THEN 6 WHEN 'MACHINERY' THEN 7
      |    ELSE 10 END AS keep_years,
      |    a.now FROM o CROSS JOIN a),
      |f AS (SELECT c_mktsegment, d, tp,
      |    d < now - to_months(CAST(12 * keep_years AS INT)) AS eligible
      |  FROM e)
      |SELECT c_mktsegment, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN eligible THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_purgeable,
      |  COALESCE(CAST(SUM(CASE WHEN eligible THEN tp END) AS VARCHAR),
      |    '0.0000') AS purgeable_revenue,
      |  CAST(MIN(CASE WHEN NOT eligible THEN d END) AS VARCHAR)
      |    AS earliest_kept,
      |  round(CAST(SUM(CASE WHEN eligible THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS purge_rate_r
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // j29_churn_anti_join — temporal NOT EXISTS: an order is a "churn
  // point" when the same customer places NO further order within 90
  // days (and it isn't the dangling end of the observation window —
  // orders within 90 days of the corpus edge are censored out, the
  // survival-analysis discipline ev_survival_km already applies).
  // One lead() per customer partition answers the NOT EXISTS without
  // any join at all — the plan every temporal anti-join should
  // compile to. Reported monthly with churn rate among measurable
  // orders.
  // ------------------------------------------------------------------
  private val j29ChurnAntiJoin: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"))
    val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    val anchor = o.agg(max(col("d")).as("edge"))
    val marked = o
      .withColumn("nxt", lead(col("d"), 1).over(w))
      .crossJoin(broadcast(anchor))
      .withColumn("censored", datediff(col("edge"), col("d")) < 90)
      .withColumn("churn",
        !col("censored") &&
        (col("nxt").isNull || datediff(col("nxt"), col("d")) > 90))
    marked
      .groupBy((year(col("d")) * 12 + month(col("d"))).cast("long")
        .as("mon"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("censored"), 1L).otherwise(0L)).cast("long")
          .as("n_censored"),
        sum(when(col("churn"), 1L).otherwise(0L)).cast("long")
          .as("n_churn_points"))
      .select(col("mon"), col("n_orders"), col("n_censored"),
        col("n_churn_points"),
        when(col("n_orders") - col("n_censored") === 0, lit(0.0))
          .otherwise(round(col("n_churn_points").cast("double") /
            (col("n_orders") - col("n_censored")).cast("double"), 6))
          .as("churn_rate_r"))
      .orderBy("mon")
  }
  private val j29ChurnAntiJoinSql =
    """WITH o AS (SELECT o_custkey, o_orderkey,
      |    CAST(o_orderdate AS DATE) AS d
      |  FROM orders),
      |a AS (SELECT MAX(d) AS edge FROM o),
      |m AS (SELECT o.d,
      |    date_diff('day', o.d, a.edge) < 90 AS censored,
      |    lead(o.d) OVER (PARTITION BY o.o_custkey
      |      ORDER BY o.d, o.o_orderkey) AS nxt
      |  FROM o CROSS JOIN a),
      |f AS (SELECT d, censored,
      |    NOT censored AND (nxt IS NULL
      |      OR date_diff('day', d, nxt) > 90) AS churn
      |  FROM m)
      |SELECT CAST(year(d) * 12 + month(d) AS BIGINT) AS mon,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_censored,
      |  CAST(SUM(CASE WHEN churn THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_churn_points,
      |  CASE WHEN COUNT(*) - SUM(CASE WHEN censored THEN 1 ELSE 0 END)
      |      = 0 THEN 0.0
      |    ELSE round(CAST(SUM(CASE WHEN churn THEN 1 ELSE 0 END)
      |        AS DOUBLE)
      |      / CAST(COUNT(*) - SUM(CASE WHEN censored THEN 1 ELSE 0 END)
      |        AS DOUBLE), 6) END AS churn_rate_r
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "a51_power_analysis" -> a51PowerAnalysis,
    "x13_retention_sweep" -> x13RetentionSweep,
    "j29_churn_anti_join" -> j29ChurnAntiJoin)

  val oracleSql: Map[String, String] = Map(
    "a51_power_analysis" -> a51PowerAnalysisSql,
    "x13_retention_sweep" -> x13RetentionSweepSql,
    "j29_churn_anti_join" -> j29ChurnAntiJoinSql)
}

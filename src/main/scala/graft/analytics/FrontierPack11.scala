package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

// Contents (one object per original pack, APIs unchanged):
//   Frontier11Queries: ml_cluster_quality, p_budget_waterfill, f_bitwise_pack
//   Frontier12Queries: ev_feature_snapshot, x9_integrity_checksum, ev_entropy_rate
//   Frontier13Queries: t_bleu_pairs, eval_pass_at_k, g_jaccard_neighbors
//   Frontier14Queries: eval_bradley_terry, w22_sax, d_substring_spans
//   Frontier15Queries: x10_l_diversity, dq_iqr_outliers, ml_gbt_stumps

/** Round-5 fifteenth-session widening: internal cluster validation
  * (Davies–Bouldin index over the k-means fit — "are these clusters
  * real?"), token-budget waterfilling (the fair-allocation step when
  * a training mix must cap every source to hit a global budget), and
  * the bitwise function surface (popcount/AND/OR/XOR folds — hash
  * diagnostics and bitmap bookkeeping).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs, windows
  * only over domain-bounded state, total ORDER BYs.
  */
object Frontier11Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // ml_cluster_quality — Davies–Bouldin validation of the k-means
  // fit (graft.ml.KMeans, the ml_kmeans_embed model): per cluster,
  // the mean point-to-centroid distance s_i (each point's distance
  // is ONE rounded double frozen as DECIMAL so the mean is exact);
  // between clusters, centroid separations d_ij from exact decimal
  // sums; then R_ij = (s_i + s_j)/d_ij and the index is the mean of
  // each cluster's worst R. Every post-assignment aggregate runs on
  // k- or k²-bounded state. DB < 1 ⇒ compact, well-separated
  // clusters; the entry reports per-cluster dispersion, worst
  // confusion partner, and the global index.
  // ------------------------------------------------------------------
  private val mlClusterQuality: QFn = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val pts = graft.ml.KMeans.pointsLong(emb).localCheckpoint(true)
    val cent = graft.ml.KMeans.fit(emb, pts, k = 8, iters = 3)
    val asg = graft.ml.KMeans.assign(pts, cent)
    val sI = asg
      .select(col("cid"), round(sqrt(col("d2").cast("double")), 6)
        .cast(DecimalType(18, 6)).as("dv"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("dv")).cast("double") / count(lit(1)), 6)
          .cast(DecimalType(18, 6)).as("s_i"))
    val ci = cent.select(col("cid").as("ci"), col("dim"),
      col("cd").as("cdi"))
    val cj = cent.select(col("cid").as("cj"), col("dim"),
      col("cd").as("cdj"))
    val sep = (col("cdi") - col("cdj")).cast(DecimalType(12, 6))
    val dij = ci.join(cj, "dim").filter(col("ci") =!= col("cj"))
      .withColumn("sq", sep * sep)
      .groupBy("ci", "cj").agg(sum(col("sq")).as("dd"))
      .select(col("ci"), col("cj"),
        round(sqrt(col("dd").cast("double")), 6).as("d_ij"))
    val rij = dij
      .join(broadcast(sI.select(col("cid").as("ci"), col("s_i"))), "ci")
      .join(broadcast(sI.select(col("cid").as("cj"),
        col("s_i").as("s_j"))), "cj")
      .select(col("ci"), col("cj"),
        round((col("s_i") + col("s_j")).cast("double") / col("d_ij"), 6)
          .as("r_ij"))
    val worst = rij
      .withColumn("rn", row_number().over(Window.partitionBy("ci")
        .orderBy(col("r_ij").desc, col("cj").asc)))
      .filter(col("rn") === 1)
      .select(col("ci").as("cid"), col("cj").as("worst_partner"),
        col("r_ij").cast(DecimalType(18, 6)).as("r_max"))
    val db = worst.agg(round(sum(col("r_max")).cast("double") /
      count(lit(1)), 6).as("db_index_r"))
    sI.join(worst, "cid").crossJoin(broadcast(db))
      .select(col("cid"), col("n_vecs"),
        col("s_i").cast("string").cast("double").as("s_r"),
        col("worst_partner"),
        col("r_max").cast("string").cast("double").as("r_max_r"),
        col("db_index_r"))
      .orderBy("cid")
  }
  private val mlClusterQualitySql =
    s"""WITH ${graft.ml.KMeans.sqlCtes(dim = 64, k = 8, iters = 3)},
       |si AS (SELECT cid, COUNT(*) AS n_vecs,
       |    CAST(round(CAST(CAST(SUM(CAST(round(sqrt(
       |      CAST(CAST(d2 AS VARCHAR) AS DOUBLE)), 6) AS DECIMAL(18,6)))
       |      AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(18,6)) AS s_i
       |  FROM a4 GROUP BY 1),
       |dij AS (SELECT a.cid AS ci, b.cid AS cj,
       |    round(sqrt(CAST(CAST(SUM(
       |      CAST(a.cd - b.cd AS DECIMAL(12,6))
       |      * CAST(a.cd - b.cd AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE)),
       |      6) AS d_ij
       |  FROM c3 a JOIN c3 b USING (dim)
       |  WHERE a.cid <> b.cid GROUP BY 1, 2),
       |rij AS (SELECT d.ci, d.cj,
       |    round(CAST(CAST(si1.s_i + si2.s_i AS VARCHAR) AS DOUBLE)
       |      / d.d_ij, 6) AS r_ij
       |  FROM dij d JOIN si si1 ON si1.cid = d.ci
       |  JOIN si si2 ON si2.cid = d.cj),
       |worst AS (SELECT ci AS cid, cj AS worst_partner,
       |    CAST(r_ij AS DECIMAL(18,6)) AS r_max
       |  FROM rij
       |  QUALIFY row_number() OVER (PARTITION BY ci
       |    ORDER BY r_ij DESC, cj) = 1),
       |db AS (SELECT round(CAST(CAST(SUM(r_max) AS VARCHAR) AS DOUBLE)
       |    / COUNT(*), 6) AS db_index_r FROM worst)
       |SELECT si.cid, CAST(si.n_vecs AS BIGINT) AS n_vecs,
       |  CAST(CAST(si.s_i AS VARCHAR) AS DOUBLE) AS s_r,
       |  worst.worst_partner,
       |  CAST(CAST(worst.r_max AS VARCHAR) AS DOUBLE) AS r_max_r,
       |  db.db_index_r
       |FROM si JOIN worst USING (cid) CROSS JOIN db
       |ORDER BY si.cid""".stripMargin

  // ------------------------------------------------------------------
  // p_budget_waterfill — fair token-budget allocation across sources
  // (waterfilling): given a global budget B (here half the corpus),
  // find the water level c with Σ min(tokens_i, c) = B and cap every
  // source at ⌊c⌋ — small sources keep everything, large sources are
  // equalized, exactly the cap rule used when rebalancing a training
  // mix under a token budget. The corpus pass is one per-source
  // token sum; the level solve is a prefix-sum scan over the
  // SOURCE-bounded table (the k-th row where
  // prefix(k) + (n−k)·t_k ≥ B pins the level in closed form — no
  // iteration). Allocations are exact BIGINTs.
  // ------------------------------------------------------------------
  private val pBudgetWaterfill: QFn = (s, dir) => {
    val toks = t(s, dir, "documents")
      .groupBy("source")
      .agg(sum(TF.wsTokenCount(col("text")).cast("long")).as("tk"))
    val tot = toks.agg(floor(sum(col("tk")) / 2).cast("long").as("b"))
    val w = Window.orderBy(col("tk").asc, col("source").asc)
    val wAll = Window.partitionBy(lit(0))
    val ranked = toks.crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(w))
      .withColumn("prefix", sum(col("tk")).over(w
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
    val kstar = ranked
      .withColumn("feasible",
        col("prefix") + (col("n") - col("rn")) * col("tk") >= col("b"))
      .withColumn("kstar",
        min(when(col("feasible"), col("rn"))).over(wAll))
    val level = kstar.filter(col("rn") === col("kstar"))
      .select(round((col("b") - (col("prefix") - col("tk")))
        .cast("double") / (col("n") - col("rn") + 1).cast("double"), 6)
        .as("level_r"))
    kstar.crossJoin(broadcast(level))
      .select(col("source"), col("tk").as("tokens"),
        least(col("tk"), floor(col("level_r")).cast("long")).as("alloc"),
        col("level_r"))
      .orderBy("source")
  }
  private val pBudgetWaterfillSql = {
    val tk = TF.wsTokenCountSql("text")
    s"""WITH toks AS (SELECT source,
       |    CAST(SUM(CAST($tk AS BIGINT)) AS BIGINT) AS tk
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(floor(SUM(tk) / 2) AS BIGINT) AS b FROM toks),
       |ranked AS (SELECT source, tk, b,
       |    CAST(row_number() OVER (ORDER BY tk, source) AS BIGINT) AS rn,
       |    SUM(tk) OVER (ORDER BY tk, source) AS prefix,
       |    COUNT(*) OVER () AS n
       |  FROM toks CROSS JOIN tot),
       |ks AS (SELECT *,
       |    MIN(CASE WHEN prefix + (n - rn) * tk >= b THEN rn END)
       |      OVER () AS kstar
       |  FROM ranked),
       |lvl AS (SELECT round(CAST(b - (prefix - tk) AS DOUBLE)
       |      / CAST(n - rn + 1 AS DOUBLE), 6) AS level_r
       |  FROM ks WHERE rn = kstar)
       |SELECT ks.source, ks.tk AS tokens,
       |  least(ks.tk, CAST(floor(lvl.level_r) AS BIGINT)) AS alloc,
       |  lvl.level_r
       |FROM ks CROSS JOIN lvl
       |ORDER BY ks.source""".stripMargin
  }

  // ------------------------------------------------------------------
  // f_bitwise_pack — the bitwise function surface, folded per order
  // status: popcount totals, AND/OR/XOR aggregate folds over the
  // low key byte, and a masked-shift checksum. All exact integer
  // arithmetic (the XOR fold is order-insensitive — a distributed
  // aggregate by construction); completes the scalar-function
  // inventory next to the string/date/math/hash packs.
  // ------------------------------------------------------------------
  private val fBitwisePack: QFn = (s, dir) => {
    val o = t(s, dir, "orders").select(col("o_orderstatus").as("st"),
      col("o_orderkey").as("k"))
    o.groupBy("st")
      .agg(count(lit(1)).as("n"),
        sum(bit_count(col("k"))).cast("long").as("pop_total"),
        expr("bit_xor(k)").cast("long").as("xor_fold"),
        expr("bit_and(k & 255)").cast("long").as("and_low"),
        expr("bit_or(k & 255)").cast("long").as("or_low"),
        sum(shiftleft(col("k").bitwiseAND(65535), 3)).cast("long")
          .as("shift_sum"))
      .orderBy("st")
  }
  private val fBitwisePackSql =
    """SELECT o_orderstatus AS st, COUNT(*) AS n,
      |  CAST(SUM(bit_count(o_orderkey)) AS BIGINT) AS pop_total,
      |  CAST(bit_xor(o_orderkey) AS BIGINT) AS xor_fold,
      |  CAST(bit_and(o_orderkey & 255) AS BIGINT) AS and_low,
      |  CAST(bit_or(o_orderkey & 255) AS BIGINT) AS or_low,
      |  CAST(SUM((o_orderkey & 65535) << 3) AS BIGINT) AS shift_sum
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ml_cluster_quality" -> mlClusterQuality,
    "p_budget_waterfill" -> pBudgetWaterfill,
    "f_bitwise_pack" -> fBitwisePack)

  val oracleSql: Map[String, String] = Map(
    "ml_cluster_quality" -> mlClusterQualitySql,
    "p_budget_waterfill" -> pBudgetWaterfillSql,
    "f_bitwise_pack" -> fBitwisePackSql)
}

/** Round-5 sixteenth-session widening: leakage-free feature
  * extraction (point-in-time-correct training features — every
  * feature computed strictly BEFORE its label event, the discipline
  * that separates a valid training set from silent target leakage),
  * tamper-evident table checksums (order-insensitive content hashes
  * for replication/integrity audits), and per-user behavioral
  * entropy rate (how predictable is each user's event stream).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and
  * frozen as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier12Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // ev_feature_snapshot — point-in-time-correct features for every
  // purchase event: counts of the user's PRIOR clicks/views/errors
  // and the seconds since their previous purchase, all from windows
  // frame-bounded at [unbounded preceding, 1 preceding] — by
  // construction nothing at-or-after the label instant can leak into
  // its features, the property a feature store must guarantee before
  // its snapshots are usable for training. Every window partitions
  // on user_id (scales with the user axis); outputs one exact-
  // integer feature row per purchase, aggregated here to a compact
  // per-feature-histogram for the driver (the row-level frame is the
  // operator; the rollup keeps the output bounded).
  // ------------------------------------------------------------------
  private val evFeatureSnapshot: QFn = (s, dir) => {
    val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
      col("event_type"), expr("ts div 1000000000").as("sec"))
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wl = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val feat = e
      .withColumn("prior_clicks",
        coalesce(sum(when(col("event_type") === "click", 1L)).over(w),
          lit(0L)))
      .withColumn("prior_views",
        coalesce(sum(when(col("event_type") === "view", 1L)).over(w),
          lit(0L)))
      .withColumn("prior_errors",
        coalesce(sum(when(col("event_type") === "error", 1L)).over(w),
          lit(0L)))
      .withColumn("prev_purch_sec",
        last(when(col("event_type") === "purchase", col("sec")),
          ignoreNulls = true).over(
          wl.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("prior_clicks"), col("prior_views"),
        col("prior_errors"),
        (col("sec") - col("prev_purch_sec")).as("gap_s"))
    feat.groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("prior_clicks")).as("sum_prior_clicks"),
        sum(col("prior_views")).as("sum_prior_views"),
        sum(col("prior_errors")).as("sum_prior_errors"),
        coalesce(min(col("gap_s")), lit(-1L)).cast("long").as("min_gap_s"))
      .orderBy("user_id")
  }
  private val evFeatureSnapshotSql =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(ts) // 1000000 AS sec
      |  FROM events),
      |f AS (SELECT user_id, event_type, sec,
      |    COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END)
      |      OVER wp, 0) AS prior_clicks,
      |    COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END)
      |      OVER wp, 0) AS prior_views,
      |    COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END)
      |      OVER wp, 0) AS prior_errors,
      |    last_value(CASE WHEN event_type = 'purchase' THEN sec END
      |      IGNORE NULLS) OVER wp AS prev_purch_sec
      |  FROM e
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY sec, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |p AS (SELECT user_id, prior_clicks, prior_views, prior_errors,
      |    sec - prev_purch_sec AS gap_s
      |  FROM f WHERE event_type = 'purchase')
      |SELECT user_id, COUNT(*) AS n_purchases,
      |  CAST(SUM(prior_clicks) AS BIGINT) AS sum_prior_clicks,
      |  CAST(SUM(prior_views) AS BIGINT) AS sum_prior_views,
      |  CAST(SUM(prior_errors) AS BIGINT) AS sum_prior_errors,
      |  CAST(COALESCE(MIN(gap_s), -1) AS BIGINT) AS min_gap_s
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // x9_integrity_checksum — tamper-evident table fingerprints: each
  // row hashes (sha256 of its canonical string form, first 15 hex
  // digits as a BIGINT) and the table checksum is the SUM of row
  // hashes — an ORDER-INSENSITIVE fold, so any two replicas compute
  // the identical fingerprint regardless of partitioning, file
  // layout, or scan order, and a single flipped byte shifts the sum.
  // The per-table row count rides along (sum+count detects the
  // classic "delete one row, add another" pairing better than either
  // alone). One scan per table, combiner-friendly aggregation — the
  // replication-audit primitive at any scale.
  // ------------------------------------------------------------------
  private val x9IntegrityChecksum: QFn = (s, dir) => {
    def fp(name: String, keyCols: Seq[String]): DataFrame = {
      val h = conv(substring(sha2(concat_ws("|",
        keyCols.map(col): _*), 256), 1, 15), 16, 10).cast("long")
      t(s, dir, name).select(h.cast(DecimalType(20, 0)).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h")).cast(DecimalType(38, 0)).cast("string").as("content_sum"))
        .select(lit(name).as("tbl"), col("n_rows"), col("content_sum"))
    }
    fp("nation", Seq("n_nationkey", "n_name"))
      .unionByName(fp("region", Seq("r_regionkey", "r_name")))
      .unionByName(fp("customer", Seq("c_custkey", "c_name",
        "c_nationkey", "c_mktsegment")))
      .unionByName(fp("supplier", Seq("s_suppkey", "s_name",
        "s_nationkey")))
      .orderBy("tbl")
  }
  private val x9IntegrityChecksumSql = {
    def fp(name: String, cols: Seq[String]) = {
      val cc = cols.map(c => s"CAST($c AS VARCHAR)").mkString(" || '|' || ")
      s"""SELECT '$name' AS tbl, COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(CAST(('0x' || substring(sha256($cc), 1, 15))
         |    AS BIGINT) AS DECIMAL(20,0))) AS VARCHAR) AS content_sum
         |FROM $name""".stripMargin
    }
    s"""${fp("nation", Seq("n_nationkey", "n_name"))}
       |UNION ALL
       |${fp("region", Seq("r_regionkey", "r_name"))}
       |UNION ALL
       |${fp("customer", Seq("c_custkey", "c_name", "c_nationkey",
            "c_mktsegment"))}
       |UNION ALL
       |${fp("supplier", Seq("s_suppkey", "s_name", "s_nationkey"))}
       |ORDER BY tbl""".stripMargin
  }

  // ------------------------------------------------------------------
  // ev_entropy_rate — first-order behavioral entropy rate per user:
  // H = −Σ_{a,b} p(a)·p(b|a)·ln p(b|a) over the user's event-type
  // transition matrix (domain-bounded: ≤5×5 per user). Transition
  // counts come from one lead() over the user partition + a groupBy
  // on (user, a, b); each −p·ln p term is ONE rounded double frozen
  // as DECIMAL so the per-user sum is exact. Low entropy = scripted/
  // bot-like behavior, high = erratic — the feature behind the
  // bot-detection pack's predictability signal. Output: the entropy
  // distribution in 0.25-nat buckets (bounded), with per-bucket user
  // counts and the id checksum.
  // ------------------------------------------------------------------
  private val evEntropyRate: QFn = (s, dir) => {
    val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
      col("event_type"), expr("ts div 1000000000").as("sec"))
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val trans = e.withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("user_id"), col("event_type").as("a"),
        col("nxt").as("b"))
      .agg(count(lit(1)).as("nab"))
    val rowTot = trans.groupBy("user_id", "a").agg(sum("nab").as("na"))
    val tot = trans.groupBy("user_id").agg(sum("nab").as("nt"))
    val terms = trans.join(rowTot, Seq("user_id", "a"))
      .join(tot, "user_id")
      .select(col("user_id"),
        round((col("na").cast("double") / col("nt").cast("double")) *
          (col("nab").cast("double") / col("na").cast("double")) *
          negate(log(col("nab").cast("double") / col("na").cast("double"))),
          6).cast(DecimalType(18, 6)).as("term"))
    val perUser = terms.groupBy("user_id").agg(sum(col("term")).as("hd"))
      .select(col("user_id"),
        floor(col("hd").cast("double") / 0.25).cast("long").as("bucket"))
    perUser.groupBy("bucket")
      .agg(count(lit(1)).as("n_users"),
        sum(col("user_id")).cast("long").as("id_checksum"))
      .orderBy("bucket")
  }
  private val evEntropyRateSql =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(ts) // 1000000 AS sec
      |  FROM events),
      |tr AS (SELECT user_id, event_type AS a,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY sec, event_id) AS b
      |  FROM e),
      |trn AS (SELECT user_id, a, b, COUNT(*) AS nab FROM tr
      |        WHERE b IS NOT NULL GROUP BY 1, 2, 3),
      |rt AS (SELECT user_id, a, SUM(nab) AS na FROM trn GROUP BY 1, 2),
      |tt AS (SELECT user_id, SUM(nab) AS nt FROM trn GROUP BY 1),
      |terms AS (SELECT trn.user_id,
      |    CAST(round((CAST(rt.na AS DOUBLE) / CAST(tt.nt AS DOUBLE))
      |      * (CAST(trn.nab AS DOUBLE) / CAST(rt.na AS DOUBLE))
      |      * (-ln(CAST(trn.nab AS DOUBLE) / CAST(rt.na AS DOUBLE))), 6)
      |      AS DECIMAL(18,6)) AS term
      |  FROM trn JOIN rt ON rt.user_id = trn.user_id AND rt.a = trn.a
      |  JOIN tt ON tt.user_id = trn.user_id),
      |pu AS (SELECT user_id,
      |    CAST(floor(CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE) / 0.25)
      |      AS BIGINT) AS bucket
      |  FROM terms GROUP BY 1)
      |SELECT bucket, COUNT(*) AS n_users,
      |  CAST(SUM(user_id) AS BIGINT) AS id_checksum
      |FROM pu GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ev_feature_snapshot" -> evFeatureSnapshot,
    "x9_integrity_checksum" -> x9IntegrityChecksum,
    "ev_entropy_rate" -> evEntropyRate)

  val oracleSql: Map[String, String] = Map(
    "ev_feature_snapshot" -> evFeatureSnapshotSql,
    "x9_integrity_checksum" -> x9IntegrityChecksumSql,
    "ev_entropy_rate" -> evEntropyRateSql)
}

/** Round-5 widening: machine-translation-style BLEU pair scoring (the
  * precision-side complement to Frontier8's recall-oriented ROUGE),
  * the unbiased pass@k estimator every code/eval harness reports
  * (Chen et al. 2021 "Evaluating LLMs Trained on Code", eq. 1 —
  * public formula), and neighbor-set Jaccard link prediction (the
  * set-overlap complement to Frontier7's Adamic–Adar).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL(18,6) before any reordering sum, total ORDER BYs.
  */
object Frontier13Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // t_bleu_pairs — BLEU-2 (geometric mean of modified 1-gram and
  // 2-gram precision × brevity penalty) between same-language
  // (candidate=doc_id, reference=doc_id+1) pairs — the deterministic
  // join-derived pairing Frontier8 uses, so the two generation-eval
  // metrics grade the identical pair set. Clipped n-gram matches are
  // Σ min(count_cand, count_ref) via an inner join on (pair, gram):
  // everything shuffles on pair/gram keys only — the evaluation
  // scales to any corpus of (candidate, reference) pairs. Per-pair
  // BLEU is ONE rounded double — BP · sqrt(p1·p2), with
  // BP = exp(1 − len_ref/len_cand) when the candidate is shorter —
  // frozen as DECIMAL(18,6) so the per-language mean is an exact
  // decimal sum ÷ count. Pairs with zero 1-gram or 2-gram overlap
  // (or a 1-token candidate, which has no bigrams) score 0, exactly
  // as an un-smoothed corpus BLEU harness scores them.
  // ------------------------------------------------------------------
  private val tBleuPairs: QFn = (s, dir) => {
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
    def overlap(gc: DataFrame, name: String): DataFrame = pairs
      .join(gc.select(col("doc_id").as("pa"), col("gram"),
        col("c").as("ca")), "pa")
      .join(gc.select(col("doc_id").as("pb"), col("gram"),
        col("c").as("cb")), Seq("pb", "gram"))
      .groupBy("pa", "pb").agg(sum(least(col("ca"), col("cb"))).as(name))
    val g1 = grams(1).localCheckpoint(true)
    val g2 = grams(2).localCheckpoint(true)
    def lens(gc: DataFrame, name: String): DataFrame =
      gc.groupBy("doc_id").agg(sum("c").as(name))
    val scored = pairs
      .join(overlap(g1, "ov1"), Seq("pa", "pb"), "left")
      .join(overlap(g2, "ov2"), Seq("pa", "pb"), "left")
      .join(lens(g1, "la1").select(col("doc_id").as("pa"), col("la1")), "pa")
      .join(lens(g1, "lb1").select(col("doc_id").as("pb"), col("lb1")), "pb")
      .join(lens(g2, "la2").select(col("doc_id").as("pa"), col("la2")),
        Seq("pa"), "left")
      .select(col("lang"),
        coalesce(
          when(col("ov1") > 0 && col("ov2") > 0,
            round(
              when(col("la1") >= col("lb1"), lit(1.0))
                .otherwise(exp(lit(1.0) -
                  col("lb1").cast("double") / col("la1").cast("double"))) *
              sqrt((col("ov1").cast("double") / col("la1").cast("double")) *
                   (col("ov2").cast("double") / col("la2").cast("double"))),
              6)),
          lit(0.0)).cast(DecimalType(18, 6)).as("bleu"))
    scored.groupBy("lang")
      .agg(count(lit(1)).as("n_pairs"), sum(col("bleu")).as("sb"))
      .select(col("lang"), col("n_pairs"),
        round(col("sb").cast("double") / col("n_pairs").cast("double"), 6)
          .as("bleu2_r"))
      .orderBy("lang")
  }
  private val tBleuPairsSql = {
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
       |    CAST(COALESCE(CASE WHEN i1.ov > 0 AND i2.ov > 0 THEN
       |      round((CASE WHEN la1.len >= lb1.len THEN 1.0
       |        ELSE exp(1.0 - CAST(lb1.len AS DOUBLE)
       |          / CAST(la1.len AS DOUBLE)) END)
       |        * sqrt((CAST(i1.ov AS DOUBLE) / CAST(la1.len AS DOUBLE))
       |          * (CAST(i2.ov AS DOUBLE) / CAST(la2.len AS DOUBLE))), 6)
       |      END, 0.0) AS DECIMAL(18,6)) AS bleu
       |  FROM pairs p
       |  LEFT JOIN i1 ON i1.pa = p.pa AND i1.pb = p.pb
       |  LEFT JOIN i2 ON i2.pa = p.pa AND i2.pb = p.pb
       |  JOIN l1 la1 ON la1.doc_id = p.pa
       |  JOIN l1 lb1 ON lb1.doc_id = p.pb
       |  LEFT JOIN l2 la2 ON la2.doc_id = p.pa)
       |SELECT lang, COUNT(*) AS n_pairs,
       |  round(CAST(SUM(bleu) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS bleu2_r
       |FROM pf GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // eval_pass_at_k — the unbiased pass@k estimator over grouped
  // attempt outcomes: each user is a "problem", each event an
  // "attempt", purchase = success; pass@k = 1 − C(n−c,k)/C(n,k),
  // computed as the EXACT integer falling-factorial ratio
  // Π_{i<k}(n−c−i) / Π_{i<k}(n−i) (k ∈ {1,3,5} unrolled, so both
  // engines evaluate the identical product — BIGINT-exact while
  // n^5 < 2^63, i.e. n ≤ ~4000 attempts per problem; beyond that the
  // products widen to DECIMAL(38,0) unchanged). The per-problem
  // estimate is ONE rounded double frozen as DECIMAL(18,6); the
  // per-k mean over problems is exact-decimal-sum ÷ count. One
  // groupBy on user_id then a 3-way unioned scan of the TINY
  // (problem, n, c) aggregate — the raw attempt table shuffles once
  // regardless of how many k values are reported.
  // ------------------------------------------------------------------
  private val evalPassAtK: QFn = (s, dir) => {
    val probs = t(s, dir, "events")
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("ok"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("c"))
      .localCheckpoint(true)
    def branch(k: Int): DataFrame = {
      val num = (0 until k).map(i => col("n") - col("c") - lit(i.toLong))
        .reduce(_ * _)
      val den = (0 until k).map(i => col("n") - lit(i.toLong))
        .reduce(_ * _)
      probs.filter(col("n") >= k)
        .select(lit(k).as("k"), col("user_id"), col("c"),
          round(lit(1.0) -
            when(col("n") - col("c") >= k, num).otherwise(lit(0L))
              .cast("double") / den.cast("double"), 6)
            .cast(DecimalType(18, 6)).as("p"))
    }
    branch(1).unionByName(branch(3)).unionByName(branch(5))
      .groupBy("k")
      .agg(count(lit(1)).as("n_problems"),
        sum(col("c")).cast("long").as("total_successes"),
        sum(col("p")).as("sp"))
      .select(col("k"), col("n_problems"), col("total_successes"),
        round(col("sp").cast("double") / col("n_problems").cast("double"), 6)
          .as("mean_pass_r"))
      .orderBy("k")
  }
  private val evalPassAtKSql = {
    def branch(k: Int): String = {
      val num = (0 until k).map(i => s"(n - c - $i)").mkString(" * ")
      val den = (0 until k).map(i => s"(n - $i)").mkString(" * ")
      s"""SELECT $k AS k, user_id, c,
         |  CAST(round(1.0 - CAST(CASE WHEN n - c >= $k THEN $num
         |      ELSE 0 END AS DOUBLE) / CAST($den AS DOUBLE), 6)
         |    AS DECIMAL(18,6)) AS p
         |FROM probs WHERE n >= $k""".stripMargin
    }
    s"""WITH probs AS (SELECT user_id, COUNT(*) AS n,
       |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
       |  FROM events GROUP BY 1),
       |b AS (${branch(1)} UNION ALL ${branch(3)} UNION ALL ${branch(5)})
       |SELECT k, COUNT(*) AS n_problems,
       |  CAST(SUM(c) AS BIGINT) AS total_successes,
       |  round(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS mean_pass_r
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // g_jaccard_neighbors — neighbor-set Jaccard link prediction over
  // the same co-purchase graph as g_adamic_adar (parts linked when
  // ≥2 shared orders): score(a,b) = |N(a)∩N(b)| / (|N(a)|+|N(b)|−∩)
  // for pairs NOT already linked. Degrees come from the FULL graph;
  // the wedge join runs on per-node top-30 neighbor lists (the hub-
  // bounding discipline that caps fan-out at 30² per center at any
  // scale — both engines replay the identical cap, so the estimate
  // is deterministic). Existing edges leave via one anti-join; the
  // top-20 pairs come from the two-phase rankTopK (no global sort).
  // ------------------------------------------------------------------
  private val gJaccardNeighbors: QFn = (s, dir) => {
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
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val capped = e
      .withColumn("rn", row_number().over(Window.partitionBy("src")
        .orderBy(col("n_both").desc, col("dst"))))
      .filter(col("rn") <= 30)
      .select(col("src"), col("dst"))
    val common = capped.select(col("src").as("w"), col("dst").as("x"))
      .join(capped.select(col("src").as("w"), col("dst").as("y")), "w")
      .filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n_common"))
    val scored = common
      .join(broadcast(deg.select(col("src").as("x"), col("deg").as("dx"))),
        "x")
      .join(broadcast(deg.select(col("src").as("y"), col("deg").as("dy"))),
        "y")
      .join(e0.select(col("pa").as("x"), col("pb").as("y")),
        Seq("x", "y"), "left_anti")
      .select(col("x").as("pa"), col("y").as("pb"), col("n_common"),
        round(col("n_common").cast("double") /
          (col("dx") + col("dy") - col("n_common")).cast("double"), 6)
          .as("jac_r"))
    graft.operators.TopK.rankTopK(scored, 20,
        Seq(col("jac_r").desc, col("pa").asc, col("pb").asc), "rnk")
      .select(col("rnk"), col("pa"), col("pb"), col("n_common"),
        col("jac_r"))
      .orderBy("rnk")
  }
  private val gJaccardNeighborsSql =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
      |         COUNT(*) AS n_both
      |       FROM op a JOIN op b USING (l_orderkey)
      |       WHERE a.l_partkey < b.l_partkey
      |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS (SELECT pa AS src, pb AS dst, n_both FROM e0
      |      UNION ALL SELECT pb, pa, n_both FROM e0),
      |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
      |capped AS (SELECT src, dst FROM e
      |  QUALIFY row_number() OVER (PARTITION BY src
      |    ORDER BY n_both DESC, dst) <= 30),
      |com AS (SELECT cx.dst AS x, cy.dst AS y, COUNT(*) AS n_common
      |  FROM capped cx JOIN capped cy ON cx.src = cy.src
      |  WHERE cx.dst < cy.dst GROUP BY 1, 2),
      |nf AS (SELECT com.x AS pa, com.y AS pb, com.n_common,
      |    round(CAST(com.n_common AS DOUBLE)
      |      / CAST(dx.deg + dy.deg - com.n_common AS DOUBLE), 6) AS jac_r
      |  FROM com JOIN deg dx ON dx.src = com.x
      |  JOIN deg dy ON dy.src = com.y
      |  WHERE NOT EXISTS (SELECT 1 FROM e0
      |    WHERE e0.pa = com.x AND e0.pb = com.y))
      |SELECT CAST(rank() OVER (ORDER BY jac_r DESC, pa, pb) AS INT)
      |    AS rnk,
      |  pa, pb, n_common, jac_r
      |FROM nf
      |QUALIFY rnk <= 20
      |ORDER BY rnk""".stripMargin

  val queries: Map[String, QFn] = Map(
    "t_bleu_pairs" -> tBleuPairs,
    "eval_pass_at_k" -> evalPassAtK,
    "g_jaccard_neighbors" -> gJaccardNeighbors)

  val oracleSql: Map[String, String] = Map(
    "t_bleu_pairs" -> tBleuPairsSql,
    "eval_pass_at_k" -> evalPassAtKSql,
    "g_jaccard_neighbors" -> gJaccardNeighborsSql)
}

/** Round-5 widening, second pack: Bradley–Terry pairwise-preference
  * strength fitting (the model behind every LLM arena leaderboard —
  * Hunter 2004's MM iteration, public algorithm), SAX time-series
  * symbolization (Lin et al. 2003 — z-normalize, PAA, breakpoint
  * alphabet; the classic motif/anomaly preprocessing), and exact
  * repeated-substring span detection across documents (the Lee et
  * al. 2022 "Deduplicating Training Data" exact-substring variant,
  * bounded to 8-gram granularity).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL(18,6) before any reordering sum, total ORDER BYs.
  */
object Frontier14Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // eval_bradley_terry — Bradley–Terry strengths for the 5 order
  // priorities from within-customer pairwise outcomes: every pair of
  // a customer's orders with DIFFERENT priorities is one comparison,
  // won by the higher o_totalprice (exact-tie pairs are discarded).
  // The pair generation is a self-join on o_custkey — per-key
  // bounded-quadratic work that shuffles on the customer axis only —
  // and collapses immediately to the 5×5 win matrix, so the MM
  // fitting (two Hunter-2004 iterations from p=1, each strength ONE
  // rounded double frozen as DECIMAL(18,6), then a final normalize
  // to shares) runs on a constant-size aggregate at any data scale.
  // ------------------------------------------------------------------
  private val evalBradleyTerry: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(col("o_custkey").as("ck"), col("o_orderpriority").as("pri"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("tp"),
        col("o_orderkey").as("ok"))
    val a = o.select(col("ck"), col("pri").as("pi"), col("tp").as("ti"),
      col("ok").as("oi"))
    val b = o.select(col("ck"), col("pri").as("pj"), col("tp").as("tj"),
      col("ok").as("oj"))
    // oi < oj canonicalizes the unordered pair; pri inequality keeps
    // only cross-item comparisons, strict price inequality drops ties
    val wins = a.join(b, "ck")
      .filter(col("oi") < col("oj") && col("pi") =!= col("pj") &&
        col("ti") =!= col("tj"))
      .select(
        when(col("ti") > col("tj"), col("pi")).otherwise(col("pj"))
          .as("win"),
        when(col("ti") > col("tj"), col("pj")).otherwise(col("pi"))
          .as("lose"))
      .groupBy("win", "lose").agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    // n_ij (total comparisons between i and j) and W_i (total wins)
    val nij = wins.select(col("win").as("i"), col("lose").as("j"), col("w"))
      .unionAll(wins.select(col("lose").as("i"), col("win").as("j"),
        col("w")))
      .groupBy("i", "j").agg(sum(col("w")).as("n"))
    val wi = wins.groupBy(col("win").as("i")).agg(sum(col("w")).as("wins"))
    def mmIter(p: DataFrame): DataFrame = {
      // p: (i, p) with DECIMAL(18,6) strengths; one MM update:
      // p_i' = W_i / Σ_j n_ij/(p_i+p_j), each term frozen decimal
      val terms = nij
        .join(p.select(col("i"), col("p").as("pi")), "i")
        .join(p.select(col("i").as("j"), col("p").as("pj")), "j")
        .select(col("i"),
          round(col("n").cast("double") /
            (col("pi") + col("pj")).cast("double"), 6)
            .cast(DecimalType(18, 6)).as("term"))
      terms.groupBy("i").agg(sum(col("term")).as("den"))
        .join(wi, "i")
        .select(col("i"),
          round(col("wins").cast("double") / col("den").cast("double"), 6)
            .cast(DecimalType(18, 6)).as("p"))
    }
    val p0 = nij.select(col("i")).distinct()
      .select(col("i"), lit(1.0).cast(DecimalType(18, 6)).as("p"))
    val p2 = mmIter(mmIter(p0)).localCheckpoint(true)
    val tot = p2.agg(sum(col("p")).as("tot"))
    p2.crossJoin(tot)
      .select(col("i").as("priority"), col("p").cast("string").as("strength"),
        round(col("p").cast("double") / col("tot").cast("double"), 6)
          .as("share_r"))
      .orderBy("priority")
  }
  private val evalBradleyTerrySql =
    """WITH o AS (SELECT o_custkey AS ck, o_orderpriority AS pri,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS tp, o_orderkey AS ok
      |  FROM orders),
      |wins AS (SELECT
      |    CASE WHEN a.tp > b.tp THEN a.pri ELSE b.pri END AS win,
      |    CASE WHEN a.tp > b.tp THEN b.pri ELSE a.pri END AS lose,
      |    COUNT(*) AS w
      |  FROM o a JOIN o b ON a.ck = b.ck AND a.ok < b.ok
      |    AND a.pri <> b.pri AND a.tp <> b.tp
      |  GROUP BY 1, 2),
      |nij AS (SELECT i, j, SUM(w) AS n FROM (
      |    SELECT win AS i, lose AS j, w FROM wins
      |    UNION ALL SELECT lose, win, w FROM wins) GROUP BY 1, 2),
      |wi AS (SELECT win AS i, SUM(w) AS wins FROM wins GROUP BY 1),
      |p0 AS (SELECT DISTINCT i, CAST(1.0 AS DECIMAL(18,6)) AS p FROM nij),
      |t1 AS (SELECT nij.i,
      |    CAST(round(CAST(nij.n AS DOUBLE)
      |      / CAST(pa.p + pb.p AS DOUBLE), 6) AS DECIMAL(18,6)) AS term
      |  FROM nij JOIN p0 pa ON pa.i = nij.i JOIN p0 pb ON pb.i = nij.j),
      |p1 AS (SELECT t1.i,
      |    CAST(round(CAST(wi.wins AS DOUBLE)
      |      / CAST(SUM(t1.term) AS DOUBLE), 6) AS DECIMAL(18,6)) AS p
      |  FROM t1 JOIN wi ON wi.i = t1.i GROUP BY t1.i, wi.wins),
      |t2 AS (SELECT nij.i,
      |    CAST(round(CAST(nij.n AS DOUBLE)
      |      / CAST(pa.p + pb.p AS DOUBLE), 6) AS DECIMAL(18,6)) AS term
      |  FROM nij JOIN p1 pa ON pa.i = nij.i JOIN p1 pb ON pb.i = nij.j),
      |p2 AS (SELECT t2.i,
      |    CAST(round(CAST(wi.wins AS DOUBLE)
      |      / CAST(SUM(t2.term) AS DOUBLE), 6) AS DECIMAL(18,6)) AS p
      |  FROM t2 JOIN wi ON wi.i = t2.i GROUP BY t2.i, wi.wins),
      |tot AS (SELECT SUM(p) AS tot FROM p2)
      |SELECT p2.i AS priority, CAST(p2.p AS VARCHAR) AS strength,
      |  round(CAST(p2.p AS DOUBLE) / CAST(tot.tot AS DOUBLE), 6)
      |    AS share_r
      |FROM p2, tot ORDER BY priority""".stripMargin

  // ------------------------------------------------------------------
  // w22_sax — SAX symbolization of each region's monthly revenue
  // series: z-normalize against the region's own mean/std (exact
  // integer-decimal sufficient statistics n, Σx, Σx² — std is ONE
  // rounded double), PAA-average consecutive 3-month windows (each
  // monthly z frozen as DECIMAL(18,6), so the quarter mean is an
  // exact decimal sum ÷ 3-or-fewer), then map each PAA value onto
  // the 4-letter gaussian-breakpoint alphabet (±0.6745, 0 — the
  // standard-normal quartiles). Output: one SAX word per region via
  // an ordered array fold — series are monthly-grain aggregates, so
  // the whole symbolization runs on a data-scale-invariant table no
  // matter how many raw orders feed it.
  // ------------------------------------------------------------------
  private val w22Sax: QFn = (s, dir) => {
    val m = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("mon"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 4))).as("rev"))
    val stats = m.groupBy(col("r_name").as("rn"))
      .agg(count(lit(1)).as("n"), sum(col("rev")).as("sx"),
        sum(col("rev") * col("rev")).cast(DecimalType(38, 8)).as("sxx"),
        min(col("mon")).as("mon0"))
    val z = m.join(stats, col("r_name") === col("rn"))
      .select(col("r_name"), col("mon"), col("mon0"),
        round((col("rev") - col("sx") / col("n")).cast("double") /
          sqrt((col("sxx").cast("double") -
            (col("sx") * col("sx")).cast("double") / col("n").cast("double"))
            / col("n").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("zv"))
    val paa = z
      .select(col("r_name"),
        ((col("mon") - col("mon0")).cast("long") / 3).cast("long").as("q"),
        col("zv"))
      .groupBy("r_name", "q")
      .agg(count(lit(1)).as("nq"), sum(col("zv")).as("sz"))
      .select(col("r_name"), col("q"),
        round(col("sz").cast("double") / col("nq").cast("double"), 6)
          .as("paa"))
    val sym = paa.select(col("r_name"), col("q"),
      when(col("paa") < -0.6745, lit("a"))
        .when(col("paa") < 0.0, lit("b"))
        .when(col("paa") < 0.6745, lit("c"))
        .otherwise(lit("d")).as("sym"))
    sym.groupBy("r_name")
      .agg(count(lit(1)).as("n_quarters"),
        array_join(transform(array_sort(collect_list(struct(col("q"),
          col("sym")))), x => x.getField("sym")), "").as("sax_word"))
      .orderBy("r_name")
  }
  private val w22SaxSql =
    """WITH m AS (SELECT r_name,
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS mon,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2),
      |st AS (SELECT r_name AS rn, COUNT(*) AS n, SUM(rev) AS sx,
      |    CAST(SUM(rev * rev) AS DECIMAL(38,8)) AS sxx,
      |    MIN(mon) AS mon0
      |  FROM m GROUP BY 1),
      |z AS (SELECT m.r_name, m.mon, st.mon0,
      |    CAST(round(CAST(m.rev - st.sx / st.n AS DOUBLE)
      |      / sqrt((CAST(st.sxx AS DOUBLE)
      |          - CAST(st.sx * st.sx AS DOUBLE) / CAST(st.n AS DOUBLE))
      |        / CAST(st.n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS zv
      |  FROM m JOIN st ON st.rn = m.r_name),
      |paa AS (SELECT r_name, (mon - mon0) // 3 AS q,
      |    round(CAST(SUM(zv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |      AS paa
      |  FROM z GROUP BY 1, 2),
      |sym AS (SELECT r_name, q,
      |    CASE WHEN paa < -0.6745 THEN 'a' WHEN paa < 0.0 THEN 'b'
      |         WHEN paa < 0.6745 THEN 'c' ELSE 'd' END AS sym
      |  FROM paa)
      |SELECT r_name, COUNT(*) AS n_quarters,
      |  string_agg(sym, '' ORDER BY q) AS sax_word
      |FROM sym GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // d_substring_spans — exact repeated-substring detection at 8-gram
  // granularity (the scalable variant of suffix-array substring
  // dedup): an 8-token shingle whose md5-derived 60-bit key appears
  // in ≥2 DISTINCT documents marks 8 duplicated token positions;
  // per document, overlapping duplicated shingles merge into maximal
  // spans by the gaps-and-islands rule (a new island starts when the
  // next shingle begins >8 tokens after the previous — [p,p+7]
  // ranges that touch merge). Everything shuffles on the 60-bit
  // shingle key, never the text; span merging is a per-doc window —
  // the same partition-by-doc discipline every pack uses. Output per
  // document with ≥1 span: span count, duplicated-token coverage,
  // token length — the numbers a curation pipeline thresholds on to
  // cut boilerplate (Lee et al. 2022).
  // ------------------------------------------------------------------
  private val dSubstringSpans: QFn = (s, dir) => {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        split(TF.normText(col("text")), " ").as("toks"))
    val toks = docs
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        posexplode(col("toks")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    val sh = toks
      .withColumn("g", concat_ws(" ", (0 until 8).map(i =>
        if (i == 0) col("w") else lead(col("w"), i).over(wOrd)): _*))
      .withColumn("w7", lead(col("w"), 7).over(wOrd))
      .filter(col("w7").isNotNull)
      .select(col("doc_id"), col("n_tokens"), col("pos"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
    val dupKeys = sh.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val dupPos = sh.join(dupKeys, "h")
      .select(col("doc_id"), col("n_tokens"), col("pos"))
    val wSeq = Window.partitionBy("doc_id").orderBy("pos")
    val islands = dupPos
      .withColumn("prev", lag(col("pos"), 1).over(wSeq))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > 8, 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy("doc_id", "n_tokens", "isl")
      .agg((max(col("pos")) + 8 - min(col("pos"))).as("span_len"))
      .groupBy("doc_id", "n_tokens")
      .agg(count(lit(1)).as("n_spans"), sum(col("span_len")).as("dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("dup_tokens").cast("long").as("dup_tokens"))
      .orderBy("doc_id")
  }
  private val dSubstringSpansSql = {
    val norm = TF.normTextSql("text")
    s"""WITH docs AS (SELECT doc_id, string_split($norm, ' ') AS toks
       |  FROM documents),
       |w0 AS (SELECT doc_id, len(list_filter(toks, x -> length(x) > 0))
       |      AS n_tokens,
       |    unnest(toks) AS w, generate_subscripts(toks, 1) AS pos
       |  FROM docs),
       |w AS (SELECT doc_id, n_tokens, w,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1
       |      AS pos
       |  FROM w0 WHERE length(w) > 0),
       |sh0 AS (SELECT doc_id, n_tokens, pos,
       |    w || ' ' || lead(w, 1) OVER wo || ' ' || lead(w, 2) OVER wo
       |      || ' ' || lead(w, 3) OVER wo || ' ' || lead(w, 4) OVER wo
       |      || ' ' || lead(w, 5) OVER wo || ' ' || lead(w, 6) OVER wo
       |      || ' ' || lead(w, 7) OVER wo AS g,
       |    lead(w, 7) OVER wo AS w7
       |  FROM w WINDOW wo AS (PARTITION BY doc_id ORDER BY pos)),
       |sh AS (SELECT doc_id, n_tokens, pos,
       |    CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS h
       |  FROM sh0 WHERE w7 IS NOT NULL),
       |dk AS (SELECT h FROM sh GROUP BY h
       |       HAVING COUNT(DISTINCT doc_id) >= 2),
       |dp AS (SELECT sh.doc_id, sh.n_tokens, sh.pos
       |  FROM sh JOIN dk ON dk.h = sh.h),
       |isl AS (SELECT doc_id, n_tokens, pos,
       |    SUM(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM (SELECT doc_id, n_tokens, pos,
       |      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |    FROM dp)),
       |sp AS (SELECT doc_id, n_tokens, isl,
       |    MAX(pos) + 8 - MIN(pos) AS span_len
       |  FROM isl GROUP BY 1, 2, 3)
       |SELECT doc_id, n_tokens, COUNT(*) AS n_spans,
       |  CAST(SUM(span_len) AS BIGINT) AS dup_tokens
       |FROM sp GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "eval_bradley_terry" -> evalBradleyTerry,
    "w22_sax" -> w22Sax,
    "d_substring_spans" -> dSubstringSpans)

  val oracleSql: Map[String, String] = Map(
    "eval_bradley_terry" -> evalBradleyTerrySql,
    "w22_sax" -> w22SaxSql,
    "d_substring_spans" -> dSubstringSpansSql)
}

/** Round-5 widening, third pack: l-diversity privacy auditing (the
  * Machanavajjhala et al. 2007 strengthening of k-anonymity the x6
  * entry already covers), IQR-fence outlier profiling (the Tukey
  * boxplot rule every DQ dashboard draws), and a two-round
  * gradient-boosted regression-stump fit (squared loss, exact
  * variance-reduction split search over month bins — the smallest
  * honest GBM: fit, residual, fit again).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier15Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // x10_l_diversity — distinct l-diversity audit over the release
  // quasi-identifier (nation, market segment): a QI group is safe
  // when its SENSITIVE attribute (order priority) takes ≥ l distinct
  // values, so an attacker who pins a target to a group still cannot
  // infer the sensitive value. k-anonymity (x6) bounds group SIZE;
  // this bounds group DISVERSITY — the attack it closes is the
  // homogeneous group, which k-anonymity happily releases. Per group:
  // record count, distinct-sensitive count l, the l≥3 verdict, and
  // the top sensitive value's share (the skew an entropy-l audit
  // would flag) — ONE rounded double each. Two key-partitioned
  // aggregations, no row ever leaves its (nation, segment) shard.
  // ------------------------------------------------------------------
  private val x10LDiversity: QFn = (s, dir) => {
    val rows = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_mktsegment"), col("o_orderpriority"))
    val cell = rows.groupBy("n_name", "c_mktsegment", "o_orderpriority")
      .agg(count(lit(1)).as("nv"))
    cell.groupBy("n_name", "c_mktsegment")
      .agg(sum(col("nv")).as("n_records"),
        count(lit(1)).as("l_distinct"),
        max(col("nv")).as("top_nv"))
      .select(col("n_name"), col("c_mktsegment"),
        col("n_records").cast("long").as("n_records"),
        col("l_distinct"),
        (col("l_distinct") >= 3).as("l3_ok"),
        round(col("top_nv").cast("double") /
          col("n_records").cast("double"), 6).as("top_share_r"))
      .orderBy("n_name", "c_mktsegment")
  }
  private val x10LDiversitySql =
    """WITH rows0 AS (SELECT n_name, c_mktsegment, o_orderpriority
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |cell AS (SELECT n_name, c_mktsegment, o_orderpriority,
      |    COUNT(*) AS nv
      |  FROM rows0 GROUP BY 1, 2, 3)
      |SELECT n_name, c_mktsegment,
      |  CAST(SUM(nv) AS BIGINT) AS n_records,
      |  COUNT(*) AS l_distinct,
      |  COUNT(*) >= 3 AS l3_ok,
      |  round(CAST(MAX(nv) AS DOUBLE) / CAST(SUM(nv) AS DOUBLE), 6)
      |    AS top_share_r
      |FROM cell GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // dq_iqr_outliers — Tukey boxplot outlier audit per market segment:
  // Q1/Q3 are the exact interpolated quartiles (the percentile
  // definition both engines share, proved by a_percentiles), fences
  // sit at 1.5·IQR, and the outlier population is counted + key-
  // checksummed so the driver pins exactly WHICH orders fall outside,
  // not just how many. The quartile pass and the fence pass are two
  // key-partitioned aggregations over the same shuffle key — at 100 TB
  // the quartiles would swap to approx_percentile with the same
  // two-pass shape (the b2/a_percentiles pattern).
  // ------------------------------------------------------------------
  private val dqIqrOutliers: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
    val q = o.groupBy("c_mktsegment")
      .agg(expr("percentile(o_totalprice, 0.25)").as("q1"),
        expr("percentile(o_totalprice, 0.75)").as("q3"))
      .select(col("c_mktsegment").as("seg"), col("q1"), col("q3"))
    o.join(broadcast(q), col("c_mktsegment") === col("seg"))
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("o_totalprice") < col("lo") ||
          col("o_totalprice") > col("hi"), 1L).otherwise(0L))
          .as("n_outliers"),
        coalesce(sum(when(col("o_totalprice") < col("lo") ||
          col("o_totalprice") > col("hi"), col("o_orderkey")))
          .cast("long"), lit(0L)).as("outlier_checksum"),
        round(min(col("lo")), 4).as("lo_fence_r"),
        round(min(col("hi")), 4).as("hi_fence_r"))
      .orderBy("c_mktsegment")
  }
  private val dqIqrOutliersSql =
    """WITH o AS (SELECT c_mktsegment, o_orderkey, o_totalprice
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |q AS (SELECT c_mktsegment AS seg,
      |    quantile_cont(o_totalprice, 0.25) AS q1,
      |    quantile_cont(o_totalprice, 0.75) AS q3
      |  FROM o GROUP BY 1),
      |f AS (SELECT o.*, q.q1 - 1.5 * (q.q3 - q.q1) AS lo,
      |    q.q3 + 1.5 * (q.q3 - q.q1) AS hi
      |  FROM o JOIN q ON o.c_mktsegment = q.seg)
      |SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CASE WHEN o_totalprice < lo OR o_totalprice > hi
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  COALESCE(CAST(SUM(CASE WHEN o_totalprice < lo OR o_totalprice > hi
      |      THEN o_orderkey END) AS BIGINT), 0) AS outlier_checksum,
      |  round(MIN(lo), 4) AS lo_fence_r,
      |  round(MIN(hi), 4) AS hi_fence_r
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // ml_gbt_stumps — two gradient-boosting rounds of depth-1 regression
  // trees on monthly bins: round 1 fits o_totalprice, round 2 fits the
  // residuals, each round choosing the month threshold that minimizes
  // total SSE via exact sufficient statistics (per-bin n, Σy, Σy² in
  // DECIMAL — the cumulative prefix over ~24 ordered bins is an exact
  // decimal window sum, so the split search compares identically-
  // computed doubles in both engines; ties break on the smaller
  // threshold). Leaf means are ONE rounded double frozen as
  // DECIMAL(18,6); residuals freeze at DECIMAL(18,4) before the
  // second round's Σr². The raw table shuffles once per round onto
  // the month key — split search itself runs on the bin aggregate,
  // which is data-scale-invariant. This is the inner loop of every
  // histogram-based GBM (LightGBM/XGBoost hist mode), expressed as
  // two declarative passes.
  // ------------------------------------------------------------------
  private val mlGbtStumps: QFn = (s, dir) => {
    def fitStump(rows: DataFrame): DataFrame = {
      // rows: (bin LONG, y DECIMAL) → 1 row (thr, lm, rm, sse_m_r)
      val bins = rows.groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(col("y")).cast(DecimalType(38, 4)).as("sy"),
          sum(col("y") * col("y")).cast(DecimalType(38, 8)).as("qy"))
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
        .filter(col("nl") < col("nt")) // right side non-empty
        .select(col("bin").as("thr"), col("nl"), col("sl"), col("ql"),
          (col("nt") - col("nl")).as("nr"),
          (col("st") - col("sl")).as("sr"),
          (col("qt") - col("ql")).as("qr"))
        .select(col("thr"), col("nl"), col("sl"), col("nr"), col("sr"),
          round((
            (col("ql").cast("double") -
              col("sl").cast("double") * col("sl").cast("double") /
                col("nl").cast("double")) +
            (col("qr").cast("double") -
              col("sr").cast("double") * col("sr").cast("double") /
                col("nr").cast("double"))) / lit(1e6), 4).as("sse_m_r"))
      val wBest = Window.orderBy(col("sse_m_r").asc, col("thr").asc)
      cand.withColumn("rk", row_number().over(wBest)).filter(col("rk") === 1)
        .select(col("thr"),
          round(col("sl").cast("double") / col("nl").cast("double"), 6)
            .cast(DecimalType(18, 6)).as("lm"),
          round(col("sr").cast("double") / col("nr").cast("double"), 6)
            .cast(DecimalType(18, 6)).as("rm"),
          col("sse_m_r"))
    }
    val rows = t(s, dir, "orders")
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("bin"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("y"))
      .localCheckpoint(true)
    val s1 = fitStump(rows).localCheckpoint(true)
    val rows2 = rows.crossJoin(broadcast(s1.select(col("thr").as("t1"),
        col("lm").as("lm1"), col("rm").as("rm1"))))
      .select(col("bin"),
        round(col("y") - when(col("bin") <= col("t1"), col("lm1"))
          .otherwise(col("rm1")), 4).cast(DecimalType(18, 4)).as("y"))
    val s2 = fitStump(rows2)
    s1.select(lit(1).as("rnd"), col("thr"),
        col("lm").cast("string").as("left_mean"),
        col("rm").cast("string").as("right_mean"), col("sse_m_r"))
      .unionByName(s2.select(lit(2).as("rnd"), col("thr"),
        col("lm").cast("string").as("left_mean"),
        col("rm").cast("string").as("right_mean"), col("sse_m_r")))
      .orderBy("rnd")
  }
  private val mlGbtStumpsSql = {
    def fit(src: String): String =
      s"""bins_$src AS (SELECT bin, COUNT(*) AS n,
         |    CAST(SUM(y) AS DECIMAL(38,4)) AS sy,
         |    CAST(SUM(CAST(y AS DECIMAL(28,4)) * y) AS DECIMAL(38,8)) AS qy
         |  FROM $src GROUP BY 1),
         |cum_$src AS (SELECT bin,
         |    SUM(n) OVER wb AS nl,
         |    CAST(SUM(sy) OVER wb AS DECIMAL(38,4)) AS sl,
         |    CAST(SUM(qy) OVER wb AS DECIMAL(38,8)) AS ql
         |  FROM bins_$src
         |  WINDOW wb AS (ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |tot_$src AS (SELECT SUM(n) AS nt,
         |    CAST(SUM(sy) AS DECIMAL(38,4)) AS st,
         |    CAST(SUM(qy) AS DECIMAL(38,8)) AS qt
         |  FROM bins_$src),
         |cand_$src AS (SELECT bin AS thr, nl, sl, nt - nl AS nr,
         |    st - sl AS sr,
         |    round(((CAST(ql AS DOUBLE)
         |        - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
         |          / CAST(nl AS DOUBLE))
         |      + (CAST(qt - ql AS DOUBLE)
         |        - CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
         |          / CAST(nt - nl AS DOUBLE))) / 1e6, 4) AS sse_m_r
         |  FROM cum_$src CROSS JOIN tot_$src WHERE nl < nt),
         |best_$src AS (SELECT thr,
         |    CAST(round(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) AS lm,
         |    CAST(round(CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) AS rm,
         |    sse_m_r
         |  FROM cand_$src
         |  QUALIFY row_number() OVER (ORDER BY sse_m_r, thr) = 1)""".stripMargin
    s"""WITH r1 AS (SELECT
       |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
       |      AS bin,
       |    CAST(o_totalprice AS DECIMAL(18,4)) AS y
       |  FROM orders),
       |${fit("r1")},
       |r2 AS (SELECT r1.bin,
       |    CAST(round(r1.y - CASE WHEN r1.bin <= b.thr THEN b.lm
       |      ELSE b.rm END, 4) AS DECIMAL(18,4)) AS y
       |  FROM r1 CROSS JOIN best_r1 b),
       |${fit("r2")}
       |SELECT 1 AS rnd, thr, CAST(lm AS VARCHAR) AS left_mean,
       |  CAST(rm AS VARCHAR) AS right_mean, sse_m_r FROM best_r1
       |UNION ALL
       |SELECT 2, thr, CAST(lm AS VARCHAR), CAST(rm AS VARCHAR), sse_m_r
       |FROM best_r2
       |ORDER BY rnd""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "x10_l_diversity" -> x10LDiversity,
    "dq_iqr_outliers" -> dqIqrOutliers,
    "ml_gbt_stumps" -> mlGbtStumps)

  val oracleSql: Map[String, String] = Map(
    "x10_l_diversity" -> x10LDiversitySql,
    "dq_iqr_outliers" -> dqIqrOutliersSql,
    "ml_gbt_stumps" -> mlGbtStumpsSql)
}

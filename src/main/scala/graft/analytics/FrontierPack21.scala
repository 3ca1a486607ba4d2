package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

// Contents (one object per original pack, APIs unchanged):
//   Frontier21Queries: q36_decile_lift, g_conductance, a45_theil_decomposition
//   Frontier22Queries: t_style_fingerprint, ann_range_search
//   Frontier23Queries: ml_eval_report, ev_user_similarity, f_json_pack
//   Frontier24Queries: p_length_batching, a48_control_chart, g_assortativity
//   Frontier25Queries: ev_ab_srm_check, dq_completeness_trend, ev_velocity_flags

/** Round-5 widening, ninth pack: decile lift/gains charting (the
  * model-targeting report every campaign review opens with —
  * backtested here as prior-spend → future-buyer), graph community
  * conductance (the cut-quality metric complementing g_modularity's
  * density view), and Theil-index inequality decomposition (the
  * entropy inequality measure that splits EXACTLY into within- +
  * between-group terms — the property Gini lacks).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier21Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // q36_decile_lift — gains chart for a backtested targeting score:
  // customers score on PRE-1998 spend, the outcome is whether they
  // ordered in 1998+, and the chart reports per-decile capture of
  // all future buyers plus cumulative lift over random targeting.
  // Deciles come from exact interpolated percentile boundaries (the
  // a_percentiles/b2 engine-shared definition) — NO global ntile
  // sort; rows bucket by comparing against the broadcast 9-boundary
  // array, so the scan stays embarrassingly parallel at any scale.
  // Cumulative sums run on the 10-row decile aggregate. Decile 9 =
  // highest scores; a healthy score concentrates buyers there.
  // ------------------------------------------------------------------
  private val q36DecileLift: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
    val cust = o.groupBy(col("o_custkey"))
      .agg(sum(when(year(col("o_orderdate")) < 1998,
          col("o_totalprice").cast(DecimalType(18, 4))))
          .as("pre_spend"),
        max(when(year(col("o_orderdate")) >= 1998, 1L).otherwise(0L))
          .as("buyer"))
      .filter(col("pre_spend").isNotNull)
      .localCheckpoint(true)
    val deciles = (1 to 9).map(_ / 10.0)
    val bounds = cust.agg(expr(
      s"percentile(CAST(pre_spend AS DOUBLE), array(${deciles.mkString(", ")}))")
      .as("bounds"))
    val bucketed = cust.crossJoin(broadcast(bounds))
      .select(size(filter(col("bounds"),
        b => b <= col("pre_spend").cast("double"))).as("decile"),
        col("buyer"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_custs"),
        sum(col("buyer")).cast("long").as("n_buyers"))
    val tot = bucketed.agg(sum(col("n_custs")).as("nt"),
      sum(col("n_buyers")).as("bt"))
    val wCum = Window.orderBy(col("decile").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.crossJoin(broadcast(tot))
      .withColumn("cum_custs", sum(col("n_custs")).over(wCum))
      .withColumn("cum_buyers", sum(col("n_buyers")).over(wCum))
      .select(col("decile"), col("n_custs"), col("n_buyers"),
        round(col("n_buyers").cast("double") /
          col("bt").cast("double"), 6).as("capture_r"),
        round((col("cum_buyers").cast("double") /
            col("bt").cast("double")) /
          (col("cum_custs").cast("double") /
            col("nt").cast("double")), 6).as("cum_lift_r"))
      .orderBy(col("decile").desc)
  }
  private val q36DecileLiftSql =
    """WITH cust AS (SELECT o_custkey,
      |    SUM(CASE WHEN year(o_orderdate) < 1998
      |      THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS pre_spend,
      |    MAX(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END)
      |      AS buyer
      |  FROM orders GROUP BY 1),
      |c2 AS (SELECT * FROM cust WHERE pre_spend IS NOT NULL),
      |b AS (SELECT quantile_cont(CAST(pre_spend AS DOUBLE),
      |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bounds
      |  FROM c2),
      |bk AS (SELECT
      |    CAST(len(list_filter(b.bounds,
      |      x -> x <= CAST(c2.pre_spend AS DOUBLE))) AS INT) AS decile,
      |    c2.buyer
      |  FROM c2 CROSS JOIN b),
      |agg AS (SELECT decile, COUNT(*) AS n_custs,
      |    CAST(SUM(buyer) AS BIGINT) AS n_buyers
      |  FROM bk GROUP BY 1),
      |tot AS (SELECT SUM(n_custs) AS nt, SUM(n_buyers) AS bt FROM agg)
      |SELECT agg.decile, agg.n_custs, agg.n_buyers,
      |  round(CAST(agg.n_buyers AS DOUBLE) / CAST(tot.bt AS DOUBLE), 6)
      |    AS capture_r,
      |  round((CAST(SUM(agg.n_buyers) OVER wc AS DOUBLE)
      |      / CAST(tot.bt AS DOUBLE))
      |    / (CAST(SUM(agg.n_custs) OVER wc AS DOUBLE)
      |      / CAST(tot.nt AS DOUBLE)), 6) AS cum_lift_r
      |FROM agg CROSS JOIN tot
      |WINDOW wc AS (ORDER BY agg.decile DESC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY agg.decile DESC""".stripMargin

  // ------------------------------------------------------------------
  // g_conductance — cut quality of the nation partition of the
  // customer co-order graph (customers linked when they order the
  // same part, ≥2 shared parts): for each nation-community,
  // conductance φ = cut / min(vol, vol_total − vol) — low φ means
  // the community's edges stay inside it. Edge generation is the
  // per-part neighbor join capped at 20 customers per part (hub
  // bounding, the g_two_hop discipline); cut/volume counting is two
  // groupBys on the edge list with nation labels broadcast from the
  // customer dim. Every φ is ONE rounded double over exact integer
  // cut/volume counts.
  // ------------------------------------------------------------------
  private val gConductance: QFn = (s, dir) => {
    val co = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    // cap per-part fan-out: top-20 customers by key (deterministic)
    val capped = co
      .withColumn("rn", row_number().over(Window.partitionBy("p")
        .orderBy(col("c").asc)))
      .filter(col("rn") <= 20)
      .select(col("p"), col("c"))
    val e0 = capped.select(col("p"), col("c").as("ca"))
      .join(capped.select(col("p"), col("c").as("cb")), "p")
      .filter(col("ca") < col("cb"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .localCheckpoint(true)
    val nat = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val e = e0
      .join(broadcast(nat.select(col("c_custkey").as("ca"),
        col("c_nationkey").as("na"))), "ca")
      .join(broadcast(nat.select(col("c_custkey").as("cb"),
        col("c_nationkey").as("nb"))), "cb")
    // volume per community counts both endpoints; cut edges cross
    val vol = e.select(col("na").as("nk"), col("nb")).unionAll(
        e.select(col("nb").as("nk"), col("na").as("nb")))
      .groupBy("nk")
      .agg(count(lit(1)).as("vol"),
        sum(when(col("nk") =!= col("nb"), 1L).otherwise(0L)).as("cut"))
    val tot = vol.agg(sum(col("vol")).as("vt"))
    vol.crossJoin(broadcast(tot))
      .join(broadcast(t(s, dir, "nation")),
        col("nk") === col("n_nationkey"))
      .select(col("n_name"), col("vol").cast("long").as("volume"),
        col("cut").cast("long").as("cut_edges"),
        round(col("cut").cast("double") /
          least(col("vol"), col("vt") - col("vol")).cast("double"), 6)
          .as("conductance_r"))
      .orderBy("n_name")
  }
  private val gConductanceSql =
    """WITH co AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |capped AS (SELECT p, c FROM co
      |  QUALIFY row_number() OVER (PARTITION BY p ORDER BY c) <= 20),
      |e0 AS (SELECT a.c AS ca, b.c AS cb, COUNT(*) AS n_shared
      |  FROM capped a JOIN capped b ON a.p = b.p AND a.c < b.c
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS (SELECT e0.ca, e0.cb, x.c_nationkey AS na,
      |    y.c_nationkey AS nb
      |  FROM e0 JOIN customer x ON x.c_custkey = e0.ca
      |  JOIN customer y ON y.c_custkey = e0.cb),
      |vol AS (SELECT nk, COUNT(*) AS vol,
      |    CAST(SUM(CASE WHEN nk <> nb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS cut
      |  FROM (SELECT na AS nk, nb FROM e
      |        UNION ALL SELECT nb, na FROM e)
      |  GROUP BY 1),
      |tot AS (SELECT SUM(vol) AS vt FROM vol)
      |SELECT n_name, CAST(vol.vol AS BIGINT) AS volume,
      |  vol.cut AS cut_edges,
      |  round(CAST(vol.cut AS DOUBLE)
      |    / CAST(least(vol.vol, tot.vt - vol.vol) AS DOUBLE), 6)
      |    AS conductance_r
      |FROM vol CROSS JOIN tot
      |JOIN nation ON nk = n_nationkey
      |ORDER BY n_name""".stripMargin

  // ------------------------------------------------------------------
  // a45_theil_decomposition — Theil-T inequality of order prices,
  // decomposed by nation: T = Σ_g s_g·T_g + Σ_g s_g·ln(μ_g/μ)
  // holds EXACTLY (up to the frozen rounding) — within-group
  // inequality plus between-group inequality reconstruct the total,
  // the additivity that makes entropy measures auditable where Gini
  // is not. Per-order terms (x/μ_g)·ln(x/μ_g)... aggregate per
  // nation from exact decimal sums: each order contributes ONE
  // rounded ln term frozen as DECIMAL(18,6), group means are exact
  // ratios, and the final assembly runs on the 25-row group table.
  // Output: per-nation share/within/between plus the 'ALL' row
  // carrying T, T_within, T_between.
  // ------------------------------------------------------------------
  private val a45TheilDecomposition: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_totalprice")
        .cast(DecimalType(18, 4)).as("x"))
    val grp = o.groupBy("n_name")
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"))
      .localCheckpoint(true)
    val tot = grp.agg(sum(col("ng")).as("nt"),
      sum(col("sg")).cast(DecimalType(38, 4)).as("st"))
    // per-order entropy term against the GROUP mean: Σ x·ln(x/μ_g)
    val terms = o.join(broadcast(grp), "n_name")
      .select(col("n_name"),
        round(col("x").cast("double") *
          log(col("x").cast("double") /
            (col("sg").cast("double") / col("ng").cast("double"))), 6)
          .cast(DecimalType(18, 6)).as("xlx"))
      .groupBy("n_name").agg(sum(col("xlx")).as("sxlx"))
    val assembled = grp.join(terms, "n_name").crossJoin(broadcast(tot))
      .select(col("n_name"),
        round(col("sg").cast("double") / col("st").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("share"),
        // T_g = Σ x·ln(x/μ_g) / S_g
        round(col("sxlx").cast("double") / col("sg").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("within"),
        // between term: s_g · ln(μ_g/μ)
        round((col("sg").cast("double") / col("st").cast("double")) *
          log((col("sg").cast("double") / col("ng").cast("double")) /
            (col("st").cast("double") / col("nt").cast("double"))), 6)
          .cast(DecimalType(18, 6)).as("between"))
      .localCheckpoint(true)
    val allRow = assembled.agg(
        sum(col("share") * col("within")).as("tw"),
        sum(col("between")).as("tb"))
      .select(lit("ALL").as("n_name"),
        lit(BigDecimal(1)).cast(DecimalType(18, 6)).as("share"),
        round((col("tw") + col("tb")).cast("double"), 6)
          .cast(DecimalType(18, 6)).as("within"),
        round(col("tb").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("between"))
    assembled.unionByName(allRow)
      .select(col("n_name"), col("share").cast("string").as("share"),
        col("within").cast("string").as("within"),
        col("between").cast("string").as("between"))
      .orderBy("n_name")
  }
  private val a45TheilDecompositionSql =
    """WITH o AS (SELECT n_name,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |grp AS (SELECT n_name, COUNT(*) AS ng, SUM(x) AS sg
      |  FROM o GROUP BY 1),
      |tot AS (SELECT SUM(ng) AS nt, CAST(SUM(sg) AS DECIMAL(38,4)) AS st
      |  FROM grp),
      |terms AS (SELECT o.n_name,
      |    CAST(round(CAST(o.x AS DOUBLE)
      |      * ln(CAST(o.x AS DOUBLE)
      |        / (CAST(grp.sg AS DOUBLE) / CAST(grp.ng AS DOUBLE))), 6)
      |      AS DECIMAL(18,6)) AS xlx
      |  FROM o JOIN grp ON grp.n_name = o.n_name),
      |sx AS (SELECT n_name, SUM(xlx) AS sxlx FROM terms GROUP BY 1),
      |asm AS (SELECT grp.n_name,
      |    CAST(round(CAST(grp.sg AS DOUBLE) / CAST(tot.st AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS share,
      |    CAST(round(CAST(sx.sxlx AS DOUBLE) / CAST(grp.sg AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS within,
      |    CAST(round((CAST(grp.sg AS DOUBLE) / CAST(tot.st AS DOUBLE))
      |      * ln((CAST(grp.sg AS DOUBLE) / CAST(grp.ng AS DOUBLE))
      |        / (CAST(tot.st AS DOUBLE) / CAST(tot.nt AS DOUBLE))), 6)
      |      AS DECIMAL(18,6)) AS between
      |  FROM grp JOIN sx ON sx.n_name = grp.n_name CROSS JOIN tot),
      |allrow AS (SELECT 'ALL' AS n_name,
      |    CAST(1 AS DECIMAL(18,6)) AS share,
      |    CAST(round(CAST(SUM(share * within) + SUM(between) AS DOUBLE),
      |      6) AS DECIMAL(18,6)) AS within,
      |    CAST(round(CAST(SUM(between) AS DOUBLE), 6) AS DECIMAL(18,6))
      |      AS between
      |  FROM asm)
      |SELECT n_name, CAST(share AS VARCHAR) AS share,
      |  CAST(within AS VARCHAR) AS within,
      |  CAST(between AS VARCHAR) AS between
      |FROM (SELECT * FROM asm UNION ALL SELECT * FROM allrow)
      |ORDER BY n_name""".stripMargin

  val queries: Map[String, QFn] = Map(
    "q36_decile_lift" -> q36DecileLift,
    "g_conductance" -> gConductance,
    "a45_theil_decomposition" -> a45TheilDecomposition)

  val oracleSql: Map[String, String] = Map(
    "q36_decile_lift" -> q36DecileLiftSql,
    "g_conductance" -> gConductanceSql,
    "a45_theil_decomposition" -> a45TheilDecompositionSql)
}

/** Round-5 widening, tenth pack: stylometric source fingerprinting
  * (Burrows-Delta-style function-word profiles — the attribution/
  * near-source detector a provenance audit runs), cosine RANGE
  * search over embeddings (all-neighbors-within-τ, the radius twin
  * of the top-k entries — dedup and recall audits want "everything
  * closer than τ", not a fixed k), and — registered in
  * StreamingQueries — a stream-static enrichment join.
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier22Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // t_style_fingerprint — Burrows-Delta stylometry over sources: the
  // 15 corpus-wide most frequent words are the function-word panel
  // (frequency-ranked, tie-broken on the word — both engines agree);
  // each source's panel-word RATE (per-1000-token) z-normalizes
  // against the across-source mean/std of that word; Delta between
  // two sources is the mean |z_a − z_b| over the panel. The closest
  // 5 source pairs surface — style-twin sources are what a
  // provenance/contamination audit chases. Rates and z-scores are
  // ONE rounded double each frozen as DECIMAL; the pair join runs on
  // the 20×15 profile table (sources × panel — data-scale-invariant;
  // the corpus only feeds it through two key-partitioned counts).
  // ------------------------------------------------------------------
  private val tStyleFingerprint: QFn = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("source"),
        explode(split(TF.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .localCheckpoint(true)
    val panel = graft.operators.TopK.rankTopK(
        toks.groupBy("w").agg(count(lit(1)).as("gc")), 15,
        Seq(col("gc").desc, col("w").asc), "prnk")
      .select(col("w"))
    val srcTot = toks.groupBy("source").agg(count(lit(1)).as("nt"))
    // per-source per-panel-word rate (per mille), zero when absent
    val rates = srcTot.crossJoin(broadcast(panel))
      .join(toks.groupBy("source", "w").agg(count(lit(1)).as("c")),
        Seq("source", "w"), "left")
      .select(col("source"), col("w"),
        round(coalesce(col("c"), lit(0L)).cast("double") * 1000.0 /
          col("nt").cast("double"), 6).cast(DecimalType(18, 6)).as("rate"))
      .localCheckpoint(true)
    val wordStats = rates.groupBy("w")
      .agg(count(lit(1)).as("ns"), sum(col("rate")).as("sr"),
        sum((col("rate") * col("rate")).cast(DecimalType(38, 12)))
          .as("srr"))
    val z = rates.join(broadcast(wordStats), "w")
      .select(col("source"), col("w"),
        round((col("rate") - col("sr") / col("ns")).cast("double") /
          sqrt((col("srr").cast("double") -
            (col("sr") * col("sr")).cast("double") /
              col("ns").cast("double")) / col("ns").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("z"))
    val pairs = z.select(col("source").as("sa"), col("w"),
        col("z").as("za"))
      .join(z.select(col("source").as("sb"), col("w"),
        col("z").as("zb")), "w")
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("np"),
        sum(abs(col("za") - col("zb"))).as("sad"))
      .select(col("sa"), col("sb"),
        round(col("sad").cast("double") / col("np").cast("double"), 6)
          .as("delta_r"))
    graft.operators.TopK.rankTopK(pairs, 5,
        Seq(col("delta_r").asc, col("sa").asc, col("sb").asc), "rnk")
      .select(col("rnk"), col("sa"), col("sb"), col("delta_r"))
      .orderBy("rnk", "sa", "sb")
  }
  private val tStyleFingerprintSql = {
    val norm = TF.normTextSql("text")
    s"""WITH tk AS (SELECT source, unnest(string_split($norm, ' ')) AS w
       |  FROM documents),
       |toks AS (SELECT source, w FROM tk WHERE length(w) > 0),
       |panel AS (SELECT w FROM (SELECT w, COUNT(*) AS gc FROM toks
       |    GROUP BY 1)
       |  QUALIFY rank() OVER (ORDER BY gc DESC, w) <= 15),
       |st AS (SELECT source, COUNT(*) AS nt FROM toks GROUP BY 1),
       |sw AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
       |rates AS (SELECT st.source, panel.w,
       |    CAST(round(CAST(COALESCE(sw.c, 0) AS DOUBLE) * 1000.0
       |      / CAST(st.nt AS DOUBLE), 6) AS DECIMAL(18,6)) AS rate
       |  FROM st CROSS JOIN panel
       |  LEFT JOIN sw ON sw.source = st.source AND sw.w = panel.w),
       |ws AS (SELECT w, COUNT(*) AS ns, SUM(rate) AS sr,
       |    SUM(CAST(rate * rate AS DECIMAL(38,12))) AS srr
       |  FROM rates GROUP BY 1),
       |z AS (SELECT r.source, r.w,
       |    CAST(round(CAST(r.rate - ws.sr / ws.ns AS DOUBLE)
       |      / sqrt((CAST(ws.srr AS DOUBLE)
       |          - CAST(ws.sr * ws.sr AS DOUBLE) / CAST(ws.ns AS DOUBLE))
       |        / CAST(ws.ns AS DOUBLE)), 6) AS DECIMAL(18,6)) AS z
       |  FROM rates r JOIN ws ON ws.w = r.w),
       |pairs AS (SELECT a.source AS sa, b.source AS sb,
       |    round(CAST(SUM(abs(a.z - b.z)) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE), 6) AS delta_r
       |  FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
       |  GROUP BY 1, 2),
       |rk AS (SELECT CAST(rank() OVER (ORDER BY delta_r, sa, sb) AS INT)
       |    AS rnk, sa, sb, delta_r
       |  FROM pairs)
       |SELECT rnk, sa, sb, delta_r FROM rk WHERE rnk <= 5
       |ORDER BY rnk, sa, sb""".stripMargin
  }

  // ------------------------------------------------------------------
  // ann_range_search — all-pairs-within-τ cosine range query: for 5
  // md5-chosen probe vectors, return EVERY corpus vector with
  // cosine ≥ 0.2 (range semantics — the recall-audit twin of top-k,
  // where the answer SIZE is data-dependent). Cosine runs over the
  // frozen-decimal dims: dot and the two norms are exact decimal
  // sums shuffled on the dim key; the single √ product and the
  // division happen in ONE rounded double per pair. Returns per-
  // probe neighbor counts + id checksum + the max cosine — bounded
  // output regardless of how many neighbors fall inside τ.
  // ------------------------------------------------------------------
  private val annRangeSearch: QFn = (s, dir) => {
    val pts = graft.ml.KMeans.pointsLong(t(s, dir, "embeddings"))
      .localCheckpoint(true)
    val probeIds = t(s, dir, "embeddings")
      .select(col("vec_id"),
        md5(concat(lit("rs:"), col("vec_id").cast("string"))).as("h"))
    val probes = graft.operators.TopK.rankTopK(probeIds, 5,
        Seq(col("h").asc, col("vec_id").asc), "prnk")
      .select(col("vec_id").as("qid"))
    val qpts = pts.join(broadcast(probes), col("vec_id") === col("qid"))
      .select(col("qid"), col("dim"), col("vd").as("qd"))
    val norms = pts.groupBy("vec_id")
      .agg(sum((col("vd") * col("vd")).cast(DecimalType(38, 12)))
        .as("x2"))
      .localCheckpoint(true)
    val dots = pts.join(qpts, "dim")
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum((col("vd") * col("qd")).cast(DecimalType(38, 12)))
        .as("dot"))
    val cos = dots
      .join(norms, "vec_id")
      .join(broadcast(norms.select(col("vec_id").as("qid"),
        col("x2").as("q2"))), "qid")
      .select(col("qid"), col("vec_id"),
        round(col("dot").cast("double") /
          sqrt(col("x2").cast("double") * col("q2").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("cos"))
      .filter(col("cos") >= 0.2)
    cos.groupBy("qid")
      .agg(count(lit(1)).as("n_neighbors"),
        sum(col("vec_id")).cast("long").as("id_checksum"),
        max(col("cos")).cast("string").as("max_cos"))
      .orderBy("qid")
  }
  private val annRangeSearchSql =
    """WITH pts AS (SELECT vec_id, dim - 1 AS dim,
      |    CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)) AS vd
      |  FROM (SELECT vec_id, unnest(embedding) AS v,
      |      generate_subscripts(embedding, 1) AS dim
      |    FROM embeddings)),
      |pr AS (SELECT vec_id AS qid FROM (SELECT vec_id,
      |      md5('rs:' || CAST(vec_id AS VARCHAR)) AS h
      |    FROM embeddings)
      |  QUALIFY rank() OVER (ORDER BY h, vec_id) <= 5),
      |qp AS (SELECT pr.qid, p.dim, p.vd AS qd
      |  FROM pts p JOIN pr ON pr.qid = p.vec_id),
      |norms AS (SELECT vec_id,
      |    SUM(CAST(vd * vd AS DECIMAL(38,12))) AS x2
      |  FROM pts GROUP BY 1),
      |dots AS (SELECT q.qid, p.vec_id,
      |    SUM(CAST(p.vd * q.qd AS DECIMAL(38,12))) AS dot
      |  FROM pts p JOIN qp q ON q.dim = p.dim
      |  WHERE p.vec_id <> q.qid
      |  GROUP BY 1, 2),
      |cos AS (SELECT d.qid, d.vec_id,
      |    CAST(round(CAST(d.dot AS DOUBLE)
      |      / sqrt(CAST(nx.x2 AS DOUBLE) * CAST(nq.x2 AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS cos
      |  FROM dots d JOIN norms nx ON nx.vec_id = d.vec_id
      |  JOIN norms nq ON nq.vec_id = d.qid)
      |SELECT qid, COUNT(*) AS n_neighbors,
      |  CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
      |  CAST(MAX(cos) AS VARCHAR) AS max_cos
      |FROM cos WHERE cos >= 0.2
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "t_style_fingerprint" -> tStyleFingerprint,
    "ann_range_search" -> annRangeSearch)

  val oracleSql: Map[String, String] = Map(
    "t_style_fingerprint" -> tStyleFingerprintSql,
    "ann_range_search" -> annRangeSearchSql)
}

/** Round-5 widening, eleventh pack: the classifier evaluation report
  * (confusion matrix → precision/recall/F1/MCC — the table every
  * model review opens with, here on the backtested prior-spend →
  * future-buyer rule), behavioral user-similarity search (event-mix
  * share vectors + cosine — the collaborative-filtering primitive on
  * the behavior axis), and a JSON construction/extraction pack
  * (to_json ∘ get_json_object round-trips and JSON-array handling —
  * the semi-structured function surface beyond ev_json_extract's
  * schema parse).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier23Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // ml_eval_report — the full binary-classification scorecard for the
  // median-prior-spend rule (predict "future buyer" when pre-1998
  // spend ≥ the exact median): TP/FP/TN/FN from one aggregation,
  // then accuracy, precision, recall, F1 and Matthews correlation —
  // each ONE rounded double over the exact integer cells (the MCC
  // numerator TP·TN−FP·FN stays in exact BIGINT). The median is the
  // engine-shared interpolated percentile; the label pass and the
  // confusion pass are two key-partitioned aggregates — the whole
  // report costs two scans of the per-customer table at any scale.
  // ------------------------------------------------------------------
  private val mlEvalReport: QFn = (s, dir) => {
    val cust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(when(year(col("o_orderdate")) < 1998,
          col("o_totalprice").cast(DecimalType(18, 4)))).as("pre_spend"),
        max(when(year(col("o_orderdate")) >= 1998, 1L).otherwise(0L))
          .as("buyer"))
      .filter(col("pre_spend").isNotNull)
      .localCheckpoint(true)
    val med = cust.agg(expr(
      "percentile(CAST(pre_spend AS DOUBLE), 0.5)").as("med"))
    val conf = cust.crossJoin(broadcast(med))
      .select(
        when(col("pre_spend").cast("double") >= col("med"), 1L)
          .otherwise(0L).as("pred"), col("buyer"))
      .agg(
        sum(when(col("pred") === 1 && col("buyer") === 1, 1L)
          .otherwise(0L)).cast("long").as("tp"),
        sum(when(col("pred") === 1 && col("buyer") === 0, 1L)
          .otherwise(0L)).cast("long").as("fp"),
        sum(when(col("pred") === 0 && col("buyer") === 0, 1L)
          .otherwise(0L)).cast("long").as("tn"),
        sum(when(col("pred") === 0 && col("buyer") === 1, 1L)
          .otherwise(0L)).cast("long").as("fn"))
    val tp = col("tp").cast("double"); val fp = col("fp").cast("double")
    val tn = col("tn").cast("double"); val fn = col("fn").cast("double")
    // zero-cell guards: a degenerate confusion matrix (no predicted or
    // no actual positives) reports 0, not a crash — the convention
    // sklearn uses with zero_division=0
    conf.select(col("tp"), col("fp"), col("tn"), col("fn"),
      round((tp + tn) / (tp + tn + fp + fn), 6).as("accuracy_r"),
      when(col("tp") + col("fp") === 0, lit(0.0))
        .otherwise(round(tp / (tp + fp), 6)).as("precision_r"),
      when(col("tp") + col("fn") === 0, lit(0.0))
        .otherwise(round(tp / (tp + fn), 6)).as("recall_r"),
      when(lit(2L) * col("tp") + col("fp") + col("fn") === 0, lit(0.0))
        .otherwise(round(lit(2.0) * tp / (lit(2.0) * tp + fp + fn), 6))
        .as("f1_r"),
      when((col("tp") + col("fp")) * (col("tp") + col("fn")) *
          (col("tn") + col("fp")) * (col("tn") + col("fn")) === 0,
          lit(0.0))
        .otherwise(round((col("tp") * col("tn") - col("fp") * col("fn"))
            .cast("double") /
          sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)), 6))
        .as("mcc_r"))
  }
  private val mlEvalReportSql =
    """WITH cust AS (SELECT o_custkey,
      |    SUM(CASE WHEN year(o_orderdate) < 1998
      |      THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS pre_spend,
      |    MAX(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END)
      |      AS buyer
      |  FROM orders GROUP BY 1),
      |c2 AS (SELECT * FROM cust WHERE pre_spend IS NOT NULL),
      |m AS (SELECT quantile_cont(CAST(pre_spend AS DOUBLE), 0.5) AS med
      |  FROM c2),
      |conf AS (SELECT
      |    CAST(SUM(CASE WHEN CAST(pre_spend AS DOUBLE) >= med
      |      AND buyer = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |    CAST(SUM(CASE WHEN CAST(pre_spend AS DOUBLE) >= med
      |      AND buyer = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |    CAST(SUM(CASE WHEN CAST(pre_spend AS DOUBLE) < med
      |      AND buyer = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
      |    CAST(SUM(CASE WHEN CAST(pre_spend AS DOUBLE) < med
      |      AND buyer = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      |  FROM c2 CROSS JOIN m)
      |SELECT tp, fp, tn, fn,
      |  round((CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE))
      |    / (CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE)
      |      + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE)), 6) AS accuracy_r,
      |  CASE WHEN tp + fp = 0 THEN 0.0 ELSE round(CAST(tp AS DOUBLE)
      |    / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)), 6) END
      |    AS precision_r,
      |  CASE WHEN tp + fn = 0 THEN 0.0 ELSE round(CAST(tp AS DOUBLE)
      |    / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)), 6) END
      |    AS recall_r,
      |  CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
      |    ELSE round(2.0 * CAST(tp AS DOUBLE)
      |      / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
      |        + CAST(fn AS DOUBLE)), 6) END AS f1_r,
      |  CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) = 0
      |    THEN 0.0
      |    ELSE round(CAST(tp * tn - fp * fn AS DOUBLE)
      |      / sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
      |        * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
      |        * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE))
      |        * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE))), 6) END
      |    AS mcc_r
      |FROM conf""".stripMargin

  // ------------------------------------------------------------------
  // ev_user_similarity — behavioral nearest neighbors: each user's
  // event-type MIX (share of clicks/views/purchases/... among their
  // events, frozen DECIMAL(18,6)) is a 5-dim behavior vector; for 5
  // md5-chosen probe users, the top-3 most cosine-similar other
  // users surface. Shares join on the tiny event-type key, cosine
  // numerator/norms are exact decimal sums, ONE rounded double per
  // pair; the per-probe window ranks |probes|·|users| pairs — linear
  // in users for a fixed probe set, the same bounded-probe contract
  // as ann_range_search. Behavioral twins power both recommendation
  // and fraud ("accounts that behave identically").
  // ------------------------------------------------------------------
  private val evUserSimilarity: QFn = (s, dir) => {
    val mix = t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("nt", sum(col("c")).over(
        Window.partitionBy("user_id")))
      .select(col("user_id"), col("event_type"),
        round(col("c").cast("double") / col("nt").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("share"))
      .localCheckpoint(true)
    val probes = graft.operators.TopK.rankTopK(
        mix.select(col("user_id")).distinct()
          .select(col("user_id"),
            md5(concat(lit("us:"), col("user_id").cast("string")))
              .as("h")), 5,
        Seq(col("h").asc, col("user_id").asc), "prnk")
      .select(col("user_id").as("probe"))
    val norms = mix.groupBy("user_id")
      .agg(sum((col("share") * col("share")).cast(DecimalType(38, 12)))
        .as("n2"))
      .localCheckpoint(true)
    val pShares = mix.join(broadcast(probes),
        col("user_id") === col("probe"))
      .select(col("probe"), col("event_type"), col("share").as("ps"))
    val dots = mix.join(broadcast(pShares), "event_type")
      .filter(col("user_id") =!= col("probe"))
      .groupBy("probe", "user_id")
      .agg(sum((col("share") * col("ps")).cast(DecimalType(38, 12)))
        .as("dot"))
    val cos = dots
      .join(norms, "user_id")
      .join(broadcast(norms.select(col("user_id").as("probe"),
        col("n2").as("p2"))), "probe")
      .select(col("probe"), col("user_id"),
        round(col("dot").cast("double") /
          sqrt(col("n2").cast("double") * col("p2").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("cos"))
    val w = Window.partitionBy("probe")
      .orderBy(col("cos").desc, col("user_id").asc)
    cos.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("probe"), col("rnk"), col("user_id"),
        col("cos").cast("string").as("cosine"))
      .orderBy("probe", "rnk")
  }
  private val evUserSimilaritySql =
    """WITH mix AS (SELECT user_id, event_type,
      |    CAST(round(CAST(COUNT(*) AS DOUBLE)
      |      / CAST(SUM(COUNT(*)) OVER (PARTITION BY user_id) AS DOUBLE),
      |      6) AS DECIMAL(18,6)) AS share
      |  FROM events GROUP BY 1, 2),
      |pr AS (SELECT user_id AS probe FROM (SELECT DISTINCT user_id
      |    FROM mix),
      |    LATERAL (SELECT md5('us:' || CAST(user_id AS VARCHAR)) AS h)
      |  QUALIFY rank() OVER (ORDER BY h, user_id) <= 5),
      |norms AS (SELECT user_id,
      |    SUM(CAST(share * share AS DECIMAL(38,12))) AS n2
      |  FROM mix GROUP BY 1),
      |ps AS (SELECT pr.probe, mix.event_type, mix.share AS ps
      |  FROM mix JOIN pr ON pr.probe = mix.user_id),
      |dots AS (SELECT ps.probe, mix.user_id,
      |    SUM(CAST(mix.share * ps.ps AS DECIMAL(38,12))) AS dot
      |  FROM mix JOIN ps ON ps.event_type = mix.event_type
      |  WHERE mix.user_id <> ps.probe
      |  GROUP BY 1, 2),
      |cos AS (SELECT d.probe, d.user_id,
      |    CAST(round(CAST(d.dot AS DOUBLE)
      |      / sqrt(CAST(nx.n2 AS DOUBLE) * CAST(np.n2 AS DOUBLE)), 6)
      |      AS DECIMAL(18,6)) AS cos
      |  FROM dots d JOIN norms nx ON nx.user_id = d.user_id
      |  JOIN norms np ON np.user_id = d.probe),
      |rk AS (SELECT probe, user_id, cos,
      |    row_number() OVER (PARTITION BY probe
      |      ORDER BY cos DESC, user_id) AS rnk
      |  FROM cos)
      |SELECT probe, CAST(rnk AS INT) AS rnk, user_id,
      |  CAST(cos AS VARCHAR) AS cosine
      |FROM rk WHERE rnk <= 3
      |ORDER BY probe, rnk""".stripMargin

  // ------------------------------------------------------------------
  // f_json_pack — JSON construction + path extraction round-trip:
  // each order serializes to a JSON document (scalars via struct →
  // to_json; the order's line quantities as a JSON ARRAY), then the
  // fields come BACK out through path extraction (get_json_object /
  // json_extract) and aggregate. The check is value-based — each
  // engine round-trips through its OWN json formatter, so the hash
  // pins extraction semantics (paths, array indexing, array length,
  // missing-path → NULL), not byte-level whitespace. One join to
  // collect the arrays, one aggregation — plain key-partitioned
  // shapes.
  // ------------------------------------------------------------------
  private val fJsonPack: QFn = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(to_json(sort_array(collect_list(col("l_linenumber"))))
        .as("lines_json"))
    val doc = t(s, dir, "orders")
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"),
        to_json(struct(col("o_orderkey").as("key"),
          col("o_orderpriority").as("pri"))).as("doc"),
        col("lines_json"))
    doc.select(
        get_json_object(col("doc"), "$.key").cast("long").as("k_back"),
        get_json_object(col("doc"), "$.pri").as("pri_back"),
        get_json_object(col("doc"), "$.missing").as("missing"),
        get_json_object(col("lines_json"), "$[0]").cast("long")
          .as("first_line"),
        when(col("lines_json").isNotNull,
          size(from_json(col("lines_json"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.IntegerType))))
          .otherwise(lit(null)).cast("long").as("n_lines"),
        col("o_orderkey"))
      .groupBy(col("pri_back"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("k_back") === col("o_orderkey"), 1L).otherwise(0L))
          .cast("long").as("n_key_roundtrip"),
        sum(when(col("missing").isNull, 1L).otherwise(0L))
          .cast("long").as("n_missing_null"),
        sum(coalesce(col("first_line"), lit(0L))).cast("long")
          .as("first_line_sum"),
        sum(coalesce(col("n_lines"), lit(0L))).cast("long")
          .as("total_lines"))
      .orderBy("pri_back")
  }
  private val fJsonPackSql =
    """WITH li AS (SELECT l_orderkey,
      |    CAST(to_json(list_sort(list(l_linenumber))) AS VARCHAR)
      |      AS lines_json
      |  FROM lineitem GROUP BY 1),
      |doc AS (SELECT o_orderkey,
      |    to_json(struct_pack(key := o_orderkey, pri := o_orderpriority))
      |      AS d,
      |    li.lines_json
      |  FROM orders LEFT JOIN li ON li.l_orderkey = o_orderkey),
      |ex AS (SELECT o_orderkey,
      |    CAST(json_extract_string(d, '$.key') AS BIGINT) AS k_back,
      |    json_extract_string(d, '$.pri') AS pri_back,
      |    json_extract_string(d, '$.missing') AS missing,
      |    CAST(json_extract_string(lines_json, '$[0]') AS BIGINT)
      |      AS first_line,
      |    CAST(json_array_length(lines_json) AS BIGINT) AS n_lines
      |  FROM doc)
      |SELECT pri_back, COUNT(*) AS n_orders,
      |  CAST(SUM(CASE WHEN k_back = o_orderkey THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_key_roundtrip,
      |  CAST(SUM(CASE WHEN missing IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_missing_null,
      |  CAST(SUM(COALESCE(first_line, 0)) AS BIGINT) AS first_line_sum,
      |  CAST(SUM(COALESCE(n_lines, 0)) AS BIGINT) AS total_lines
      |FROM ex GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ml_eval_report" -> mlEvalReport,
    "ev_user_similarity" -> evUserSimilarity,
    "f_json_pack" -> fJsonPack)

  val oracleSql: Map[String, String] = Map(
    "ml_eval_report" -> mlEvalReportSql,
    "ev_user_similarity" -> evUserSimilaritySql,
    "f_json_pack" -> fJsonPackSql)
}

/** Round-5 widening, twelfth pack: length-bucketed batch packing
  * (the dynamic-batching efficiency analysis every serving/training
  * stack runs — padding waste under naive vs length-bucketed
  * batching), Shewhart individuals control chart (SPC limits on the
  * daily order flow — the complement of q29's CUSUM, which detects
  * drifts; Shewhart catches spikes), and degree assortativity (the
  * Newman 2002 mixing coefficient: do well-connected parts co-occur
  * with each other?).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier24Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // p_length_batching — padding-waste accounting for batch size 8:
  // under NAIVE batching (doc_id order) each batch pads every doc to
  // the batch max token length; under LENGTH-BUCKETED batching (docs
  // ranked by (token_len, doc_id) — the sort the bucketing shuffle
  // realizes) batch-mates have near-equal lengths and the padding
  // collapses. Both assignments are rank÷8 expressions over two-phase
  // contiguous numberings (etl/SurrogateKeys.scalable: range partition
  // + zipWithIndex — no global window, no single-partition funnel);
  // per-batch stats are one groupBy each; the final row quantifies the
  // saving. The padding saved is the serving-cost argument for length
  // bucketing, stated as data.
  // ------------------------------------------------------------------
  private val pLengthBatching: QFn = (s, dir) => {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), TF.wsTokenCount(col("text")).cast("long")
        .as("tok"))
      .localCheckpoint(true)
    def waste(assigned: DataFrame): DataFrame = assigned
      .groupBy("batch")
      .agg(count(lit(1)).as("n"), sum(col("tok")).as("toks"),
        max(col("tok")).as("mx"))
      .agg(count(lit(1)).as("n_batches"),
        sum(col("toks")).cast("long").as("real_tokens"),
        sum(col("mx") * col("n")).cast("long").as("padded_tokens"))
    def batched(order: Seq[org.apache.spark.sql.Column]): DataFrame =
      graft.etl.SurrogateKeys.scalable(docs, "__rn", order)
        .withColumn("batch", ((col("__rn") - 1) / 8).cast("long"))
    val naive = waste(batched(Seq(col("doc_id"))))
    val bucketed = waste(batched(Seq(col("tok").asc, col("doc_id").asc)))
    naive.select(lit("naive").as("strategy"), col("n_batches"),
        col("real_tokens"), col("padded_tokens"))
      .unionByName(bucketed.select(lit("bucketed").as("strategy"),
        col("n_batches"), col("real_tokens"), col("padded_tokens")))
      .select(col("strategy"), col("n_batches"), col("real_tokens"),
        col("padded_tokens"),
        round((col("padded_tokens") - col("real_tokens")).cast("double") /
          col("padded_tokens").cast("double"), 6).as("waste_r"))
      .orderBy("strategy")
  }
  private val pLengthBatchingSql = {
    val tokCnt = TF.wsTokenCountSql("text")
    s"""WITH docs AS (SELECT doc_id, CAST($tokCnt AS BIGINT) AS tok
       |  FROM documents),
       |na AS (SELECT (row_number() OVER (ORDER BY doc_id) - 1) // 8
       |    AS batch, tok FROM docs),
       |bu AS (SELECT (row_number() OVER (ORDER BY tok, doc_id) - 1) // 8
       |    AS batch, tok FROM docs),
       |nw AS (SELECT COUNT(*) AS n_batches,
       |    CAST(SUM(toks) AS BIGINT) AS real_tokens,
       |    CAST(SUM(mx * n) AS BIGINT) AS padded_tokens
       |  FROM (SELECT batch, COUNT(*) AS n, SUM(tok) AS toks,
       |      MAX(tok) AS mx FROM na GROUP BY 1)),
       |bw AS (SELECT COUNT(*) AS n_batches,
       |    CAST(SUM(toks) AS BIGINT) AS real_tokens,
       |    CAST(SUM(mx * n) AS BIGINT) AS padded_tokens
       |  FROM (SELECT batch, COUNT(*) AS n, SUM(tok) AS toks,
       |      MAX(tok) AS mx FROM bu GROUP BY 1))
       |SELECT strategy, n_batches, real_tokens, padded_tokens,
       |  round(CAST(padded_tokens - real_tokens AS DOUBLE)
       |    / CAST(padded_tokens AS DOUBLE), 6) AS waste_r
       |FROM (SELECT 'naive' AS strategy, * FROM nw
       |      UNION ALL SELECT 'bucketed', * FROM bw)
       |ORDER BY strategy""".stripMargin
  }

  // ------------------------------------------------------------------
  // a48_control_chart — Shewhart individuals chart on the daily
  // order count: center line = mean daily count, sigma estimated
  // from the mean absolute successive difference (the moving-range
  // method, MR̄/d₂ with d₂ = 1.128 for n=2 — the standard individuals-
  // chart estimator, robust to the series' own trend), limits at
  // ±3σ. Flags every out-of-control day. The moving range is one
  // lag() over the date-ordered daily aggregate (data-scale-
  // invariant table); everything else is exact integer sums with ONE
  // rounded double per emitted limit. Output: per out-of-control day
  // a row, plus the 'LIMITS' summary row.
  // ------------------------------------------------------------------
  private val a48ControlChart: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val mr = daily
      .withColumn("prev", lag(col("n"), 1).over(Window.orderBy("d")))
      .filter(col("prev").isNotNull)
      .agg(count(lit(1)).as("nmr"),
        sum(abs(col("n") - col("prev"))).as("smr"))
    val st = daily.agg(count(lit(1)).as("nd"), sum(col("n")).as("sn"))
    val limits = st.crossJoin(mr)
      .select(
        round(col("sn").cast("double") / col("nd").cast("double"), 6)
          .as("cl"),
        round((col("smr").cast("double") / col("nmr").cast("double")) /
          1.128, 6).as("sigma"))
      .select(col("cl"), col("sigma"),
        round(col("cl") + lit(3.0) * col("sigma"), 6).as("ucl"),
        round(col("cl") - lit(3.0) * col("sigma"), 6).as("lcl"))
    val ooc = daily.crossJoin(broadcast(limits))
      .filter(col("n") > col("ucl") || col("n") < col("lcl"))
      .select(col("d").cast("string").as("day"),
        col("n").cast("long").as("value"),
        lit("out_of_control").as("kind"))
    val sumRow = limits.crossJoin(ooc.agg(count(lit(1)).as("n_ooc")))
      .select(lit("LIMITS").as("day"), col("n_ooc").as("value"),
        concat(lit("cl="), col("cl").cast("string"), lit(" ucl="),
          col("ucl").cast("string"), lit(" lcl="),
          col("lcl").cast("string")).as("kind"))
    ooc.unionByName(sumRow).orderBy("day")
  }
  private val a48ControlChartSql =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
      |    COUNT(*) AS n
      |  FROM orders GROUP BY 1),
      |mr AS (SELECT COUNT(*) AS nmr, SUM(ABS(n - prev)) AS smr
      |  FROM (SELECT n, lag(n) OVER (ORDER BY d) AS prev FROM daily)
      |  WHERE prev IS NOT NULL),
      |st AS (SELECT COUNT(*) AS nd, SUM(n) AS sn FROM daily),
      |lim0 AS (SELECT
      |    round(CAST(st.sn AS DOUBLE) / CAST(st.nd AS DOUBLE), 6) AS cl,
      |    round((CAST(mr.smr AS DOUBLE) / CAST(mr.nmr AS DOUBLE))
      |      / 1.128, 6) AS sigma
      |  FROM st CROSS JOIN mr),
      |lim AS (SELECT cl, sigma,
      |    round(cl + 3.0 * sigma, 6) AS ucl,
      |    round(cl - 3.0 * sigma, 6) AS lcl
      |  FROM lim0),
      |ooc AS (SELECT CAST(d AS VARCHAR) AS day,
      |    CAST(n AS BIGINT) AS value, 'out_of_control' AS kind
      |  FROM daily CROSS JOIN lim
      |  WHERE n > ucl OR n < lcl)
      |SELECT * FROM ooc
      |UNION ALL
      |SELECT 'LIMITS',
      |  (SELECT COUNT(*) FROM ooc),
      |  'cl=' || CAST(cl AS VARCHAR) || ' ucl=' || CAST(ucl AS VARCHAR)
      |    || ' lcl=' || CAST(lcl AS VARCHAR)
      |FROM lim
      |ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // g_assortativity — Newman degree assortativity of the co-purchase
  // graph (part pairs sharing ≥2 orders): the Pearson correlation of
  // endpoint degrees over the DIRECTED edge list (both orientations,
  // the standard undirected convention). Degrees are exact counts;
  // the correlation runs on the a14 moment idiom (exact decimal
  // Σx, Σy, Σxx, Σyy, Σxy over the edge list → double once → one
  // fixed expression tree). Positive r = hubs buy with hubs
  // (assortative); negative = hub-leaf structure. One groupBy for
  // degrees + one broadcast-joined moment pass over the edges.
  // ------------------------------------------------------------------
  private val gAssortativity: QFn = (s, dir) => {
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = op.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = op.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val e0 = a.join(b, "l_orderkey").filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("nb"))
      .filter(col("nb") >= 2)
      .select(col("pa"), col("pb"))
      .localCheckpoint(true)
    val e = e0.unionAll(e0.select(col("pb").as("pa"), col("pa").as("pb")))
    val deg = e.groupBy(col("pa").as("v")).agg(count(lit(1)).as("deg"))
    val xy = e
      .join(deg.select(col("v").as("pa"), col("deg").as("dx")), "pa")
      .join(deg.select(col("v").as("pb"), col("deg").as("dy")), "pb")
      .select(col("dx").cast(DecimalType(18, 0)).as("x"),
        col("dy").cast(DecimalType(18, 0)).as("y"))
    val m = xy.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).as("sx0"), sum(col("y")).as("sy0"),
      sum((col("x") * col("x")).cast(DecimalType(38, 0))).as("sxx0"),
      sum((col("x") * col("y")).cast(DecimalType(38, 0))).as("sxy0"),
      sum((col("y") * col("y")).cast(DecimalType(38, 0))).as("syy0"))
    val n = col("n")
    val sx = col("sx0").cast("double"); val sy = col("sy0").cast("double")
    val sxx = col("sxx0").cast("double"); val syy = col("syy0").cast("double")
    val sxy = col("sxy0").cast("double")
    m.select(n.as("n_directed_edges"),
      round((n * sxy - sx * sy) /
        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
        .as("assortativity_r"))
  }
  private val gAssortativitySql =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM op a JOIN op b USING (l_orderkey)
      |  WHERE a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS (SELECT pa, pb FROM e0 UNION ALL SELECT pb, pa FROM e0),
      |deg AS (SELECT pa AS v, COUNT(*) AS deg FROM e GROUP BY 1),
      |xy AS (SELECT CAST(dx.deg AS DECIMAL(18,0)) AS x,
      |    CAST(dy.deg AS DECIMAL(18,0)) AS y
      |  FROM e JOIN deg dx ON dx.v = e.pa JOIN deg dy ON dy.v = e.pb),
      |m AS (SELECT COUNT(*) AS n, SUM(x) AS sx0, SUM(y) AS sy0,
      |    SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx0,
      |    SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy0,
      |    SUM(CAST(y * y AS DECIMAL(38,0))) AS syy0
      |  FROM xy),
      |d AS (SELECT n,
      |    CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) AS sx,
      |    CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) AS sy,
      |    CAST(CAST(sxx0 AS VARCHAR) AS DOUBLE) AS sxx,
      |    CAST(CAST(sxy0 AS VARCHAR) AS DOUBLE) AS sxy,
      |    CAST(CAST(syy0 AS VARCHAR) AS DOUBLE) AS syy
      |  FROM m)
      |SELECT n AS n_directed_edges,
      |  round((n * sxy - sx * sy)
      |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
      |    AS assortativity_r
      |FROM d""".stripMargin

  val queries: Map[String, QFn] = Map(
    "p_length_batching" -> pLengthBatching,
    "a48_control_chart" -> a48ControlChart,
    "g_assortativity" -> gAssortativity)

  val oracleSql: Map[String, String] = Map(
    "p_length_batching" -> pLengthBatchingSql,
    "a48_control_chart" -> a48ControlChartSql,
    "g_assortativity" -> gAssortativitySql)
}

/** Round-5 widening, thirteenth pack: the sample-ratio-mismatch
  * guardrail (the first check every experimentation platform runs —
  * a skewed 50/50 split invalidates the experiment before any
  * metric is read), time-sliced completeness drift (incomplete-rate
  * trends with a planted outage, the DQ signal that catches an
  * upstream field going dark), and purchase-velocity flags (the
  * rolling-window fraud rule — the range frame at its most
  * operational).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier25Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // ev_ab_srm_check — sample ratio mismatch: users hash-assign to
  // A/B via md5 parity (the deterministic assignment x-pack entries
  // already use), and the guardrail is the one-degree chi-square
  // statistic of observed-vs-expected 50/50 counts, computed in the
  // all-integer form (nA−nB)²/(nA+nB). Statistic > 3.84 (χ²₀.₀₅,₁)
  // flags the split. Also reported per event-type — a per-segment
  // SRM localizes WHICH funnel stage leaks users. Counting is one
  // groupBy over the assignment expression; nothing else moves.
  // ------------------------------------------------------------------
  private val evAbSrmCheck: QFn = (s, dir) => {
    val assigned = t(s, dir, "events")
      .select(col("event_type"), col("user_id"),
        (conv(substring(md5(concat(lit("ab:"),
          col("user_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 2).as("arm"))
      .select(col("event_type"), col("user_id"), col("arm"))
      .distinct() // one vote per (stage, user)
    val per = assigned.groupBy("event_type")
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"))
    val tot = assigned.select(col("user_id"), col("arm")).distinct()
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"))
      .select(lit("ALL").as("event_type"), col("na"), col("nb"))
    per.unionByName(tot)
      .select(col("event_type"), col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        round(((col("na") - col("nb")) * (col("na") - col("nb")))
          .cast("double") / (col("na") + col("nb")).cast("double"), 6)
          .as("chi2_r"),
        (((col("na") - col("nb")) * (col("na") - col("nb")))
          .cast("double") / (col("na") + col("nb")).cast("double")
          > 3.841459).as("srm_flag"))
      .orderBy("event_type")
  }
  private val evAbSrmCheckSql =
    """WITH a AS (SELECT DISTINCT event_type, user_id,
      |    CAST(('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)),
      |      1, 8)) AS BIGINT) % 2 AS arm
      |  FROM events),
      |per AS (SELECT event_type,
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb
      |  FROM a GROUP BY 1),
      |tot AS (SELECT 'ALL' AS event_type,
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb
      |  FROM (SELECT DISTINCT user_id, arm FROM a)),
      |u AS (SELECT * FROM per UNION ALL SELECT * FROM tot)
      |SELECT event_type, CAST(na AS BIGINT) AS n_a,
      |  CAST(nb AS BIGINT) AS n_b,
      |  round(CAST((na - nb) * (na - nb) AS DOUBLE)
      |    / CAST(na + nb AS DOUBLE), 6) AS chi2_r,
      |  CAST((na - nb) * (na - nb) AS DOUBLE)
      |    / CAST(na + nb AS DOUBLE) > 3.841459 AS srm_flag
      |FROM u ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // dq_completeness_trend — time-sliced completeness drift at DAILY
  // grain. The raw table ships with zero nulls, so the missingness
  // is PLANTED deterministically (the same planted-signal discipline
  // as the PII/URL entries): a 2% md5-derived base drop rate plus a
  // full-severity outage on day 17 (every even-hash event that day
  // loses its value). The operator is the real thing — daily
  // incomplete-rates, day-over-day delta via one lag(), a >5-point
  // drift flag — and the planted outage proves the alarm actually
  // fires exactly once and recovers exactly once. One scan, then
  // day-grain arithmetic.
  // ------------------------------------------------------------------
  private val dqCompletenessTrend: QFn = (s, dir) => {
    val h = conv(substring(md5(concat(lit("cq:"),
      col("event_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val daily = t(s, dir, "events")
      .select(expr("timestamp_micros(ts div 1000)").as("tsx"),
        col("event_id"))
      .select(dayofmonth(col("tsx")).cast("long").as("day"),
        when(h % 50 === 0 ||
          (dayofmonth(col("tsx")) === 17 && h % 2 === 0), 1L)
          .otherwise(0L).as("missing"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), sum(col("missing")).as("nm"))
    val w = Window.orderBy("day")
    daily
      .select(col("day"), col("n").cast("long").as("n_events"),
        round(col("nm").cast("double") / col("n").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("missing_rate"))
      .withColumn("prev", lag(col("missing_rate"), 1).over(w))
      .select(col("day"), col("n_events"),
        col("missing_rate").cast("string").as("missing_rate"),
        (col("prev").isNotNull &&
          abs(col("missing_rate") - col("prev")) > 0.05)
          .as("drift_flag"))
      .orderBy("day")
  }
  private val dqCompletenessTrendSql =
    """WITH e AS (SELECT day(ts) AS day,
      |    CASE WHEN CAST(('0x' || substring(md5('cq:'
      |        || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 50 = 0
      |      OR (day(ts) = 17
      |        AND CAST(('0x' || substring(md5('cq:'
      |          || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0)
      |    THEN 1 ELSE 0 END AS missing
      |  FROM events),
      |m AS (SELECT day, COUNT(*) AS n, SUM(missing) AS nm FROM e
      |  GROUP BY 1),
      |r AS (SELECT CAST(day AS BIGINT) AS day,
      |    CAST(n AS BIGINT) AS n_events,
      |    CAST(round(CAST(nm AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS missing_rate
      |  FROM m)
      |SELECT day, n_events,
      |  CAST(missing_rate AS VARCHAR) AS missing_rate,
      |  lag(missing_rate) OVER (ORDER BY day) IS NOT NULL
      |    AND abs(missing_rate - lag(missing_rate) OVER (ORDER BY day))
      |      > 0.05 AS drift_flag
      |FROM r ORDER BY day""".stripMargin

  // ------------------------------------------------------------------
  // ev_velocity_flags — rolling-window velocity rule: for every
  // purchase, count the same user's purchases in the trailing HOUR
  // (a RANGE frame on the second-granular event time, per user
  // partition); users whose peak velocity reaches 2+ flag as
  // high-velocity (the one-month synthetic stream tops out there —
  // the threshold is config, the frame is the operator). The range
  // frame is the operational form of "N transactions per window" —
  // per-user partitions keep it key-parallel at any scale. Output:
  // per flagged user their peak burst size and when it peaked
  // (earliest peak, total tie-break).
  // ------------------------------------------------------------------
  private val evVelocityFlags: QFn = (s, dir) => {
    val p = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000000000").as("sec"))
    val w = Window.partitionBy("user_id").orderBy("sec")
      .rangeBetween(-3600, 0)
    val counted = p.withColumn("burst", count(lit(1)).over(w))
    val peak = counted.groupBy("user_id")
      .agg(max(col("burst")).as("peak_burst"))
      .filter(col("peak_burst") >= 2)
    counted.join(peak, "user_id")
      .filter(col("burst") === col("peak_burst"))
      .groupBy("user_id", "peak_burst")
      .agg(min(col("sec")).as("peak_sec"),
        count(lit(1)).as("n_at_peak"))
      .select(col("user_id"), col("peak_burst").cast("long")
        .as("peak_burst"), col("peak_sec").cast("long").as("peak_sec"),
        col("n_at_peak").cast("long").as("n_at_peak"))
      .orderBy("user_id")
  }
  private val evVelocityFlagsSql =
    """WITH p AS (SELECT user_id, event_id,
      |    epoch_us(ts) // 1000000 AS sec
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, sec,
      |    COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
      |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS burst
      |  FROM p),
      |pk AS (SELECT user_id, MAX(burst) AS peak_burst FROM c
      |  GROUP BY 1 HAVING MAX(burst) >= 2)
      |SELECT c.user_id, CAST(pk.peak_burst AS BIGINT) AS peak_burst,
      |  CAST(MIN(c.sec) AS BIGINT) AS peak_sec,
      |  COUNT(*) AS n_at_peak
      |FROM c JOIN pk ON pk.user_id = c.user_id
      |  AND c.burst = pk.peak_burst
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "ev_ab_srm_check" -> evAbSrmCheck,
    "dq_completeness_trend" -> dqCompletenessTrend,
    "ev_velocity_flags" -> evVelocityFlags)

  val oracleSql: Map[String, String] = Map(
    "ev_ab_srm_check" -> evAbSrmCheckSql,
    "dq_completeness_trend" -> dqCompletenessTrendSql,
    "ev_velocity_flags" -> evVelocityFlagsSql)
}

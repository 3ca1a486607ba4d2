package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

// Contents (one object per original pack, APIs unchanged):
//   Frontier36Queries: s31_dict_advisor, ml_learning_curve, f_argmax_pack
//   Frontier37Queries: g_ppr, w41_percentile_bands, a58_trimmed_mean
//   Frontier38Queries: a59_two_proportion, x19_erasure_proof, a60_capture_recapture
//   Frontier39Queries: d_modality_agreement, s32_rle_advisor, d_dedup_bias

/** Round-5 widening, twenty-fourth pack: the dictionary-encoding
  * advisor (per string column, cardinality ratios → estimated bytes
  * saved — the storage-layout recommendation a table optimizer
  * emits), the learning curve (the stump fit on growing hash
  * fractions against one fixed held-out fold — "would more data
  * help?" answered as data), and the argmax-aggregate pack
  * (max_by/min_by surfaced as first-class — the single-pass
  * greatest-per-group that replaces a window+filter).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier36Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // s31_dict_advisor — dictionary-encoding recommendations for the
  // orders/customer string columns: per column, distinct count,
  // total and average byte lengths, the dictionary-encoded estimate
  // (distinct values' bytes + a 4-byte code per row vs raw bytes),
  // and the encode/don't-encode verdict. All exact integer byte
  // arithmetic from two aggregation passes (per-column distincts
  // union'd into one result — the s12 profiling shape pointed at
  // storage planning). This is the advisor output a layout optimizer
  // acts on before a 100-TB rewrite.
  // ------------------------------------------------------------------
  private val s31DictAdvisor: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    def advise(df: DataFrame, cname: String): DataFrame = {
      val cc = col(cname)
      df.select(cc).agg(
        count(lit(1)).cast("long").as("n_rows"),
        countDistinct(cc).cast("long").as("n_distinct"),
        sum(length(cc)).cast("long").as("raw_bytes"))
        .crossJoin(df.select(cc).distinct()
          .agg(sum(length(cc)).cast("long").as("dict_value_bytes")))
        .select(lit(cname).as("column_name"), col("n_rows"),
          col("n_distinct"), col("raw_bytes"),
          (col("dict_value_bytes") + lit(4L) * col("n_rows"))
            .as("dict_bytes"),
          round(col("n_distinct").cast("double") /
            col("n_rows").cast("double"), 6).as("card_ratio_r"),
          (col("dict_value_bytes") + lit(4L) * col("n_rows") <
            col("raw_bytes")).as("encode"))
    }
    advise(o, "o_orderstatus")
      .unionByName(advise(o, "o_orderpriority"))
      .unionByName(advise(c, "c_mktsegment"))
      .unionByName(advise(c, "c_name"))
      .orderBy("column_name")
  }
  private val s31DictAdvisorSql = {
    def advise(tbl: String, cname: String): String =
      s"""SELECT '$cname' AS column_name,
         |  (SELECT COUNT(*) FROM $tbl) AS n_rows,
         |  (SELECT COUNT(DISTINCT $cname) FROM $tbl) AS n_distinct,
         |  (SELECT CAST(SUM(length($cname)) AS BIGINT) FROM $tbl)
         |    AS raw_bytes,
         |  (SELECT CAST(SUM(length($cname)) AS BIGINT)
         |    FROM (SELECT DISTINCT $cname FROM $tbl))
         |    + 4 * (SELECT COUNT(*) FROM $tbl) AS dict_bytes,
         |  round(CAST((SELECT COUNT(DISTINCT $cname) FROM $tbl)
         |      AS DOUBLE)
         |    / CAST((SELECT COUNT(*) FROM $tbl) AS DOUBLE), 6)
         |    AS card_ratio_r,
         |  (SELECT CAST(SUM(length($cname)) AS BIGINT)
         |    FROM (SELECT DISTINCT $cname FROM $tbl))
         |    + 4 * (SELECT COUNT(*) FROM $tbl)
         |    < (SELECT CAST(SUM(length($cname)) AS BIGINT) FROM $tbl)
         |    AS encode""".stripMargin
    s"""${advise("orders", "o_orderstatus")}
       |UNION ALL
       |${advise("orders", "o_orderpriority")}
       |UNION ALL
       |${advise("customer", "c_mktsegment")}
       |UNION ALL
       |${advise("customer", "c_name")}
       |ORDER BY column_name""".stripMargin
  }

  // ------------------------------------------------------------------
  // ml_learning_curve — would more data help? The month-bin stump
  // fits on nested hash fractions (25/50/75/100% of the md5 training
  // pool — NESTED so each bigger slice contains the smaller, the
  // honest learning-curve protocol) and every fit scores the SAME
  // held-out fold (hash class 0 never trains). Validation MSE
  // flattening with size = model capacity is the binding constraint,
  // not data — the decision between "collect more" and "model
  // better", measured. Each point is one bounded bin-aggregation +
  // one scoring pass.
  // ------------------------------------------------------------------
  private val mlLearningCurve: QFn = (s, dir) => {
    val rows = t(s, dir, "orders")
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("bin"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("y"),
        (conv(substring(md5(concat(lit("lc:"),
          col("o_orderkey").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 100).as("h"))
      .localCheckpoint(true)
    // h = 0..24 is the held-out fold; training pool h = 25..99,
    // nested slices by h upper bound
    def point(frac: Int, hi: Long): DataFrame = {
      val train = rows.filter(col("h") >= 25 && col("h") < hi)
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
      val best = cum.crossJoin(broadcast(tot))
        .filter(col("nl") < col("nt"))
        .select(col("bin").as("thr"), col("nl"), col("sl"),
          (col("nt") - col("nl")).as("nr"),
          (col("st") - col("sl")).as("sr"),
          round(((col("ql").cast("double") -
            col("sl").cast("double") * col("sl").cast("double") /
              col("nl").cast("double")) +
            ((col("qt") - col("ql")).cast("double") -
              (col("st") - col("sl")).cast("double") *
              (col("st") - col("sl")).cast("double") /
                (col("nt") - col("nl")).cast("double"))) / lit(1e6), 4)
            .as("sse_m"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("sse_m").asc, col("thr").asc)))
        .filter(col("rk") === 1)
        .select(col("thr"),
          round(col("sl").cast("double") / col("nl").cast("double"), 6)
            .cast(DecimalType(18, 6)).as("lm"),
          round(col("sr").cast("double") / col("nr").cast("double"), 6)
            .cast(DecimalType(18, 6)).as("rm"))
      val valScored = rows.filter(col("h") < 25)
        .crossJoin(broadcast(best))
        .select((round(col("y") - when(col("bin") <= col("thr"),
          col("lm")).otherwise(col("rm")), 4).cast(DecimalType(18, 4)))
          .as("r"))
        .select((col("r") * col("r")).cast(DecimalType(38, 8)).as("r2"))
      val trainN = train.count()
      valScored.agg(sum(col("r2")).as("sva"), count(lit(1)).as("nva"))
        .select(lit(frac).as("train_pct"), lit(trainN).as("n_train"),
          round(col("sva").cast("double") / col("nva").cast("double") /
            lit(1e6), 6).as("val_mse_m_r"))
    }
    point(25, 25 + 19).unionByName(point(50, 25 + 38))
      .unionByName(point(75, 25 + 56)).unionByName(point(100, 100))
      .orderBy("train_pct")
  }
  private val mlLearningCurveSql = {
    def point(frac: Int, hi: Long): String =
      s"""bins_$frac AS (SELECT bin, COUNT(*) AS n,
         |    CAST(SUM(y) AS DECIMAL(38,4)) AS sy,
         |    CAST(SUM(CAST(y AS DECIMAL(28,4)) * y) AS DECIMAL(38,8))
         |      AS qy
         |  FROM rows0 WHERE h >= 25 AND h < $hi GROUP BY 1),
         |cum_$frac AS (SELECT bin, SUM(n) OVER wb AS nl,
         |    CAST(SUM(sy) OVER wb AS DECIMAL(38,4)) AS sl,
         |    CAST(SUM(qy) OVER wb AS DECIMAL(38,8)) AS ql
         |  FROM bins_$frac
         |  WINDOW wb AS (ORDER BY bin
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |tot_$frac AS (SELECT SUM(n) AS nt,
         |    CAST(SUM(sy) AS DECIMAL(38,4)) AS st,
         |    CAST(SUM(qy) AS DECIMAL(38,8)) AS qt FROM bins_$frac),
         |best_$frac AS (SELECT thr,
         |    CAST(round(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) AS lm,
         |    CAST(round(CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE), 6)
         |      AS DECIMAL(18,6)) AS rm
         |  FROM (SELECT bin AS thr, nl, sl, nt - nl AS nr,
         |      st - sl AS sr,
         |      round(((CAST(ql AS DOUBLE)
         |          - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)
         |            / CAST(nl AS DOUBLE))
         |        + (CAST(qt - ql AS DOUBLE)
         |          - CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
         |            / CAST(nt - nl AS DOUBLE))) / 1e6, 4) AS sse_m
         |    FROM cum_$frac CROSS JOIN tot_$frac WHERE nl < nt)
         |  QUALIFY row_number() OVER (ORDER BY sse_m, thr) = 1),
         |res_$frac AS (SELECT $frac AS train_pct,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rows0
         |      WHERE h >= 25 AND h < $hi) AS n_train,
         |    round(CAST(SUM(CAST(CAST(round(rows0.y
         |        - CASE WHEN rows0.bin <= b.thr THEN b.lm ELSE b.rm END,
         |        4) AS DECIMAL(18,4)) AS DECIMAL(28,4))
         |      * CAST(round(rows0.y
         |        - CASE WHEN rows0.bin <= b.thr THEN b.lm ELSE b.rm END,
         |        4) AS DECIMAL(18,4))) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) / 1e6, 6) AS val_mse_m_r
         |  FROM rows0 CROSS JOIN best_$frac b WHERE rows0.h < 25)"""
        .stripMargin
    s"""WITH rows0 AS (SELECT
       |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
       |      AS bin,
       |    CAST(o_totalprice AS DECIMAL(18,4)) AS y,
       |    CAST(('0x' || substring(md5('lc:'
       |      || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100
       |      AS h
       |  FROM orders),
       |${point(25, 25 + 19)},
       |${point(50, 25 + 38)},
       |${point(75, 25 + 56)},
       |${point(100, 100)}
       |SELECT * FROM res_25 UNION ALL SELECT * FROM res_50
       |UNION ALL SELECT * FROM res_75 UNION ALL SELECT * FROM res_100
       |ORDER BY train_pct""".stripMargin
  }

  // ------------------------------------------------------------------
  // f_argmax_pack — the argmax-aggregate surface: max_by / min_by
  // answer "WHICH value attains the extreme" in ONE hash aggregate
  // (no window, no sort, no self-join — the pattern that replaces
  // row_number()=1 for plain greatest-per-group). Per nation: the
  // highest-value order's key and priority (max_by with the orderkey
  // tie-break packed into the ordering struct so both engines agree
  // on ties), the earliest order's key (min_by on date, same
  // discipline), all validated against exact max/min columns riding
  // alongside.
  // ------------------------------------------------------------------
  private val fArgmaxPack: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("tp"),
        col("o_orderpriority"), to_date(col("o_orderdate")).as("d"))
    // ties broken toward the SMALLER orderkey, packed into ONE BIGINT
    // ordering key both engines share: price (scale-4 int, ≤6e9) ×
    // 1e7 − orderkey (≤1e7 at these SFs; wider keys go DECIMAL)
    val packed = o
      .withColumn("kmax", expr(
        "cast(tp * 10000 as bigint) * 10000000L - o_orderkey"))
      .withColumn("kmin", expr(
        "datediff(d, date'1970-01-01') * 100000000L + o_orderkey"))
    packed.groupBy("n_name")
      .agg(
        expr("max_by(o_orderkey, kmax)").as("top_order_key"),
        expr("max_by(o_orderpriority, kmax)").as("top_order_priority"),
        max(col("tp")).cast("string").as("top_price"),
        expr("min_by(o_orderkey, kmin)").as("first_order_key"),
        min(col("d")).cast("string").as("first_date"))
      .orderBy("n_name")
  }
  private val fArgmaxPackSql =
    """WITH o AS (SELECT n_name, o_orderkey,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS tp,
      |    o_orderpriority, CAST(o_orderdate AS DATE) AS d
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |p AS (SELECT o.*,
      |    CAST(tp * 10000 AS BIGINT) * 10000000 - o_orderkey AS kmax,
      |    date_diff('day', DATE '1970-01-01', d) * 100000000
      |      + o_orderkey AS kmin
      |  FROM o)
      |SELECT n_name,
      |  arg_max(o_orderkey, kmax) AS top_order_key,
      |  arg_max(o_orderpriority, kmax) AS top_order_priority,
      |  CAST(MAX(tp) AS VARCHAR) AS top_price,
      |  arg_min(o_orderkey, kmin) AS first_order_key,
      |  CAST(MIN(d) AS VARCHAR) AS first_date
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "s31_dict_advisor" -> s31DictAdvisor,
    "ml_learning_curve" -> mlLearningCurve,
    "f_argmax_pack" -> fArgmaxPack)

  val oracleSql: Map[String, String] = Map(
    "s31_dict_advisor" -> s31DictAdvisorSql,
    "ml_learning_curve" -> mlLearningCurveSql,
    "f_argmax_pack" -> fArgmaxPackSql)
}

/** Round-5 widening, twenty-fifth pack: personalized PageRank (the
  * restart-at-the-seed variant behind "related items" — same sparse
  * iteration discipline as g_pagerank, different teleport vector),
  * monthly percentile bands (the p10/p50/p90 distribution-over-time
  * panel that catches shape changes a mean line hides), and the
  * trimmed mean (drop-the-tails robust location, the complement of
  * a23's clamp-the-tails winsorized mean).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier37Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // g_ppr — personalized PageRank from the highest-degree part (the
  // deterministic seed): 3 damped iterations π ← 0.15·e_seed +
  // 0.85·πP over the co-purchase graph, every per-edge contribution
  // rounded once and frozen as DECIMAL(18,9) so the sparse sums are
  // order-free (the g_pagerank discipline with a one-hot teleport).
  // Dangling mass redistributes to the seed — the standard PPR
  // absorption. Output: the top-10 most-related parts by final
  // score via the two-phase rankTopK, seed excluded. This is the
  // "customers who bought X" engine expressed declaratively.
  // ------------------------------------------------------------------
  private val gPpr: QFn = (s, dir) => {
    val op = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = op.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val b = op.select(col("l_orderkey"), col("l_partkey").as("pb"))
    val e0 = a.join(b, "l_orderkey").filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("nb"))
      .filter(col("nb") >= 2).select(col("pa"), col("pb"))
      .localCheckpoint(true)
    val e = e0.unionAll(e0.select(col("pb").as("pa"), col("pa").as("pb")))
      .localCheckpoint(true)
    val deg = e.groupBy(col("pa").as("v")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val seed = graft.operators.TopK.rankTopK(deg, 1,
        Seq(col("deg").desc, col("v").asc), "rk")
      .filter(col("rk") === 1).select(col("v").as("seed"))
      .localCheckpoint(true)
    // pi0 = one-hot on the seed
    val pi0 = deg.join(broadcast(seed), col("v") === col("seed"), "left")
      .select(col("v"),
        when(col("seed").isNotNull, lit(BigDecimal(1)))
          .otherwise(lit(BigDecimal(0)))
          .cast(DecimalType(18, 9)).as("pi"))
    def step(pi: DataFrame): DataFrame = {
      val spread = e
        .join(pi.select(col("v").as("pa"), col("pi").as("pv")), "pa")
        .join(deg.select(col("v").as("pa"), col("deg")), "pa")
        .select(col("pb").as("v"),
          round((col("pv").cast("double") / col("deg").cast("double")) *
            0.85, 9).cast(DecimalType(18, 9)).as("m"))
        .groupBy("v").agg(sum(col("m")).as("inflow"))
      // total inflow mass; the 1 - mass residue (teleport + rounding +
      // dangling) returns to the seed
      val massRow = spread.agg(sum(col("inflow")).as("mass"))
      deg.select(col("v"))
        .join(spread, Seq("v"), "left")
        .crossJoin(broadcast(massRow))
        .join(broadcast(seed), col("v") === col("seed"), "left")
        .select(col("v"),
          (coalesce(col("inflow"), lit(BigDecimal(0))
            .cast(DecimalType(18, 9))) +
           when(col("seed").isNotNull,
             (lit(BigDecimal(1)).cast(DecimalType(28, 9)) - col("mass"))
               .cast(DecimalType(18, 9)))
             .otherwise(lit(BigDecimal(0)).cast(DecimalType(18, 9))))
            .cast(DecimalType(18, 9)).as("pi"))
    }
    val pi3 = step(step(step(pi0)))
    val scored = pi3.join(broadcast(seed), col("v") === col("seed"),
        "left_anti")
      .select(col("v").as("l_partkey"),
        round(col("pi").cast("double"), 9).as("ppr_r"))
    graft.operators.TopK.rankTopK(scored, 10,
        Seq(col("ppr_r").desc, col("l_partkey").asc), "rnk")
      .select(col("rnk"), col("l_partkey"), col("ppr_r"))
      .orderBy("rnk", "l_partkey")
  }
  private val gPprSql =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM op a JOIN op b USING (l_orderkey)
      |  WHERE a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS (SELECT pa, pb FROM e0 UNION ALL SELECT pb, pa FROM e0),
      |deg AS (SELECT pa AS v, COUNT(*) AS deg FROM e GROUP BY 1),
      |seed AS (SELECT v AS seed FROM deg
      |  QUALIFY rank() OVER (ORDER BY deg DESC, v) = 1),
      |pi0 AS (SELECT deg.v,
      |    CAST(CASE WHEN seed.seed IS NOT NULL THEN 1 ELSE 0 END
      |      AS DECIMAL(18,9)) AS pi
      |  FROM deg LEFT JOIN seed ON seed.seed = deg.v),
      |sp1 AS (SELECT e.pb AS v,
      |    SUM(CAST(round((CAST(pi0.pi AS DOUBLE)
      |      / CAST(deg.deg AS DOUBLE)) * 0.85, 9) AS DECIMAL(18,9)))
      |      AS inflow
      |  FROM e JOIN pi0 ON pi0.v = e.pa
      |  JOIN deg ON deg.v = e.pa GROUP BY 1),
      |m1 AS (SELECT SUM(inflow) AS mass FROM sp1),
      |pi1 AS (SELECT deg.v,
      |    CAST(COALESCE(sp1.inflow, 0)
      |      + CASE WHEN seed.seed IS NOT NULL
      |        THEN CAST(1 - m1.mass AS DECIMAL(18,9)) ELSE 0 END
      |      AS DECIMAL(18,9)) AS pi
      |  FROM deg LEFT JOIN sp1 ON sp1.v = deg.v
      |  CROSS JOIN m1 LEFT JOIN seed ON seed.seed = deg.v),
      |sp2 AS (SELECT e.pb AS v,
      |    SUM(CAST(round((CAST(pi1.pi AS DOUBLE)
      |      / CAST(deg.deg AS DOUBLE)) * 0.85, 9) AS DECIMAL(18,9)))
      |      AS inflow
      |  FROM e JOIN pi1 ON pi1.v = e.pa
      |  JOIN deg ON deg.v = e.pa GROUP BY 1),
      |m2 AS (SELECT SUM(inflow) AS mass FROM sp2),
      |pi2 AS (SELECT deg.v,
      |    CAST(COALESCE(sp2.inflow, 0)
      |      + CASE WHEN seed.seed IS NOT NULL
      |        THEN CAST(1 - m2.mass AS DECIMAL(18,9)) ELSE 0 END
      |      AS DECIMAL(18,9)) AS pi
      |  FROM deg LEFT JOIN sp2 ON sp2.v = deg.v
      |  CROSS JOIN m2 LEFT JOIN seed ON seed.seed = deg.v),
      |sp3 AS (SELECT e.pb AS v,
      |    SUM(CAST(round((CAST(pi2.pi AS DOUBLE)
      |      / CAST(deg.deg AS DOUBLE)) * 0.85, 9) AS DECIMAL(18,9)))
      |      AS inflow
      |  FROM e JOIN pi2 ON pi2.v = e.pa
      |  JOIN deg ON deg.v = e.pa GROUP BY 1),
      |m3 AS (SELECT SUM(inflow) AS mass FROM sp3),
      |pi3 AS (SELECT deg.v,
      |    CAST(COALESCE(sp3.inflow, 0)
      |      + CASE WHEN seed.seed IS NOT NULL
      |        THEN CAST(1 - m3.mass AS DECIMAL(18,9)) ELSE 0 END
      |      AS DECIMAL(18,9)) AS pi
      |  FROM deg LEFT JOIN sp3 ON sp3.v = deg.v
      |  CROSS JOIN m3 LEFT JOIN seed ON seed.seed = deg.v),
      |sc AS (SELECT pi3.v AS l_partkey,
      |    round(CAST(pi3.pi AS DOUBLE), 9) AS ppr_r
      |  FROM pi3 LEFT JOIN seed ON seed.seed = pi3.v
      |  WHERE seed.seed IS NULL),
      |rk AS (SELECT CAST(rank() OVER (ORDER BY ppr_r DESC, l_partkey)
      |      AS INT) AS rnk, l_partkey, ppr_r
      |  FROM sc)
      |SELECT rnk, l_partkey, ppr_r FROM rk WHERE rnk <= 10
      |ORDER BY rnk, l_partkey""".stripMargin

  // ------------------------------------------------------------------
  // w41_percentile_bands — the distribution-over-time panel: exact
  // interpolated p10/p50/p90 of order price per month plus the
  // p90/p10 spread ratio. Means hide shape; bands show variance
  // regime changes. One percentile aggregate per month group —
  // at 100 TB the same panel runs on approx_percentile with
  // identical plan shape (the a_percentiles corridor discipline).
  // ------------------------------------------------------------------
  private val w41PercentileBands: QFn = (s, dir) => {
    t(s, dir, "orders")
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("mon"))
      .agg(count(lit(1)).as("n_orders"),
        expr("percentile(o_totalprice, 0.1)").as("p10"),
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"))
      .select(col("mon"), col("n_orders"),
        round(col("p10"), 4).as("p10_r"), round(col("p50"), 4)
          .as("p50_r"), round(col("p90"), 4).as("p90_r"),
        round(col("p90") / col("p10"), 6).as("spread_r"))
      .orderBy("mon")
  }
  private val w41PercentileBandsSql =
    """SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate)
      |    AS BIGINT) AS mon,
      |  COUNT(*) AS n_orders,
      |  round(quantile_cont(o_totalprice, 0.1), 4) AS p10_r,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50_r,
      |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90_r,
      |  round(quantile_cont(o_totalprice, 0.9)
      |    / quantile_cont(o_totalprice, 0.1), 6) AS spread_r
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // a58_trimmed_mean — 5% two-sided trimmed mean of order price per
  // segment: values strictly inside the exact (p5, p95) interpolated
  // fences average in exact decimal; the raw mean rides alongside so
  // the TRIM EFFECT (how much the tails were pulling) is visible.
  // Complement of a23's winsorized mean — trimming drops what
  // winsorizing clamps. Two key-partitioned passes over one shuffle
  // key.
  // ------------------------------------------------------------------
  private val a58TrimmedMean: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("tp"))
    val fences = o.groupBy(col("c_mktsegment").as("seg"))
      .agg(expr("percentile(CAST(tp AS DOUBLE), 0.05)").as("lo"),
        expr("percentile(CAST(tp AS DOUBLE), 0.95)").as("hi"))
    o.join(broadcast(fences), col("c_mktsegment") === col("seg"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("tp")).as("s_all"),
        sum(when(col("tp").cast("double") > col("lo") &&
          col("tp").cast("double") < col("hi"), col("tp"))).as("s_trim"),
        sum(when(col("tp").cast("double") > col("lo") &&
          col("tp").cast("double") < col("hi"), 1L).otherwise(0L))
          .as("n_trim"))
      .select(col("c_mktsegment"), col("n").cast("long").as("n"),
        col("n_trim").cast("long").as("n_kept"),
        round(col("s_all").cast("double") / col("n").cast("double"), 4)
          .as("raw_mean_r"),
        round(col("s_trim").cast("double") /
          col("n_trim").cast("double"), 4).as("trimmed_mean_r"))
      .orderBy("c_mktsegment")
  }
  private val a58TrimmedMeanSql =
    """WITH o AS (SELECT c_mktsegment,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS tp
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |f AS (SELECT c_mktsegment AS seg,
      |    quantile_cont(CAST(tp AS DOUBLE), 0.05) AS lo,
      |    quantile_cont(CAST(tp AS DOUBLE), 0.95) AS hi
      |  FROM o GROUP BY 1)
      |SELECT o.c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN CAST(tp AS DOUBLE) > f.lo
      |    AND CAST(tp AS DOUBLE) < f.hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  round(CAST(SUM(tp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
      |    AS raw_mean_r,
      |  round(CAST(SUM(CASE WHEN CAST(tp AS DOUBLE) > f.lo
      |      AND CAST(tp AS DOUBLE) < f.hi THEN tp END) AS DOUBLE)
      |    / CAST(SUM(CASE WHEN CAST(tp AS DOUBLE) > f.lo
      |      AND CAST(tp AS DOUBLE) < f.hi THEN 1 ELSE 0 END)
      |      AS DOUBLE), 4) AS trimmed_mean_r
      |FROM o JOIN f ON o.c_mktsegment = f.seg
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = Map(
    "g_ppr" -> gPpr,
    "w41_percentile_bands" -> w41PercentileBands,
    "a58_trimmed_mean" -> a58TrimmedMean)

  val oracleSql: Map[String, String] = Map(
    "g_ppr" -> gPprSql,
    "w41_percentile_bands" -> w41PercentileBandsSql,
    "a58_trimmed_mean" -> a58TrimmedMeanSql)
}

/** Round-5 widening, twenty-sixth pack: the two-proportion z-test
  * (THE A/B readout — difference of rates with its pooled-variance
  * z and CI, completing the Wilson/power/SRM experimentation
  * toolkit), the erasure certificate (before/after integrity
  * checksums proving a targeted delete removed EXACTLY the subject's
  * rows — the auditable artifact a privacy request closes with),
  * and Lincoln–Petersen capture–recapture (estimate a population
  * from two overlapping hash samples — the cheap cardinality
  * estimator that needs no sketch state at all).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier38Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ------------------------------------------------------------------
  // a59_two_proportion — BUILDING vs AUTOMOBILE urgent-order rates:
  // difference of proportions with the pooled-variance z statistic
  // (the test statistic every A/B dashboard quotes), the unpooled
  // 95% CI of the difference, and the verdict at α = 0.05. All from
  // exact (k, n) pairs — ONE aggregation, then closed-form doubles
  // with shared literals.
  // ------------------------------------------------------------------
  private val a59TwoProportion: QFn = (s, dir) => {
    val st = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L)).cast("long").as("k"))
    val wide = st.agg(
      max(when(col("c_mktsegment") === "BUILDING", col("n"))).as("n1"),
      max(when(col("c_mktsegment") === "BUILDING", col("k"))).as("k1"),
      max(when(col("c_mktsegment") === "AUTOMOBILE", col("n"))).as("n2"),
      max(when(col("c_mktsegment") === "AUTOMOBILE", col("k"))).as("k2"))
    val n1 = col("n1").cast("double"); val k1 = col("k1").cast("double")
    val n2 = col("n2").cast("double"); val k2 = col("k2").cast("double")
    val p1 = k1 / n1; val p2 = k2 / n2
    val pPool = (k1 + k2) / (n1 + n2)
    val z = (p1 - p2) /
      sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / n1 + lit(1.0) / n2))
    val half = lit(1.959964) *
      sqrt(p1 * (lit(1.0) - p1) / n1 + p2 * (lit(1.0) - p2) / n2)
    wide.select(col("n1"), col("k1"), col("n2"), col("k2"),
      round(p1 - p2, 6).as("diff_r"),
      round(z, 6).as("z_r"),
      round(p1 - p2 - half, 6).as("ci_lo_r"),
      round(p1 - p2 + half, 6).as("ci_hi_r"),
      (abs(z) > 1.959964).as("significant"))
  }
  private val a59TwoProportionSql =
    """WITH st AS (SELECT c_mktsegment, COUNT(*) AS n,
      |    SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
      |      AS k
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      |  GROUP BY 1),
      |w AS (SELECT
      |    CAST(MAX(CASE WHEN c_mktsegment = 'BUILDING' THEN n END)
      |      AS BIGINT) AS n1,
      |    CAST(MAX(CASE WHEN c_mktsegment = 'BUILDING' THEN k END)
      |      AS BIGINT) AS k1,
      |    CAST(MAX(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN n END)
      |      AS BIGINT) AS n2,
      |    CAST(MAX(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN k END)
      |      AS BIGINT) AS k2
      |  FROM st),
      |d AS (SELECT n1, k1, n2, k2,
      |    CAST(n1 AS DOUBLE) AS n1d, CAST(k1 AS DOUBLE) AS k1d,
      |    CAST(n2 AS DOUBLE) AS n2d, CAST(k2 AS DOUBLE) AS k2d
      |  FROM w)
      |SELECT n1, k1, n2, k2,
      |  round(k1d / n1d - k2d / n2d, 6) AS diff_r,
      |  round((k1d / n1d - k2d / n2d)
      |    / sqrt(((k1d + k2d) / (n1d + n2d))
      |      * (1.0 - (k1d + k2d) / (n1d + n2d))
      |      * (1.0 / n1d + 1.0 / n2d)), 6) AS z_r,
      |  round(k1d / n1d - k2d / n2d - 1.959964
      |    * sqrt((k1d / n1d) * (1.0 - k1d / n1d) / n1d
      |      + (k2d / n2d) * (1.0 - k2d / n2d) / n2d), 6) AS ci_lo_r,
      |  round(k1d / n1d - k2d / n2d + 1.959964
      |    * sqrt((k1d / n1d) * (1.0 - k1d / n1d) / n1d
      |      + (k2d / n2d) * (1.0 - k2d / n2d) / n2d), 6) AS ci_hi_r,
      |  abs((k1d / n1d - k2d / n2d)
      |    / sqrt(((k1d + k2d) / (n1d + n2d))
      |      * (1.0 - (k1d + k2d) / (n1d + n2d))
      |      * (1.0 / n1d + 1.0 / n2d))) > 1.959964 AS significant
      |FROM d""".stripMargin

  // ------------------------------------------------------------------
  // x19_erasure_proof — the auditable erasure certificate: for the
  // md5-chosen data subject (one customer), the order table's
  // order-insensitive content checksum (the x9 sum-of-row-hash
  // fingerprint) is computed BEFORE and AFTER the targeted delete,
  // and the certificate proves checksum_before − checksum_after
  // equals EXACTLY the subject's rows' contribution — i.e., the
  // delete removed everything it should and nothing it shouldn't.
  // All three sums come from one scan (conditional aggregation);
  // no second pass, no trust required.
  // ------------------------------------------------------------------
  private val x19ErasureProof: QFn = (s, dir) => {
    val custs = t(s, dir, "customer").select(col("c_custkey"),
      md5(concat(lit("er:"), col("c_custkey").cast("string"))).as("h"))
    val subject = graft.operators.TopK.rankTopK(custs, 1,
        Seq(col("h").asc, col("c_custkey").asc), "rk")
      .filter(col("rk") === 1).select(col("c_custkey").as("subj"))
    // the price routes through DECIMAL(18,4) before stringifying —
    // double→string formats diverge across engines, decimal strings
    // do not
    val rowHash = conv(substring(sha2(concat_ws("|",
      col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
      col("o_totalprice").cast(DecimalType(18, 4)).cast("string")),
      256), 1, 15), 16, 10)
      .cast("long").cast(DecimalType(20, 0))
    t(s, dir, "orders").crossJoin(broadcast(subject))
      .select(col("o_custkey"), col("subj"), rowHash.as("rh"))
      .agg(max(col("subj")).as("subject_key"),
        count(lit(1)).as("rows_before"),
        sum(when(col("o_custkey") =!= col("subj"), 1L).otherwise(0L))
          .cast("long").as("rows_after"),
        sum(col("rh")).cast(DecimalType(38, 0)).as("sum_before"),
        sum(when(col("o_custkey") =!= col("subj"), col("rh")))
          .cast(DecimalType(38, 0)).as("sum_after"),
        sum(when(col("o_custkey") === col("subj"), col("rh")))
          .cast(DecimalType(38, 0)).as("subject_sum"))
      .select(col("subject_key"), col("rows_before"), col("rows_after"),
        (col("rows_before") - col("rows_after")).as("rows_erased"),
        col("sum_before").cast("string").as("checksum_before"),
        col("sum_after").cast("string").as("checksum_after"),
        (col("sum_before") - col("sum_after") === col("subject_sum"))
          .as("erasure_exact"))
  }
  private val x19ErasureProofSql =
    """WITH subj AS (SELECT c_custkey AS subj FROM (
      |    SELECT c_custkey,
      |      md5('er:' || CAST(c_custkey AS VARCHAR)) AS h
      |    FROM customer)
      |  QUALIFY rank() OVER (ORDER BY h, c_custkey) = 1),
      |r AS (SELECT o_custkey, subj.subj,
      |    CAST(CAST(('0x' || substring(sha256(
      |      CAST(o_orderkey AS VARCHAR) || '|'
      |      || CAST(o_custkey AS VARCHAR) || '|'
      |      || CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR)),
      |      1, 15)) AS BIGINT)
      |      AS DECIMAL(20,0)) AS rh
      |  FROM orders CROSS JOIN subj)
      |SELECT MAX(subj) AS subject_key,
      |  COUNT(*) AS rows_before,
      |  CAST(SUM(CASE WHEN o_custkey <> subj THEN 1 ELSE 0 END)
      |    AS BIGINT) AS rows_after,
      |  COUNT(*) - CAST(SUM(CASE WHEN o_custkey <> subj THEN 1
      |    ELSE 0 END) AS BIGINT) AS rows_erased,
      |  CAST(CAST(SUM(rh) AS DECIMAL(38,0)) AS VARCHAR)
      |    AS checksum_before,
      |  CAST(CAST(SUM(CASE WHEN o_custkey <> subj THEN rh END)
      |    AS DECIMAL(38,0)) AS VARCHAR) AS checksum_after,
      |  CAST(SUM(rh) AS DECIMAL(38,0))
      |    - CAST(SUM(CASE WHEN o_custkey <> subj THEN rh END)
      |      AS DECIMAL(38,0))
      |    = CAST(SUM(CASE WHEN o_custkey = subj THEN rh END)
      |      AS DECIMAL(38,0)) AS erasure_exact
      |FROM r""".stripMargin

  // ------------------------------------------------------------------
  // a60_capture_recapture — Lincoln–Petersen population estimation
  // from two deterministic hash samples of the document corpus
  // (capture: md5("c1:"+id)%5=0, recapture: md5("c2:"+id)%5=0 —
  // independent 20% samples by construction): N̂ = n₁·n₂/m with the
  // Chapman small-sample correction (n₁+1)(n₂+1)/(m+1) − 1, both
  // compared against the TRUE count riding alongside. The estimator
  // needs only three counts — the zero-state cardinality check for
  // pipelines where even an HLL sketch is too much coordination.
  // ------------------------------------------------------------------
  private val a60CaptureRecapture: QFn = (s, dir) => {
    val d = t(s, dir, "documents").select(col("doc_id"),
      (conv(substring(md5(concat(lit("c1:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 5
        === 0).as("s1"),
      (conv(substring(md5(concat(lit("c2:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 5
        === 0).as("s2"))
    d.agg(count(lit(1)).cast("long").as("true_n"),
        sum(when(col("s1"), 1L).otherwise(0L)).cast("long").as("n1"),
        sum(when(col("s2"), 1L).otherwise(0L)).cast("long").as("n2"),
        sum(when(col("s1") && col("s2"), 1L).otherwise(0L))
          .cast("long").as("m"))
      .select(col("true_n"), col("n1"), col("n2"), col("m"),
        when(col("m") === 0, lit(0.0))
          .otherwise(round(col("n1").cast("double") *
            col("n2").cast("double") / col("m").cast("double"), 2))
          .as("lincoln_petersen_r"),
        round((col("n1") + 1).cast("double") *
          (col("n2") + 1).cast("double") /
          (col("m") + 1).cast("double") - 1.0, 2).as("chapman_r"))
  }
  private val a60CaptureRecaptureSql =
    """WITH d AS (SELECT doc_id,
      |    CAST(('0x' || substring(md5('c1:'
      |      || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 = 0
      |      AS s1,
      |    CAST(('0x' || substring(md5('c2:'
      |      || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 = 0
      |      AS s2
      |  FROM documents)
      |SELECT COUNT(*) AS true_n,
      |  CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |  CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |  CAST(SUM(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS m,
      |  CASE WHEN SUM(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) = 0
      |    THEN 0.0
      |    ELSE round(CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END)
      |        AS DOUBLE)
      |      * CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END)
      |        AS DOUBLE), 2) END AS lincoln_petersen_r,
      |  round(CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) + 1 AS DOUBLE)
      |    * CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) + 1 AS DOUBLE)
      |    / CAST(SUM(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) + 1
      |      AS DOUBLE) - 1.0, 2) AS chapman_r
      |FROM d""".stripMargin

  val queries: Map[String, QFn] = Map(
    "a59_two_proportion" -> a59TwoProportion,
    "x19_erasure_proof" -> x19ErasureProof,
    "a60_capture_recapture" -> a60CaptureRecapture)

  val oracleSql: Map[String, String] = Map(
    "a59_two_proportion" -> a59TwoProportionSql,
    "x19_erasure_proof" -> x19ErasureProofSql,
    "a60_capture_recapture" -> a60CaptureRecaptureSql)
}

/** Round-5 widening, twenty-seventh pack: cross-modality similarity
  * agreement (does 3-shingle Jaccard over the text agree with cosine
  * over the embeddings on the SAME pairs? — the diagnostic that
  * decides whether cheap lexical dedup can stand in for semantic
  * dedup), the run-length-encoding advisor (the sorted-layout
  * sibling of s31's dictionary advisor — runs along the natural
  * order decide whether RLE pays), and dedup bias measurement (how
  * exact dedup SHIFTS corpus statistics — removal is a filter, and
  * every filter moves the mean somewhere).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier39Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // d_modality_agreement — lexical-vs-semantic similarity on the
  // aligned (doc_id, doc_id+1) pair set: 3-shingle Jaccard (exact,
  // hashed-shingle counting — the d_ngram discipline) against the
  // frozen-decimal embedding cosine for the same ids, correlated by
  // the a14 Pearson idiom over frozen per-pair DECIMAL(18,6) scores.
  // High r = lexical dedup is a safe cheap proxy; low r = the
  // semantic pass earns its FLOPs. Everything shuffles on pair/dim
  // keys; the correlation runs on the bounded pair table.
  // ------------------------------------------------------------------
  private val dModalityAgreement: QFn = (s, dir) => {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        split(TF.normText(col("text")), " ").as("toks"))
    val sh = docs
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
      .withColumn("w2", lead(col("w"), 1).over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .withColumn("w3", lead(col("w"), 2).over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"),
        conv(substring(md5(concat_ws(" ", col("w"), col("w2"),
          col("w3"))), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
      .localCheckpoint(true)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.select(col("doc_id").as("pa"), col("h"))
      .join(sh.select((col("doc_id") - 1).as("pa"), col("h")), Seq("pa", "h"))
      .groupBy("pa").agg(count(lit(1)).as("ov"))
    val jac = sizes.select(col("doc_id").as("pa"), col("sz").as("sa"))
      .join(sizes.select((col("doc_id") - 1).as("pa"), col("sz").as("sb")),
        "pa")
      .join(inter, Seq("pa"), "left")
      .select(col("pa"),
        round(coalesce(col("ov"), lit(0L)).cast("double") /
          (col("sa") + col("sb") - coalesce(col("ov"), lit(0L)))
            .cast("double"), 6).cast(DecimalType(18, 6)).as("jac"))
    val pts = graft.ml.KMeans.pointsLong(t(s, dir, "embeddings"))
      .localCheckpoint(true)
    val norms = pts.groupBy("vec_id")
      .agg(sum((col("vd") * col("vd")).cast(DecimalType(38, 12)))
        .as("x2"))
    val dots = pts.select(col("vec_id").as("pa"), col("dim"),
        col("vd").as("va"))
      .join(pts.select((col("vec_id") - 1).as("pa"), col("dim"),
        col("vd").as("vb")), Seq("pa", "dim"))
      .groupBy("pa")
      .agg(sum((col("va") * col("vb")).cast(DecimalType(38, 12)))
        .as("dot"))
    val cos = dots
      .join(norms.select(col("vec_id").as("pa"), col("x2").as("na")),
        "pa")
      .join(norms.select((col("vec_id") - 1).as("pa"),
        col("x2").as("nb")), "pa")
      .select(col("pa"),
        round(col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("cos"))
    val paired = jac.join(cos, "pa")
      .select(col("jac").as("x"), col("cos").as("y"))
    val m = paired.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).as("sx0"), sum(col("y")).as("sy0"),
      sum((col("x") * col("x")).cast(DecimalType(38, 12))).as("sxx0"),
      sum((col("x") * col("y")).cast(DecimalType(38, 12))).as("sxy0"),
      sum((col("y") * col("y")).cast(DecimalType(38, 12))).as("syy0"))
    val n = col("n")
    val sx = col("sx0").cast("double"); val sy = col("sy0").cast("double")
    val sxx = col("sxx0").cast("double"); val syy = col("syy0").cast("double")
    val sxy = col("sxy0").cast("double")
    m.select(n.as("n_pairs"),
      round((n * sxy - sx * sy) /
        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
        .as("pearson_r"))
  }
  private val dModalityAgreementSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w0 AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS w,
       |    generate_subscripts(string_split($norm, ' '), 1) AS pos
       |  FROM documents),
       |tk AS (SELECT doc_id, pos, w FROM w0 WHERE length(w) > 0),
       |s0 AS (SELECT doc_id,
       |    w || ' ' || lead(w, 1) OVER wo || ' ' || lead(w, 2) OVER wo
       |      AS g,
       |    lead(w, 2) OVER wo AS w3
       |  FROM tk WINDOW wo AS (PARTITION BY doc_id ORDER BY pos)),
       |sh AS (SELECT DISTINCT doc_id,
       |    CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS h
       |  FROM s0 WHERE w3 IS NOT NULL),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
       |iv AS (SELECT a.doc_id AS pa, COUNT(*) AS ov
       |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND b.h = a.h
       |  GROUP BY 1),
       |jac AS (SELECT sa.doc_id AS pa,
       |    CAST(round(CAST(COALESCE(iv.ov, 0) AS DOUBLE)
       |      / CAST(sa.sz + sb.sz - COALESCE(iv.ov, 0) AS DOUBLE), 6)
       |      AS DECIMAL(18,6)) AS x
       |  FROM sz sa JOIN sz sb ON sb.doc_id = sa.doc_id + 1
       |  LEFT JOIN iv ON iv.pa = sa.doc_id),
       |pts AS (SELECT vec_id, dim - 1 AS dim,
       |    CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)) AS vd
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |      generate_subscripts(embedding, 1) AS dim
       |    FROM embeddings)),
       |norms AS (SELECT vec_id,
       |    SUM(CAST(vd * vd AS DECIMAL(38,12))) AS x2
       |  FROM pts GROUP BY 1),
       |dots AS (SELECT a.vec_id AS pa,
       |    SUM(CAST(a.vd * b.vd AS DECIMAL(38,12))) AS dot
       |  FROM pts a JOIN pts b ON b.vec_id = a.vec_id + 1
       |    AND b.dim = a.dim
       |  GROUP BY 1),
       |cosv AS (SELECT d.pa,
       |    CAST(round(CAST(d.dot AS DOUBLE)
       |      / sqrt(CAST(na.x2 AS DOUBLE) * CAST(nb.x2 AS DOUBLE)), 6)
       |      AS DECIMAL(18,6)) AS y
       |  FROM dots d JOIN norms na ON na.vec_id = d.pa
       |  JOIN norms nb ON nb.vec_id = d.pa + 1),
       |pr AS (SELECT jac.x, cosv.y FROM jac JOIN cosv USING (pa)),
       |m AS (SELECT COUNT(*) AS n, SUM(x) AS sx0, SUM(y) AS sy0,
       |    SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx0,
       |    SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy0,
       |    SUM(CAST(y * y AS DECIMAL(38,12))) AS syy0
       |  FROM pr),
       |d AS (SELECT n,
       |    CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) AS sx,
       |    CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) AS sy,
       |    CAST(CAST(sxx0 AS VARCHAR) AS DOUBLE) AS sxx,
       |    CAST(CAST(sxy0 AS VARCHAR) AS DOUBLE) AS sxy,
       |    CAST(CAST(syy0 AS VARCHAR) AS DOUBLE) AS syy
       |  FROM m)
       |SELECT n AS n_pairs,
       |  round((n * sxy - sx * sy)
       |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
       |    AS pearson_r
       |FROM d""".stripMargin
  }

  // ------------------------------------------------------------------
  // s32_rle_advisor — run-length encoding advisor along the table's
  // natural (orderkey, linenumber) order: for each candidate column,
  // count the RUNS (value changes along the order — one lag() pass),
  // the mean run length, and the estimated RLE bytes (runs × (value
  // width + 4-byte count)) vs raw — the verdict says which columns
  // reward sorting before writing. The complement of s31: dictionary
  // exploits few DISTINCT values, RLE exploits few CHANGES.
  // ------------------------------------------------------------------
  private val s32RleAdvisor: QFn = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate").cast("date").cast("string").as("ship"))
      .localCheckpoint(true)
    val w = Window.orderBy("l_orderkey", "l_linenumber")
    def advise(cname: String): DataFrame = li
      .withColumn("prev", lag(col(cname), 1).over(w))
      .select(
        when(col("prev").isNull || col("prev") =!= col(cname), 1L)
          .otherwise(0L).as("brk"),
        length(col(cname)).cast("long").as("bytes"))
      .agg(count(lit(1)).as("n_rows"), sum(col("brk")).as("n_runs"),
        sum(col("bytes")).as("raw_bytes"),
        // value bytes per run approximated by the column's mean width
        round(sum(col("bytes")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_width"))
      .select(lit(cname).as("column_name"), col("n_rows").cast("long")
        .as("n_rows"), col("n_runs").cast("long").as("n_runs"),
        col("raw_bytes").cast("long").as("raw_bytes"),
        round(col("n_rows").cast("double") /
          col("n_runs").cast("double"), 6).as("mean_run_len_r"),
        (col("n_runs").cast("double") * (col("mean_width") + 4.0) <
          col("raw_bytes").cast("double")).as("rle_pays"))
    advise("l_returnflag").unionByName(advise("l_linestatus"))
      .unionByName(advise("ship"))
      .orderBy("column_name")
  }
  private val s32RleAdvisorSql = {
    def advise(cname: String, expr0: String): String =
      s"""SELECT '$cname' AS column_name,
         |  COUNT(*) AS n_rows,
         |  CAST(SUM(brk) AS BIGINT) AS n_runs,
         |  CAST(SUM(bytes) AS BIGINT) AS raw_bytes,
         |  round(CAST(COUNT(*) AS DOUBLE)
         |    / CAST(SUM(brk) AS DOUBLE), 6) AS mean_run_len_r,
         |  CAST(SUM(brk) AS DOUBLE)
         |    * (round(CAST(SUM(bytes) AS DOUBLE)
         |        / CAST(COUNT(*) AS DOUBLE), 6) + 4.0)
         |    < CAST(SUM(bytes) AS DOUBLE) AS rle_pays
         |FROM (SELECT CASE WHEN lag($expr0) OVER wo IS NULL
         |      OR lag($expr0) OVER wo <> $expr0 THEN 1 ELSE 0 END
         |      AS brk,
         |    CAST(length($expr0) AS BIGINT) AS bytes
         |  FROM lineitem
         |  WINDOW wo AS (ORDER BY l_orderkey, l_linenumber))"""
        .stripMargin
    s"""${advise("l_returnflag", "l_returnflag")}
       |UNION ALL
       |${advise("l_linestatus", "l_linestatus")}
       |UNION ALL
       |${advise("ship",
         "CAST(CAST(l_shipdate AS DATE) AS VARCHAR)")}
       |ORDER BY column_name""".stripMargin
  }

  // ------------------------------------------------------------------
  // d_dedup_bias — what exact dedup does to corpus statistics: mean
  // document length and mean quality proxy (distinct-word ratio)
  // BEFORE and AFTER keeping one doc per normalized-text hash. Dedup
  // is a biased filter — duplicates are not uniform over length or
  // quality — and this entry MEASURES the shift instead of assuming
  // it away (the Lee et al. finding that dedup changes the
  // distribution, quantified per corpus). One hash-groupBy (the
  // dedup itself) + two aggregates over exact counts.
  // ------------------------------------------------------------------
  private val dDedupBias: QFn = (s, dir) => {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        filter(split(TF.normText(col("text")), " "),
          x => length(x) > 0).as("toks"),
        sha2(TF.normText(col("text")), 256).as("h"))
      .select(col("doc_id"), col("n_chars"), col("h"),
        size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_types"))
      .withColumn("keeper", min(col("doc_id")).over(
        Window.partitionBy("h")))
      .localCheckpoint(true)
    def stats(df: DataFrame, label: String): DataFrame = df
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sc"), sum(col("n_toks")).as("st"),
        sum(expr("n_types * 1000000L div n_toks")
          .cast(DecimalType(38, 0))).as("sttr"))
      .select(lit(label).as("corpus"), col("n_docs").cast("long")
        .as("n_docs"),
        round(col("sc").cast("double") / col("n_docs").cast("double"), 4)
          .as("mean_chars_r"),
        round(col("st").cast("double") / col("n_docs").cast("double"), 4)
          .as("mean_tokens_r"),
        round(col("sttr").cast("double") /
          (col("n_docs").cast("double") * 1000000.0), 6)
          .as("mean_ttr_r"))
    stats(docs, "before")
      .unionByName(stats(docs.filter(col("doc_id") === col("keeper")),
        "after"))
      .orderBy("corpus")
  }
  private val dDedupBiasSql = {
    val norm = TF.normTextSql("text")
    s"""WITH d0 AS (SELECT doc_id, n_chars,
       |    list_filter(string_split($norm, ' '), x -> length(x) > 0)
       |      AS toks,
       |    sha256($norm) AS h
       |  FROM documents),
       |d1 AS (SELECT doc_id, n_chars, h,
       |    CAST(len(toks) AS BIGINT) AS n_toks,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       |    MIN(doc_id) OVER (PARTITION BY h) AS keeper
       |  FROM d0),
       |b AS (SELECT 'before' AS corpus, COUNT(*) AS n_docs,
       |    round(CAST(SUM(n_chars) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE), 4) AS mean_chars_r,
       |    round(CAST(SUM(n_toks) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE), 4) AS mean_tokens_r,
       |    round(CAST(SUM(CAST(n_types * 1000000 // n_toks
       |        AS DECIMAL(38,0))) AS DOUBLE)
       |      / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 6)
       |      AS mean_ttr_r
       |  FROM d1),
       |a AS (SELECT 'after', COUNT(*),
       |    round(CAST(SUM(n_chars) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE), 4),
       |    round(CAST(SUM(n_toks) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE), 4),
       |    round(CAST(SUM(CAST(n_types * 1000000 // n_toks
       |        AS DECIMAL(38,0))) AS DOUBLE)
       |      / (CAST(COUNT(*) AS DOUBLE) * 1000000.0), 6)
       |  FROM d1 WHERE doc_id = keeper)
       |SELECT * FROM b UNION ALL SELECT * FROM a
       |ORDER BY corpus""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "d_modality_agreement" -> dModalityAgreement,
    "s32_rle_advisor" -> s32RleAdvisor,
    "d_dedup_bias" -> dDedupBias)

  val oracleSql: Map[String, String] = Map(
    "d_modality_agreement" -> dModalityAgreementSql,
    "s32_rle_advisor" -> s32RleAdvisorSql,
    "d_dedup_bias" -> dDedupBiasSql)
}

package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

// Contents (one object per original pack, APIs unchanged):
//   Frontier16Queries: i24_scd4, ev_markov_steady, t_keyphrase_rake
//   Frontier17Queries: t_zipf_fit, geo_knn_join, a39_jackknife
//   Frontier18Queries: ml_svm_hinge, a42_permutation_test, t_js_divergence
//   Frontier19Queries: t_perplexity_eval, g_hits, ann_mips_topk
//   Frontier20Queries: ev_next_event_eval, a44_gumbel_tail, t_lexical_stats

/** Round-5 widening, fourth pack: SCD Type 4 (the current+history
  * twin-table pattern that completes the SCD1/2/3 family the etl
  * package already covers), Markov-chain steady-state via power
  * iteration on the global event-transition matrix (the stationary
  * distribution behind "where do user journeys settle"), and RAKE
  * keyphrase extraction (Rose et al. 2010 — degree/frequency word
  * scoring over stopword-delimited phrases; the classic unsupervised
  * keyword pass a curation pipeline runs per corpus).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL(18,6) before any reordering sum, total ORDER BYs.
  */
object Frontier16Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // i24_scd4 — Type-4 slowly changing dimension: the customer's
  // priority timeline (consecutive-duplicate-collapsed runs of
  // o_orderpriority along order date) splits into a CURRENT table
  // (latest run only — the hot lookup set) and a HISTORY table
  // (every superseded run with its [valid_from, valid_to) interval).
  // Run detection is one lag()+cumulative-sum islands pass per
  // customer partition; interval close-out is one lead() over the
  // run table — both scale with the customer axis, nothing global.
  // The union carries a tbl discriminator so the driver checks both
  // tables in one result; history rows alone reconstruct every
  // intermediate state, current rows alone serve point lookups —
  // exactly the Type-4 trade (Kimball ch. 5) of fast current reads
  // against a separately-growing history store.
  // ------------------------------------------------------------------
  private val i24Scd4: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"), col("o_orderpriority"))
    val wSeq = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    val runs = o
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(wSeq))
      .withColumn("brk",
        when(col("prev").isNull ||
          col("prev") =!= col("o_orderpriority"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("brk")).over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("o_custkey", "run_id")
      .agg(min(col("o_orderpriority")).as("priority"),
        min(col("d")).as("valid_from"))
    val wRun = Window.partitionBy("o_custkey").orderBy("run_id")
    val closed = runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wRun))
    closed.filter(col("valid_to").isNotNull)
      .select(lit("history").as("tbl"), col("o_custkey"),
        col("priority"), col("valid_from"), col("valid_to"))
      .unionByName(closed.filter(col("valid_to").isNull)
        .select(lit("current").as("tbl"), col("o_custkey"),
          col("priority"), col("valid_from"),
          lit("9999-12-31").cast("date").as("valid_to")))
      .orderBy("o_custkey", "valid_from", "tbl")
  }
  private val i24Scd4Sql =
    """WITH o AS (SELECT o_custkey, o_orderkey,
      |    CAST(o_orderdate AS DATE) AS d, o_orderpriority
      |  FROM orders),
      |rb AS (SELECT o_custkey, d, o_orderkey, o_orderpriority,
      |    CASE WHEN lag(o_orderpriority) OVER ws IS NULL
      |      OR lag(o_orderpriority) OVER ws <> o_orderpriority
      |    THEN 1 ELSE 0 END AS brk
      |  FROM o WINDOW ws AS (PARTITION BY o_custkey
      |    ORDER BY d, o_orderkey)),
      |ri AS (SELECT o_custkey, d, o_orderpriority,
      |    SUM(brk) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM rb),
      |runs AS (SELECT o_custkey, run_id,
      |    MIN(o_orderpriority) AS priority, MIN(d) AS valid_from
      |  FROM ri GROUP BY 1, 2),
      |closed AS (SELECT o_custkey, priority, valid_from,
      |    lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
      |      AS valid_to
      |  FROM runs)
      |SELECT 'history' AS tbl, o_custkey, priority, valid_from, valid_to
      |FROM closed WHERE valid_to IS NOT NULL
      |UNION ALL
      |SELECT 'current', o_custkey, priority, valid_from,
      |  CAST('9999-12-31' AS DATE)
      |FROM closed WHERE valid_to IS NULL
      |ORDER BY o_custkey, valid_from, tbl""".stripMargin

  // ------------------------------------------------------------------
  // ev_markov_steady — stationary behavior of the GLOBAL event-type
  // Markov chain: transition probabilities p(a→b) = n_ab/n_a from all
  // per-user consecutive event pairs (one lead() per user partition +
  // one (a,b) groupBy — the 5×5 matrix is data-scale-invariant), then
  // three power-iteration steps π ← πP from the uniform start. Every
  // p and every π entry is ONE rounded double frozen as DECIMAL(18,6),
  // and each iteration's 5-term dot products are exact decimal sums —
  // so both engines walk the identical float path. Emits π after each
  // iteration (pi1..pi3) so convergence is visible; at 100 TB only
  // the transition-count pass touches data, the iteration runs on a
  // constant-size matrix.
  // ------------------------------------------------------------------
  private val evMarkovSteady: QFn = (s, dir) => {
    val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
      col("event_type"), expr("ts div 1000000000").as("sec"))
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val trans = e.withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("nab"))
    // trans is consumed twice (na + the p join) but pinning it measured
    // 1.1x SLOWER at bench SF (r15 A/B) — the duplicated window pass is
    // cheaper than the barrier job. Left unpinned deliberately.
    val na = trans.groupBy("a").agg(sum("nab").as("na"))
    val p = trans.join(na, "a")
      .select(col("a"), col("b"),
        round(col("nab").cast("double") / col("na").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("p"))
      .localCheckpoint(true)
    val states = p.select(col("a").as("st")).distinct()
    val nStates = states.count() // 5 event types — constant-size matrix
    val pi0 = states.select(col("st"),
      round(lit(1.0) / lit(nStates.toDouble), 6)
        .cast(DecimalType(18, 6)).as("pi"))
    def step(pi: DataFrame): DataFrame = p
      .join(pi.select(col("st").as("a"), col("pi").as("pa")), "a")
      .select(col("b"), (col("pa") * col("p")).as("term"))
      .groupBy(col("b")).agg(sum(col("term")).as("s"))
      .select(col("b").as("st"),
        round(col("s").cast("double"), 6).cast(DecimalType(18, 6)).as("pi"))
    val pi1 = step(pi0).localCheckpoint(true)
    val pi2 = step(pi1).localCheckpoint(true)
    val pi3 = step(pi2)
    pi1.select(col("st"), col("pi").as("pi1"))
      .join(pi2.select(col("st"), col("pi").as("pi2")), "st")
      .join(pi3.select(col("st"), col("pi").as("pi3")), "st")
      .select(col("st").as("event_type"),
        col("pi1").cast("string").as("pi1"),
        col("pi2").cast("string").as("pi2"),
        col("pi3").cast("string").as("pi3"))
      .orderBy("event_type")
  }
  private val evMarkovSteadySql =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(ts) // 1000000 AS sec
      |  FROM events),
      |tr AS (SELECT user_id, event_type AS a,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY sec, event_id) AS b
      |  FROM e),
      |trn AS (SELECT a, b, COUNT(*) AS nab FROM tr
      |        WHERE b IS NOT NULL GROUP BY 1, 2),
      |na AS (SELECT a, SUM(nab) AS na FROM trn GROUP BY 1),
      |p AS (SELECT trn.a, trn.b,
      |    CAST(round(CAST(trn.nab AS DOUBLE) / CAST(na.na AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS p
      |  FROM trn JOIN na ON na.a = trn.a),
      |states AS (SELECT DISTINCT a AS st FROM p),
      |pi0 AS (SELECT st,
      |    CAST(round(1.0 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM states),
      |      6) AS DECIMAL(18,6)) AS pi
      |  FROM states),
      |pi1 AS (SELECT p.b AS st,
      |    CAST(round(CAST(SUM(pi0.pi * p.p) AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS pi
      |  FROM p JOIN pi0 ON pi0.st = p.a GROUP BY 1),
      |pi2 AS (SELECT p.b AS st,
      |    CAST(round(CAST(SUM(pi1.pi * p.p) AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS pi
      |  FROM p JOIN pi1 ON pi1.st = p.a GROUP BY 1),
      |pi3 AS (SELECT p.b AS st,
      |    CAST(round(CAST(SUM(pi2.pi * p.p) AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS pi
      |  FROM p JOIN pi2 ON pi2.st = p.a GROUP BY 1)
      |SELECT pi1.st AS event_type,
      |  CAST(pi1.pi AS VARCHAR) AS pi1,
      |  CAST(pi2.pi AS VARCHAR) AS pi2,
      |  CAST(pi3.pi AS VARCHAR) AS pi3
      |FROM pi1 JOIN pi2 ON pi2.st = pi1.st JOIN pi3 ON pi3.st = pi1.st
      |ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // t_keyphrase_rake — RAKE keyphrase extraction over the corpus:
  // phrases are maximal runs of non-stopword tokens (the normalized
  // text has punctuation folded to spaces, so stopwords are the only
  // delimiters — the standard RAKE adaptation for pre-normalized
  // input); each word scores deg/freq where freq counts its phrase
  // occurrences and deg sums the lengths of the phrases it sits in
  // (co-occurrence including self, Rose et al. §1.2.1); a phrase
  // scores the sum of its words' frozen DECIMAL(18,6) scores. The
  // phrase inventory shuffles on (doc, island) then on phrase text —
  // corpus-linear, no all-pairs anywhere. Top-15 phrases of length
  // ≥2 via the two-phase rankTopK (no global sort).
  // ------------------------------------------------------------------
  private val stopwords = Seq("the", "a", "an", "of", "and", "to", "in",
    "is", "it", "that", "as", "for", "on", "with", "was", "by", "at")

  private val tKeyphraseRake: QFn = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(TF.normText(col("text")), " "))
          .as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
      .withColumn("stop", col("w").isInCollection(stopwords))
    val wSeq = Window.partitionBy("doc_id").orderBy("pos")
    val isl = toks
      .withColumn("isl", sum(when(col("stop"), 1L).otherwise(0L)).over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(!col("stop"))
    val phraseToks = isl.select(col("doc_id"), col("isl"), col("pos"),
      col("w")).localCheckpoint(true)
    val phrases = phraseToks.groupBy("doc_id", "isl")
      .agg(count(lit(1)).as("len"),
        array_join(transform(array_sort(collect_list(struct(col("pos"),
          col("w")))), x => x.getField("w")), " ").as("phrase"))
    val wordStats = phraseToks
      .join(phrases.select(col("doc_id"), col("isl"), col("len")),
        Seq("doc_id", "isl"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("w"),
        round(col("deg").cast("double") / col("freq").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("wscore"))
    val phraseScores = phraseToks.join(wordStats, "w")
      .groupBy("doc_id", "isl")
      .agg(sum(col("wscore")).as("pscore"))
    val byText = phrases.join(phraseScores, Seq("doc_id", "isl"))
      .filter(col("len") >= 2)
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"), max(col("len")).as("len"),
        max(col("pscore")).as("ps"))
      .select(col("phrase"), col("n_occurrences"), col("len"),
        round(col("ps").cast("double"), 4).as("score_r"))
    graft.operators.TopK.rankTopK(byText, 15,
        Seq(col("score_r").desc, col("phrase").asc), "rnk")
      .select(col("rnk"), col("phrase"), col("n_occurrences"), col("len"),
        col("score_r"))
      .orderBy("rnk")
  }
  private val tKeyphraseRakeSql = {
    val norm = TF.normTextSql("text")
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH docs AS (SELECT doc_id, string_split($norm, ' ') AS toks
       |  FROM documents),
       |w0 AS (SELECT doc_id, unnest(toks) AS w,
       |    generate_subscripts(toks, 1) AS pos
       |  FROM docs),
       |tk AS (SELECT doc_id, pos, w, w IN ($stopList) AS stop
       |  FROM w0 WHERE length(w) > 0),
       |isl0 AS (SELECT doc_id, pos, w, stop,
       |    SUM(CASE WHEN stop THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM tk),
       |pt AS (SELECT doc_id, isl, pos, w FROM isl0 WHERE NOT stop),
       |ph AS (SELECT doc_id, isl, COUNT(*) AS len,
       |    string_agg(w, ' ' ORDER BY pos) AS phrase
       |  FROM pt GROUP BY 1, 2),
       |ws AS (SELECT pt.w,
       |    CAST(round(CAST(SUM(ph.len) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(18,6)) AS wscore
       |  FROM pt JOIN ph ON ph.doc_id = pt.doc_id AND ph.isl = pt.isl
       |  GROUP BY 1),
       |psc AS (SELECT pt.doc_id, pt.isl, SUM(ws.wscore) AS pscore
       |  FROM pt JOIN ws ON ws.w = pt.w GROUP BY 1, 2),
       |bt AS (SELECT ph.phrase, COUNT(*) AS n_occurrences,
       |    MAX(ph.len) AS len,
       |    round(CAST(MAX(psc.pscore) AS DOUBLE), 4) AS score_r
       |  FROM ph JOIN psc ON psc.doc_id = ph.doc_id AND psc.isl = ph.isl
       |  WHERE ph.len >= 2 GROUP BY 1)
       |SELECT CAST(rank() OVER (ORDER BY score_r DESC, phrase) AS INT)
       |    AS rnk,
       |  phrase, n_occurrences, len, score_r
       |FROM bt
       |QUALIFY rnk <= 15
       |ORDER BY rnk""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "i24_scd4" -> i24Scd4,
    "ev_markov_steady" -> evMarkovSteady,
    "t_keyphrase_rake" -> tKeyphraseRake)

  val oracleSql: Map[String, String] = Map(
    "i24_scd4" -> i24Scd4Sql,
    "ev_markov_steady" -> evMarkovSteadySql,
    "t_keyphrase_rake" -> tKeyphraseRakeSql)
}

/** Round-5 widening, fifth pack: Zipf-law exponent fitting over the
  * corpus vocabulary (the rank-frequency diagnostic every corpus
  * report plots), grid-bucketed k-nearest-neighbor spatial join (the
  * kNN sibling of geo_radius_join's fixed-radius search), and
  * delete-one-group jackknife variance (Quenouille/Tukey — the
  * resampling-free uncertainty estimate for any plug-in statistic).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL(18,6) before any reordering sum, total ORDER BYs.
  */
object Frontier17Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // t_zipf_fit — Zipf exponent of the corpus unigram distribution:
  // rank terms by frequency (total tie-break on the term so both
  // engines agree), then OLS-fit ln(freq) against ln(rank). The
  // regression runs on exact decimal sufficient statistics (each
  // per-term ln frozen as DECIMAL(18,6), the five Σ's exact decimal
  // sums); slope/intercept/R² are each ONE rounded double. The rank
  // window is global but over the VOCABULARY axis — corpus text
  // reduces to (term, freq) in one shuffle, and natural-language
  // vocabularies grow sublinearly (Heaps' law), so the windowed table
  // stays tiny at any corpus size. A slope near −1 is the Zipf
  // signature; the synthetic corpus's flat generator shows up as a
  // shallow slope — which is exactly what the diagnostic is FOR.
  // ------------------------------------------------------------------
  private val tZipfFit: QFn = (s, dir) => {
    val terms = t(s, dir, "documents")
      .select(posexplode(split(TF.normText(col("text")), " "))
        .as(Seq("pos", "w")))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val ranked = terms
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("freq").desc, col("w").asc)))
      .select(col("w"), col("freq"), col("rnk"),
        round(log(col("rnk").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("x"),
        round(log(col("freq").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("y"))
    val stats = ranked.agg(count(lit(1)).cast("long").as("n"),
      sum(col("x")).as("sx0"), sum(col("y")).as("sy0"),
      sum((col("x") * col("x")).cast(DecimalType(38, 12))).as("sxx0"),
      sum((col("x") * col("y")).cast(DecimalType(38, 12))).as("sxy0"),
      sum((col("y") * col("y")).cast(DecimalType(38, 12))).as("syy0"),
      max(when(col("rnk") === 1, col("w"))).as("top_term"))
    // the a14_linreg shape: exact decimal moments → double ONCE, then a
    // fixed IEEE expression tree both engines evaluate identically
    val n = col("n")
    val sx = col("sx0").cast("double"); val sy = col("sy0").cast("double")
    val sxx = col("sxx0").cast("double"); val syy = col("syy0").cast("double")
    val sxy = col("sxy0").cast("double")
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    stats.select(n.as("n_terms"), col("top_term"),
      round(slope, 6).as("slope_r"),
      round((sy - slope * sx) / n, 6).as("intercept_r"),
      round(slope * slope * (n * sxx - sx * sx) / (n * syy - sy * sy), 6)
        .as("r2_r"))
  }
  private val tZipfFitSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w0 AS (SELECT unnest(string_split($norm, ' ')) AS w
       |  FROM documents),
       |tf AS (SELECT w, COUNT(*) AS freq FROM w0
       |  WHERE length(w) > 0 GROUP BY 1),
       |rk AS (SELECT w, freq,
       |    row_number() OVER (ORDER BY freq DESC, w) AS rnk
       |  FROM tf),
       |xy AS (SELECT w, freq, rnk,
       |    CAST(round(ln(CAST(rnk AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
       |    CAST(round(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
       |  FROM rk),
       |st AS (SELECT COUNT(*) AS n, SUM(x) AS sx0, SUM(y) AS sy0,
       |    SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx0,
       |    SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy0,
       |    SUM(CAST(y * y AS DECIMAL(38,12))) AS syy0,
       |    MAX(CASE WHEN rnk = 1 THEN w END) AS top_term
       |  FROM xy),
       |d AS (SELECT n, top_term,
       |    CAST(CAST(sx0 AS VARCHAR) AS DOUBLE) AS sx,
       |    CAST(CAST(sy0 AS VARCHAR) AS DOUBLE) AS sy,
       |    CAST(CAST(sxx0 AS VARCHAR) AS DOUBLE) AS sxx,
       |    CAST(CAST(sxy0 AS VARCHAR) AS DOUBLE) AS sxy,
       |    CAST(CAST(syy0 AS VARCHAR) AS DOUBLE) AS syy
       |  FROM st)
       |SELECT n AS n_terms, top_term,
       |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_r,
       |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
       |    / n, 6) AS intercept_r,
       |  round(((n * sxy - sx * sy) / (n * sxx - sx * sx))
       |    * ((n * sxy - sx * sy) / (n * sxx - sx * sx))
       |    * (n * sxx - sx * sx) / (n * syy - sy * sy), 6) AS r2_r
       |FROM d""".stripMargin
  }

  // ------------------------------------------------------------------
  // geo_knn_join — k-nearest-neighbor spatial join (k=3) between the
  // deterministic customer/supplier point sets geo_radius_join
  // established: each customer explodes into its 3×3 neighborhood of
  // 32-unit grid cells, suppliers sit in exactly one cell, so the
  // equi-join on cell id yields each candidate pair once; exact
  // integer squared distance ranks candidates and row_number keeps
  // the top 3 (ties broken on supplier id — total order, both
  // engines agree). This is BOUNDED kNN: neighbors beyond the 3×3
  // ring (distance > 32) are out of scope by design — the standard
  // grid-kNN contract; shrinking cells trades ring misses for fan-
  // out. Two equi-shuffles + a per-customer window, no cross join
  // anywhere. Output: per-nation match counts, exact distance sums,
  // and a pair checksum.
  // ------------------------------------------------------------------
  private val knnCell = 32L

  private val geoKnnJoin: QFn = (s, dir) => {
    val c = t(s, dir, "customer").select(
      col("c_custkey").as("cid"), col("c_nationkey"),
      expr("(c_custkey * 37 + 11) % 1000").as("cx"),
      expr("(c_custkey * 73 + 29) % 1000").as("cy"))
    val sup = t(s, dir, "supplier").select(
      col("s_suppkey").as("sid"),
      expr("(s_suppkey * 53 + 17) % 1000").as("sx"),
      expr("(s_suppkey * 97 + 43) % 1000").as("sy"))
      .withColumn("cellx", expr(s"sx div $knnCell"))
      .withColumn("celly", expr(s"sy div $knnCell"))
    val cells = c
      .withColumn("dx", explode(expr("array(-1L, 0L, 1L)")))
      .withColumn("dy", explode(expr("array(-1L, 0L, 1L)")))
      .withColumn("cellx", expr(s"cx div $knnCell") + col("dx"))
      .withColumn("celly", expr(s"cy div $knnCell") + col("dy"))
    val cand = cells.join(sup, Seq("cellx", "celly"))
      .select(col("cid"), col("c_nationkey"), col("sid"),
        ((col("cx") - col("sx")) * (col("cx") - col("sx")) +
         (col("cy") - col("sy")) * (col("cy") - col("sy"))).as("d2"))
      .filter(col("d2") <= lit(knnCell * knnCell))
    val wK = Window.partitionBy("cid").orderBy(col("d2").asc,
      col("sid").asc)
    val top3 = cand.withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= 3)
    top3.join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(countDistinct(col("cid")).as("n_matched_custs"),
        count(lit(1)).as("n_pairs"),
        sum(col("d2")).cast("long").as("d2_sum"),
        sum(col("cid") * col("sid")).cast("long").as("pair_checksum"))
      .orderBy("n_name")
  }
  private val geoKnnJoinSql =
    s"""WITH c AS (SELECT c_custkey AS cid, c_nationkey,
       |    (c_custkey * 37 + 11) % 1000 AS cx,
       |    (c_custkey * 73 + 29) % 1000 AS cy
       |  FROM customer),
       |s AS (SELECT s_suppkey AS sid,
       |    (s_suppkey * 53 + 17) % 1000 AS sx,
       |    (s_suppkey * 97 + 43) % 1000 AS sy
       |  FROM supplier),
       |cand AS (SELECT c.cid, c.c_nationkey, s.sid,
       |    (c.cx - s.sx) * (c.cx - s.sx)
       |      + (c.cy - s.sy) * (c.cy - s.sy) AS d2
       |  FROM c JOIN s ON s.sx // $knnCell
       |      BETWEEN c.cx // $knnCell - 1 AND c.cx // $knnCell + 1
       |    AND s.sy // $knnCell
       |      BETWEEN c.cy // $knnCell - 1 AND c.cy // $knnCell + 1
       |  WHERE (c.cx - s.sx) * (c.cx - s.sx)
       |      + (c.cy - s.sy) * (c.cy - s.sy) <= ${knnCell * knnCell}),
       |top3 AS (SELECT * FROM cand
       |  QUALIFY row_number() OVER (PARTITION BY cid
       |    ORDER BY d2, sid) <= 3)
       |SELECT n_name, COUNT(DISTINCT cid) AS n_matched_custs,
       |  COUNT(*) AS n_pairs,
       |  CAST(SUM(d2) AS BIGINT) AS d2_sum,
       |  CAST(SUM(cid * sid) AS BIGINT) AS pair_checksum
       |FROM top3 JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // a39_jackknife — delete-one-nation jackknife for the global mean
  // order price: the g leave-one-out estimates come FREE from the
  // per-nation sufficient statistics (n_i, Σ_i) — θ̂₍ᵢ₎ =
  // (S−Σᵢ)/(N−nᵢ), no re-scan per replicate, the property that makes
  // the grouped jackknife viable at 100 TB (one aggregation pass,
  // then arithmetic on a g-row table). Each θ̂₍ᵢ₎ is ONE rounded
  // double frozen as DECIMAL(18,6); the pseudo-value variance
  // (g−1)/g·Σ(θ̂₍ᵢ₎−θ̄)² runs in exact decimal squares; the standard
  // error takes the single final sqrt.
  // ------------------------------------------------------------------
  private val a39Jackknife: QFn = (s, dir) => {
    val per = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("ni"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).as("si"))
    val tot = per.agg(sum(col("ni")).as("nt"),
      sum(col("si")).cast(DecimalType(38, 4)).as("st"),
      count(lit(1)).as("g"))
    val loo = per.crossJoin(broadcast(tot))
      .select(col("g"), col("nt"), col("st"),
        round((col("st") - col("si")).cast("double") /
          (col("nt") - col("ni")).cast("double"), 6)
          .cast(DecimalType(18, 6)).as("theta_i"))
    val bar = loo.groupBy("g", "nt", "st")
      .agg(sum(col("theta_i")).as("sth"))
      .select(col("g"), col("nt"), col("st"),
        round(col("sth").cast("double") / col("g").cast("double"), 6)
          .cast(DecimalType(18, 6)).as("theta_bar"))
    loo.join(broadcast(bar), Seq("g", "nt", "st"))
      .select(col("g"), col("nt"), col("st"), col("theta_bar"),
        ((col("theta_i") - col("theta_bar")) *
         (col("theta_i") - col("theta_bar")))
          .cast(DecimalType(38, 12)).as("dev2"))
      .groupBy("g", "nt", "st", "theta_bar")
      .agg(sum(col("dev2")).as("ssd"))
      .select(col("g"),
        round(col("st").cast("double") / col("nt").cast("double"), 6)
          .as("theta_all_r"),
        col("theta_bar").cast("string").as("theta_bar"),
        round((col("g") - 1).cast("double") / col("g").cast("double") *
          col("ssd").cast("double"), 6).as("jack_var_r"),
        round(sqrt((col("g") - 1).cast("double") / col("g").cast("double") *
          col("ssd").cast("double")), 6).as("jack_se_r"))
  }
  private val a39JackknifeSql =
    """WITH per AS (SELECT c_nationkey, COUNT(*) AS ni,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS si
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1),
      |tot AS (SELECT SUM(ni) AS nt, CAST(SUM(si) AS DECIMAL(38,4)) AS st,
      |    COUNT(*) AS g
      |  FROM per),
      |loo AS (SELECT tot.g, tot.nt, tot.st,
      |    CAST(round(CAST(tot.st - per.si AS DOUBLE)
      |      / CAST(tot.nt - per.ni AS DOUBLE), 6) AS DECIMAL(18,6))
      |      AS theta_i
      |  FROM per CROSS JOIN tot),
      |bar AS (SELECT g, nt, st,
      |    CAST(round(CAST(SUM(theta_i) AS DOUBLE) / CAST(g AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS theta_bar
      |  FROM loo GROUP BY 1, 2, 3),
      |dev AS (SELECT loo.g, loo.nt, loo.st, bar.theta_bar,
      |    CAST((loo.theta_i - bar.theta_bar)
      |      * (loo.theta_i - bar.theta_bar) AS DECIMAL(38,12)) AS dev2
      |  FROM loo JOIN bar ON bar.g = loo.g)
      |SELECT g,
      |  round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS theta_all_r,
      |  CAST(theta_bar AS VARCHAR) AS theta_bar,
      |  round(CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE)
      |    * CAST(SUM(dev2) AS DOUBLE), 6) AS jack_var_r,
      |  round(sqrt(CAST(g - 1 AS DOUBLE) / CAST(g AS DOUBLE)
      |    * CAST(SUM(dev2) AS DOUBLE)), 6) AS jack_se_r
      |FROM dev GROUP BY g, nt, st, theta_bar""".stripMargin

  val queries: Map[String, QFn] = Map(
    "t_zipf_fit" -> tZipfFit,
    "geo_knn_join" -> geoKnnJoin,
    "a39_jackknife" -> a39Jackknife)

  val oracleSql: Map[String, String] = Map(
    "t_zipf_fit" -> tZipfFitSql,
    "geo_knn_join" -> geoKnnJoinSql,
    "a39_jackknife" -> a39JackknifeSql)
}

/** Round-5 widening, sixth pack: linear-SVM training epochs over the
  * embedding table (full-batch subgradient on the hinge loss — the
  * third loss family next to logreg's cross-entropy and the stumps'
  * squared error), an approximate randomization test (Noreen 1989 —
  * hash-derived label reassignments give an assumption-free p-value,
  * the two-sample test that needs no distributional model), and
  * Jensen–Shannon divergence of each source's unigram distribution
  * against the corpus (the bounded, symmetric drift measure corpus
  * mixing reports use).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL(18,6) before any reordering sum, total ORDER BYs.
  */
object Frontier18Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // ml_svm_hinge — two full-batch subgradient epochs of a linear SVM
  // (binary target: embedding label < 5) from w₀ = 0, η = 0.5,
  // λ = 0.01. Dims load through the ml.KMeans exact-decimal layout
  // (each float frozen once as DECIMAL(18,6)), so margins y·⟨w,x⟩
  // are exact decimal dot products (shuffle on vec_id — the sample
  // axis), the violator set {m < 1} is an exact comparison, and each
  // weight update w_d ← (1−ηλ)w_d + η·Σ_viol(y·x_d)/n is ONE rounded
  // double frozen back to DECIMAL(18,6) — both engines walk the
  // identical float path, epoch by epoch. Per epoch the data moves
  // twice (margin pass, gradient pass), each a key-partitioned
  // aggregation; the 64-row weight vector broadcasts. Emits per-epoch
  // violator count, training accuracy, mean hinge loss, and the L1
  // weight norm — the convergence trace a training job logs.
  // ------------------------------------------------------------------
  private val mlSvmHinge: QFn = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val pts = graft.ml.KMeans.pointsLong(emb).localCheckpoint(true)
    val y = emb.select(col("vec_id"),
      when(col("label") < 5, lit(1L)).otherwise(lit(-1L)).as("y"))
      .localCheckpoint(true)
    val n = y.count()
    def margins(w: DataFrame): DataFrame = pts
      .join(broadcast(w), "dim")
      .groupBy("vec_id").agg(sum(col("vd") * col("wd")).as("dot"))
      .join(y, "vec_id")
      .select(col("vec_id"), col("y"), col("dot"),
        (col("y") * col("dot")).as("m"))
    def update(w: DataFrame, viol: DataFrame): DataFrame = {
      // Σ_viol y·x_d per dim (exact decimal), then one rounded double
      val g = pts.join(viol.select(col("vec_id"), col("y")), "vec_id")
        .groupBy("dim").agg(sum(col("vd") * col("y")).as("gsum"))
      w.join(g, Seq("dim"), "left")
        .select(col("dim"),
          round(col("wd").cast("double") * (1.0 - 0.5 * 0.01) +
            lit(0.5) * coalesce(col("gsum").cast("double"), lit(0.0)) /
              n.toDouble, 6)
            .cast(DecimalType(18, 6)).as("wd"))
    }
    val w0 = pts.select(col("dim")).distinct()
      .select(col("dim"), lit(0.0).cast(DecimalType(18, 6)).as("wd"))
    // epoch 1: every margin is 0 < 1 — all samples are violators
    val w1 = update(w0, y.select(col("vec_id"), col("y")))
      .localCheckpoint(true)
    val m1 = margins(w1).localCheckpoint(true)
    val w2 = update(w1, m1.filter(col("m") < 1)
      .select(col("vec_id"), col("y"))).localCheckpoint(true)
    val m2 = margins(w2).localCheckpoint(true)
    def epochStats(ep: Int, m: DataFrame, w: DataFrame): DataFrame = {
      val hl = m.select(col("m"),
        when(col("m") < 1, round(lit(1.0) - col("m").cast("double"), 6))
          .otherwise(lit(0.0)).cast(DecimalType(18, 6)).as("h"),
        when(col("m") > 0, 1L).otherwise(0L).as("correct"),
        when(col("m") < 1, 1L).otherwise(0L).as("viol"))
        .agg(sum(col("viol")).cast("long").as("n_violators"),
          sum(col("correct")).cast("long").as("n_correct"),
          sum(col("h")).as("sh"))
      val wn = w.agg(sum(abs(col("wd"))).as("wn1"))
      hl.crossJoin(wn)
        .select(lit(ep).as("epoch"), col("n_violators"), col("n_correct"),
          round(col("sh").cast("double") / n.toDouble, 6).as("hinge_r"),
          col("wn1").cast("string").as("w_norm1"))
    }
    epochStats(1, m1, w1).unionByName(epochStats(2, m2, w2))
      .orderBy("epoch")
  }
  private val mlSvmHingeSql = {
    // mirror of pointsLong + the two epochs; n is a scalar subquery
    s"""WITH pts AS (SELECT vec_id, dim - 1 AS dim,
       |    CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)) AS vd
       |  FROM (SELECT vec_id, unnest(embedding) AS v,
       |      generate_subscripts(embedding, 1) AS dim
       |    FROM embeddings)),
       |yy AS (SELECT vec_id,
       |    CASE WHEN label < 5 THEN 1 ELSE -1 END AS y
       |  FROM embeddings),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM yy),
       |g1 AS (SELECT p.dim, SUM(p.vd * yy.y) AS gsum
       |  FROM pts p JOIN yy ON yy.vec_id = p.vec_id GROUP BY 1),
       |w1 AS (SELECT g1.dim,
       |    CAST(round(0.0 * (1.0 - 0.5 * 0.01)
       |      + 0.5 * CAST(CAST(g1.gsum AS VARCHAR) AS DOUBLE) / nn.n, 6)
       |      AS DECIMAL(18,6)) AS wd
       |  FROM g1, nn),
       |m1 AS (SELECT p.vec_id, yy.y, yy.y * SUM(p.vd * w1.wd) AS m
       |  FROM pts p JOIN w1 ON w1.dim = p.dim
       |  JOIN yy ON yy.vec_id = p.vec_id
       |  GROUP BY p.vec_id, yy.y),
       |g2 AS (SELECT p.dim, SUM(p.vd * m1.y) AS gsum
       |  FROM pts p JOIN m1 ON m1.vec_id = p.vec_id AND m1.m < 1
       |  GROUP BY 1),
       |w2 AS (SELECT w1.dim,
       |    CAST(round(CAST(w1.wd AS DOUBLE) * (1.0 - 0.5 * 0.01)
       |      + 0.5 * COALESCE(CAST(CAST(g2.gsum AS VARCHAR) AS DOUBLE),
       |          0.0) / nn.n, 6) AS DECIMAL(18,6)) AS wd
       |  FROM w1 LEFT JOIN g2 ON g2.dim = w1.dim, nn),
       |m2 AS (SELECT p.vec_id, yy.y, yy.y * SUM(p.vd * w2.wd) AS m
       |  FROM pts p JOIN w2 ON w2.dim = p.dim
       |  JOIN yy ON yy.vec_id = p.vec_id
       |  GROUP BY p.vec_id, yy.y),
       |e1 AS (SELECT 1 AS epoch,
       |    CAST(SUM(CASE WHEN m < 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_violators,
       |    CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_correct,
       |    round(CAST(SUM(CAST(CASE WHEN m < 1 THEN
       |        round(1.0 - CAST(m AS DOUBLE), 6) ELSE 0.0 END
       |        AS DECIMAL(18,6))) AS DOUBLE) / ANY_VALUE(nn.n), 6)
       |      AS hinge_r,
       |    (SELECT CAST(SUM(abs(wd)) AS VARCHAR) FROM w1) AS w_norm1
       |  FROM m1, nn),
       |e2 AS (SELECT 2 AS epoch,
       |    CAST(SUM(CASE WHEN m < 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_violators,
       |    CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_correct,
       |    round(CAST(SUM(CAST(CASE WHEN m < 1 THEN
       |        round(1.0 - CAST(m AS DOUBLE), 6) ELSE 0.0 END
       |        AS DECIMAL(18,6))) AS DOUBLE) / ANY_VALUE(nn.n), 6)
       |      AS hinge_r,
       |    (SELECT CAST(SUM(abs(wd)) AS VARCHAR) FROM w2) AS w_norm1
       |  FROM m2, nn)
       |SELECT * FROM e1 UNION ALL SELECT * FROM e2 ORDER BY epoch""".stripMargin
  }

  // ------------------------------------------------------------------
  // a42_permutation_test — approximate randomization test for the
  // BUILDING-vs-AUTOMOBILE mean order price gap: 20 pseudo-random
  // label reassignments, each order's replica-k group drawn from the
  // md5 of (k, orderkey) — fully deterministic, coordination-free,
  // and embarrassingly parallel (the 20 replicas ride ONE explode of
  // the scan; everything then aggregates by replica — no data moves
  // twice). The p-value is (1 + #{|Δ_k| ≥ |Δ_obs|}) / (K+1), the
  // add-one estimator that keeps p valid for any K. Group means use
  // exact decimal sums; each |Δ| is ONE rounded double frozen as
  // DECIMAL(18,6) so the ≥ comparison is exact in both engines.
  // ------------------------------------------------------------------
  private val a42PermutationTest: QFn = (s, dir) => {
    val o = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
      .select(col("o_orderkey"), col("c_mktsegment").as("seg"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("tp"))
      .localCheckpoint(true)
    def diffOf(df: DataFrame, grpCol: String): DataFrame = df
      .groupBy(col("rep"), col(grpCol).as("g"))
      .agg(count(lit(1)).as("ng"), sum(col("tp")).as("sg"))
      .groupBy("rep")
      .agg(
        max(when(col("g") === "BUILDING", col("sg"))).as("sa"),
        max(when(col("g") === "BUILDING", col("ng"))).as("na"),
        max(when(col("g") =!= "BUILDING", col("sg"))).as("sb"),
        max(when(col("g") =!= "BUILDING", col("ng"))).as("nb"))
      .select(col("rep"),
        round(abs(col("sa").cast("double") / col("na").cast("double") -
          col("sb").cast("double") / col("nb").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("d"))
    val obs = diffOf(o.withColumn("rep", lit(-1)), "seg")
      .select(col("d").as("obs_d"))
    val perms = o.select(col("o_orderkey"), col("tp"),
        explode(sequence(lit(0), lit(19))).as("rep"))
      .withColumn("pg",
        when(conv(substring(md5(concat(col("rep").cast("string"),
          lit(":"), col("o_orderkey").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 2 === 0, lit("BUILDING"))
          .otherwise(lit("OTHER")))
    val permD = diffOf(perms, "pg")
    permD.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("k"),
        sum(when(col("d") >= col("obs_d"), 1L).otherwise(0L))
          .cast("long").as("n_ge"),
        max(col("obs_d")).cast("string").as("obs_diff"))
      .select(col("k"), col("n_ge"), col("obs_diff"),
        round((col("n_ge") + 1).cast("double") /
          (col("k") + 1).cast("double"), 6).as("p_r"))
  }
  private val a42PermutationTestSql =
    """WITH o AS (SELECT o_orderkey, c_mktsegment AS seg,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS tp
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')),
      |obs0 AS (SELECT
      |    SUM(CASE WHEN seg = 'BUILDING' THEN tp END) AS sa,
      |    COUNT(CASE WHEN seg = 'BUILDING' THEN 1 END) AS na,
      |    SUM(CASE WHEN seg <> 'BUILDING' THEN tp END) AS sb,
      |    COUNT(CASE WHEN seg <> 'BUILDING' THEN 1 END) AS nb
      |  FROM o),
      |obs AS (SELECT CAST(round(abs(
      |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
      |      - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)), 6)
      |    AS DECIMAL(18,6)) AS obs_d FROM obs0),
      |reps AS (SELECT o.o_orderkey, o.tp, r.rep,
      |    CASE WHEN CAST(('0x' || substring(md5(CAST(r.rep AS VARCHAR)
      |        || ':' || CAST(o.o_orderkey AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 2 = 0
      |    THEN 'BUILDING' ELSE 'OTHER' END AS pg
      |  FROM o CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS rep)
      |    r),
      |pd0 AS (SELECT rep,
      |    SUM(CASE WHEN pg = 'BUILDING' THEN tp END) AS sa,
      |    COUNT(CASE WHEN pg = 'BUILDING' THEN 1 END) AS na,
      |    SUM(CASE WHEN pg <> 'BUILDING' THEN tp END) AS sb,
      |    COUNT(CASE WHEN pg <> 'BUILDING' THEN 1 END) AS nb
      |  FROM reps GROUP BY 1),
      |pd AS (SELECT rep, CAST(round(abs(
      |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
      |      - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)), 6)
      |    AS DECIMAL(18,6)) AS d FROM pd0)
      |SELECT COUNT(*) AS k,
      |  CAST(SUM(CASE WHEN pd.d >= obs.obs_d THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_ge,
      |  CAST(MAX(obs.obs_d) AS VARCHAR) AS obs_diff,
      |  round(CAST(SUM(CASE WHEN pd.d >= obs.obs_d THEN 1 ELSE 0 END)
      |      + 1 AS DOUBLE) / CAST(COUNT(*) + 1 AS DOUBLE), 6) AS p_r
      |FROM pd CROSS JOIN obs""".stripMargin

  // ------------------------------------------------------------------
  // t_js_divergence — Jensen–Shannon divergence of each source's
  // unigram distribution from the corpus-wide distribution:
  // JSD = ½·KL(P‖M) + ½·KL(Q‖M) with M = (P+Q)/2, the symmetric,
  // √-metrizable, [0, ln2]-bounded drift measure. Probabilities are
  // frequency ratios frozen at DECIMAL(18,9); every KL term
  // (p/2)·ln(p/m) is ONE rounded double frozen as DECIMAL(18,6) so
  // per-source sums are exact. The (source × vocabulary) grid comes
  // from a vocab-side join — Q terms missing from a source still
  // contribute (their p = 0 leg vanishes, the q leg keeps mass), and
  // everything shuffles on the term key; Heaps' law keeps the grid
  // sublinear in corpus size.
  // ------------------------------------------------------------------
  private val tJsDivergence: QFn = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("source"),
        explode(split(TF.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .localCheckpoint(true)
    val srcTot = toks.groupBy("source").agg(count(lit(1)).as("nt"))
    val srcTerm = toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
    val glob = toks.groupBy("w").agg(count(lit(1)).as("gc"))
    val gtot = toks.count()
    // vocab × source grid: global vocabulary joined to every source
    val grid = glob.crossJoin(broadcast(srcTot))
      .join(srcTerm, Seq("source", "w"), "left")
      .select(col("source"), col("w"), col("nt"),
        round(coalesce(col("c"), lit(0L)).cast("double") /
          col("nt").cast("double"), 9).cast(DecimalType(18, 9)).as("p"),
        round(col("gc").cast("double") / lit(gtot.toDouble), 9)
          .cast(DecimalType(18, 9)).as("q"))
    val terms = grid.select(col("source"), col("nt"),
      (when(col("p") > 0,
        round((col("p").cast("double") / 2.0) *
          log(col("p").cast("double") /
            ((col("p") + col("q")).cast("double") / 2.0)), 6))
        .otherwise(lit(0.0)) +
       round((col("q").cast("double") / 2.0) *
         log(col("q").cast("double") /
           ((col("p") + col("q")).cast("double") / 2.0)), 6))
        .cast(DecimalType(18, 6)).as("term"))
    terms.groupBy("source")
      .agg(max(col("nt")).cast("long").as("n_tokens"),
        round(sum(col("term")).cast("double"), 6).as("jsd_r"))
      .orderBy("source")
  }
  private val tJsDivergenceSql = {
    val norm = TF.normTextSql("text")
    s"""WITH tk AS (SELECT source, unnest(string_split($norm, ' ')) AS w
       |  FROM documents),
       |toks AS (SELECT source, w FROM tk WHERE length(w) > 0),
       |st AS (SELECT source, COUNT(*) AS nt FROM toks GROUP BY 1),
       |sw AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2),
       |gl AS (SELECT w, COUNT(*) AS gc FROM toks GROUP BY 1),
       |gt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks),
       |grid AS (SELECT st.source, gl.w, st.nt,
       |    CAST(round(CAST(COALESCE(sw.c, 0) AS DOUBLE)
       |      / CAST(st.nt AS DOUBLE), 9) AS DECIMAL(18,9)) AS p,
       |    CAST(round(CAST(gl.gc AS DOUBLE) / gt.n, 9)
       |      AS DECIMAL(18,9)) AS q
       |  FROM gl CROSS JOIN st CROSS JOIN gt
       |  LEFT JOIN sw ON sw.source = st.source AND sw.w = gl.w),
       |terms AS (SELECT source, nt,
       |    CAST(CASE WHEN p > 0 THEN
       |        round((CAST(p AS DOUBLE) / 2.0)
       |          * ln(CAST(p AS DOUBLE)
       |            / (CAST(p + q AS DOUBLE) / 2.0)), 6)
       |      ELSE 0.0 END
       |      + round((CAST(q AS DOUBLE) / 2.0)
       |          * ln(CAST(q AS DOUBLE)
       |            / (CAST(p + q AS DOUBLE) / 2.0)), 6)
       |      AS DECIMAL(18,6)) AS term
       |  FROM grid)
       |SELECT source, CAST(MAX(nt) AS BIGINT) AS n_tokens,
       |  round(CAST(SUM(term) AS DOUBLE), 6) AS jsd_r
       |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "ml_svm_hinge" -> mlSvmHinge,
    "a42_permutation_test" -> a42PermutationTest,
    "t_js_divergence" -> tJsDivergence)

  val oracleSql: Map[String, String] = Map(
    "ml_svm_hinge" -> mlSvmHingeSql,
    "a42_permutation_test" -> a42PermutationTestSql,
    "t_js_divergence" -> tJsDivergenceSql)
}

/** Round-5 widening, seventh pack: held-out bigram perplexity (the
  * train/eval split discipline every LM-quality filter needs — score
  * text with a model fit on DIFFERENT text), HITS hubs-and-
  * authorities on the customer→part bipartite graph (Kleinberg 1999
  * — the two-sided importance ranking next to g_pagerank's one-
  * sided), and maximum-inner-product search via the MIPS→L2
  * reduction (Bachrach et al. 2014 — rank by ‖q‖²+M²−2⟨q,x⟩ and the
  * augmented nearest neighbor IS the inner-product argmax, no sqrt
  * ever taken).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier19Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // t_perplexity_eval — held-out perplexity of an add-one-smoothed
  // bigram LM: TRAIN on even doc_ids, EVALUATE on odd doc_ids —
  // scoring text with a model fit on different text is what makes
  // the number an honest quality signal (in-sample likelihood, the
  // t_bigram_lm entry, always flatters). Smoothed probabilities
  // P(w2|w1) = (c₂+1)/(c₁+V) over the train vocabulary V; an eval
  // bigram whose context w1 the model never saw backs off to 1/V.
  // Each distinct eval bigram's ln P is ONE rounded double frozen as
  // DECIMAL(18,6) and weighted by its exact count, so per-language
  // sums are order-free; perplexity exp(−LL/N) is the single final
  // double. Counts join on bigram keys — corpus-linear, the V scalar
  // broadcasts.
  // ------------------------------------------------------------------
  private val tPerplexityEval: QFn = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        posexplode(split(TF.normText(col("text")), " "))
          .as(Seq("i", "w")))
      .filter(length(col("w")) > 0)
      .localCheckpoint(true)
    val big = toks.select(col("doc_id"), col("lang"), col("i"),
        col("w").as("w1"))
      .join(toks.select(col("doc_id"), (col("i") - 1).as("i"),
        col("w").as("w2")), Seq("doc_id", "i"))
    val train = big.filter(col("doc_id") % 2 === 0)
    val evalB = big.filter(col("doc_id") % 2 === 1)
    val c2 = train.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum("c2").cast("long").as("c1"))
    val v = toks.filter(col("doc_id") % 2 === 0)
      .select(col("w")).distinct().count() // train vocab — one scalar
    val evalCounts = evalB.groupBy("lang", "w1", "w2")
      .agg(count(lit(1)).as("m"))
    val scored = evalCounts
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .select(col("lang"), col("m"),
        (round(log(
          (coalesce(col("c2"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + v).cast("double")), 6)
          .cast(DecimalType(18, 6)) * col("m")).as("wll"))
    scored.groupBy("lang")
      .agg(sum(col("m")).cast("long").as("n_eval_bigrams"),
        sum(col("wll")).as("ll"))
      .select(col("lang"), col("n_eval_bigrams"),
        round(exp(negate(col("ll").cast("double") /
          col("n_eval_bigrams").cast("double"))), 4).as("ppl_r"))
      .orderBy("lang")
  }
  private val tPerplexityEvalSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w0 AS (SELECT doc_id, lang,
       |    unnest(string_split($norm, ' ')) AS w,
       |    generate_subscripts(string_split($norm, ' '), 1) AS i
       |  FROM documents),
       |tk AS (SELECT doc_id, lang, i, w FROM w0 WHERE length(w) > 0),
       |big AS (SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2
       |  FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
       |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big
       |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2
       |  GROUP BY 1),
       |vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM tk
       |  WHERE doc_id % 2 = 0),
       |ec AS (SELECT lang, w1, w2, COUNT(*) AS m FROM big
       |  WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3),
       |sc AS (SELECT ec.lang, ec.m,
       |    CAST(round(ln(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)
       |      / CAST(COALESCE(c1.c1, 0) + vv.v AS DOUBLE)), 6)
       |      AS DECIMAL(18,6)) * ec.m AS wll
       |  FROM ec
       |  LEFT JOIN c2 ON c2.w1 = ec.w1 AND c2.w2 = ec.w2
       |  LEFT JOIN c1 ON c1.w1 = ec.w1
       |  CROSS JOIN vv)
       |SELECT lang, CAST(SUM(m) AS BIGINT) AS n_eval_bigrams,
       |  round(exp(-(CAST(SUM(wll) AS DOUBLE)
       |    / CAST(SUM(m) AS DOUBLE))), 4) AS ppl_r
       |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // g_hits — HITS on the customer→part purchase bipartite graph
  // (distinct edges from orders⋈lineitem): authorities are parts
  // that good hubs buy, hubs are customers that buy good
  // authorities. Two mutual-reinforcement rounds from hub = 1, each
  // half-step L1-normalized (exact decimal sums; every score is ONE
  // rounded double frozen as DECIMAL(18,9) so the next round's sums
  // stay order-free). Edges shuffle on their own keys — the classic
  // two-groupBy-per-iteration sparse shape, same discipline as
  // g_pagerank — and top-10 authorities emerge via the two-phase
  // rankTopK, no global sort of the part axis.
  // ------------------------------------------------------------------
  private val gHits: QFn = (s, dir) => {
    val e = t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      .localCheckpoint(true)
    def l1norm(df: DataFrame, key: String, raw: String): DataFrame = {
      val tot = df.agg(sum(col(raw)).as("tot"))
      df.crossJoin(broadcast(tot))
        .select(col(key),
          round(col(raw).cast("double") / col("tot").cast("double"), 9)
            .cast(DecimalType(18, 9)).as("score"))
    }
    // round 1: hub=1 → auth_raw(p) = degree; normalize both sides
    val auth1 = l1norm(e.groupBy("p").agg(count(lit(1))
      .cast(DecimalType(18, 9)).as("raw")), "p", "raw")
      .localCheckpoint(true)
    val hub1 = l1norm(e.join(auth1, "p").groupBy("c")
      .agg(sum(col("score")).as("raw")), "c", "raw")
      .localCheckpoint(true)
    // round 2
    val auth2 = l1norm(e.join(hub1.select(col("c"), col("score")
        .as("hs")), "c")
      .groupBy("p").agg(sum(col("hs")).as("raw")), "p", "raw")
      .localCheckpoint(true)
    val scored = auth2
      .select(col("p").as("l_partkey"),
        col("score").cast("string").as("authority"),
        round(col("score").cast("double"), 9).as("a_r"))
    graft.operators.TopK.rankTopK(scored, 10,
        Seq(col("a_r").desc, col("l_partkey").asc), "rnk")
      .select(col("rnk"), col("l_partkey"), col("authority"))
      .orderBy("rnk", "l_partkey")
  }
  private val gHitsSql =
    """WITH e AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |a1r AS (SELECT p, CAST(COUNT(*) AS DECIMAL(18,9)) AS raw
      |  FROM e GROUP BY 1),
      |a1 AS (SELECT p, CAST(round(CAST(raw AS DOUBLE)
      |    / CAST((SELECT SUM(raw) FROM a1r) AS DOUBLE), 9)
      |    AS DECIMAL(18,9)) AS score FROM a1r),
      |h1r AS (SELECT e.c, SUM(a1.score) AS raw
      |  FROM e JOIN a1 ON a1.p = e.p GROUP BY 1),
      |h1 AS (SELECT c, CAST(round(CAST(raw AS DOUBLE)
      |    / CAST((SELECT SUM(raw) FROM h1r) AS DOUBLE), 9)
      |    AS DECIMAL(18,9)) AS score FROM h1r),
      |a2r AS (SELECT e.p, SUM(h1.score) AS raw
      |  FROM e JOIN h1 ON h1.c = e.c GROUP BY 1),
      |a2 AS (SELECT p, CAST(round(CAST(raw AS DOUBLE)
      |    / CAST((SELECT SUM(raw) FROM a2r) AS DOUBLE), 9)
      |    AS DECIMAL(18,9)) AS score FROM a2r),
      |rk AS (SELECT CAST(rank() OVER (ORDER BY
      |      round(CAST(score AS DOUBLE), 9) DESC, p) AS INT) AS rnk,
      |    p AS l_partkey, CAST(score AS VARCHAR) AS authority
      |  FROM a2)
      |SELECT rnk, l_partkey, authority FROM rk
      |WHERE rnk <= 10
      |ORDER BY rnk, l_partkey""".stripMargin

  // ------------------------------------------------------------------
  // ann_mips_topk — maximum-inner-product top-10 via the MIPS→L2
  // reduction: augmenting corpus vectors with √(M²−‖x‖²) makes the
  // L2-nearest augmented neighbor the inner-product argmax, because
  // d'² = ‖q‖² + M² − 2⟨q,x⟩ is strictly decreasing in ⟨q,x⟩. The
  // entry RANKS BY THAT AUGMENTED DISTANCE — computed entirely in
  // exact decimal (‖q‖², M², and ⟨q,x⟩ are exact sums over the
  // frozen DECIMAL(18,6) dims; the √ never needs evaluating) — while
  // the oracle ranks by raw inner product descending; the hash match
  // PROVES the reduction preserves the top-k, tie-for-tie (both
  // sides break ties on vec_id). Dot products shuffle on the dim key
  // then the (query, vector) pair — the brute-force baseline every
  // MIPS index (IVF/graph) is measured against.
  // ------------------------------------------------------------------
  private val annMipsTopk: QFn = (s, dir) => {
    val pts = graft.ml.KMeans.pointsLong(t(s, dir, "embeddings"))
      .localCheckpoint(true)
    val queries = pts.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("qid"), col("dim"), col("vd").as("qd"))
    val corpus = pts.filter(col("vec_id") > 3)
    val norms = corpus
      .groupBy("vec_id")
      .agg(sum((col("vd") * col("vd")).cast(DecimalType(38, 12)))
        .as("x2"))
    val m2 = norms.agg(max(col("x2")).as("m2"))
    val qnorm = queries.groupBy("qid")
      .agg(sum((col("qd") * col("qd")).cast(DecimalType(38, 12)))
        .as("q2"))
    val dots = corpus.join(queries, "dim")
      .groupBy("qid", "vec_id")
      .agg(sum((col("vd") * col("qd")).cast(DecimalType(38, 12)))
        .as("dot"))
    // d'^2 = q2 + M2 - 2*dot — exact decimal, monotone anti in dot
    val aug = dots
      .join(broadcast(qnorm), "qid")
      .crossJoin(broadcast(m2))
      .select(col("qid"), col("vec_id"), col("dot"),
        // dot subtracted twice: keeps pure decimal addition (exact,
        // full scale-12) — a 2×decimal multiply would overflow Spark's
        // 38-digit cap and silently drop scale, breaking tie parity
        (col("q2") + col("m2") - col("dot") - col("dot")).as("d2aug"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("d2aug").asc, col("vec_id").asc)
    aug.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("rnk"), col("vec_id"),
        col("dot").cast("string").as("inner_product"))
      .orderBy("qid", "rnk")
  }
  private val annMipsTopkSql =
    """WITH pts AS (SELECT vec_id, dim - 1 AS dim,
      |    CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)) AS vd
      |  FROM (SELECT vec_id, unnest(embedding) AS v,
      |      generate_subscripts(embedding, 1) AS dim
      |    FROM embeddings)),
      |q AS (SELECT vec_id AS qid, dim, vd AS qd FROM pts
      |  WHERE vec_id <= 3),
      |c AS (SELECT * FROM pts WHERE vec_id > 3),
      |dots AS (SELECT q.qid, c.vec_id,
      |    SUM(CAST(c.vd * q.qd AS DECIMAL(38,12))) AS dot
      |  FROM c JOIN q ON q.dim = c.dim GROUP BY 1, 2),
      |rk AS (SELECT qid, vec_id, dot,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY dot DESC, vec_id) AS rnk
      |  FROM dots)
      |SELECT qid, CAST(rnk AS INT) AS rnk, vec_id,
      |  CAST(dot AS VARCHAR) AS inner_product
      |FROM rk WHERE rnk <= 10
      |ORDER BY qid, rnk""".stripMargin

  val queries: Map[String, QFn] = Map(
    "t_perplexity_eval" -> tPerplexityEval,
    "g_hits" -> gHits,
    "ann_mips_topk" -> annMipsTopk)

  val oracleSql: Map[String, String] = Map(
    "t_perplexity_eval" -> tPerplexityEvalSql,
    "g_hits" -> gHitsSql,
    "ann_mips_topk" -> annMipsTopkSql)
}

/** Round-5 widening, eighth pack: next-event prediction evaluation
  * (fit the transition model on HELD-IN users, score top-1 accuracy
  * on held-out users — the behavioral-model counterpart of
  * t_perplexity_eval's text split), Gumbel tail fitting on block
  * maxima (extreme-value theory's method-of-moments estimate — the
  * tail-risk number a capacity planner asks for), and per-source
  * lexical statistics (type-token ratio, hapax share, mean word
  * length — the vocabulary-health panel of every corpus report).
  *
  * House determinism rules: exact integer/decimal arithmetic, each
  * double born as ONE rounded expression over exact inputs and frozen
  * as DECIMAL before any reordering sum, total ORDER BYs.
  */
object Frontier20Queries {

  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val TF = graft.textops.TextFunctions

  // ------------------------------------------------------------------
  // ev_next_event_eval — honest evaluation of a first-order next-
  // event predictor: transition counts fit on EVEN user_ids only,
  // the predictor for context a is argmax_b count(a→b) (ties broken
  // alphabetically — a total, engine-agreed order), and top-1
  // accuracy is scored on ODD users' transitions. The model table is
  // 5×5; the eval pass is one lead() per user partition + a
  // broadcast join against the argmax table — at any scale the data
  // moves once. The baseline column (global majority class among
  // train TARGETS) pins how much the context actually buys — an
  // accuracy number without its baseline is marketing, not
  // measurement.
  // ------------------------------------------------------------------
  private val evNextEventEval: QFn = (s, dir) => {
    val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
      col("event_type"), expr("ts div 1000000000").as("sec"))
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val trans = e.withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("user_id"), col("event_type").as("a"),
        col("nxt").as("b"))
      .localCheckpoint(true)
    val train = trans.filter(col("user_id") % 2 === 0)
    val fit = train.groupBy("a", "b").agg(count(lit(1)).as("n"))
    val wArg = Window.partitionBy("a")
      .orderBy(col("n").desc, col("b").asc)
    val model = fit.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("a"), col("b").as("pred"))
    val majority = train.groupBy(col("b")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("b").asc).limit(1)
      .select(col("b").as("maj"))
    val eval_ = trans.filter(col("user_id") % 2 === 1)
      .join(broadcast(model), Seq("a"), "left")
      .crossJoin(broadcast(majority))
    eval_.groupBy("a")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("b") === col("pred"), 1L).otherwise(0L))
          .cast("long").as("n_correct"),
        sum(when(col("b") === col("maj"), 1L).otherwise(0L))
          .cast("long").as("n_majority"))
      .select(col("a").as("context"), col("n_eval"), col("n_correct"),
        round(col("n_correct").cast("double") /
          col("n_eval").cast("double"), 6).as("acc_r"),
        col("n_majority"),
        round(col("n_majority").cast("double") /
          col("n_eval").cast("double"), 6).as("baseline_r"))
      .orderBy("context")
  }
  private val evNextEventEvalSql =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(ts) // 1000000 AS sec
      |  FROM events),
      |tr AS (SELECT user_id, event_type AS a,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY sec, event_id) AS b
      |  FROM e),
      |trans AS (SELECT user_id, a, b FROM tr WHERE b IS NOT NULL),
      |fit AS (SELECT a, b, COUNT(*) AS n FROM trans
      |  WHERE user_id % 2 = 0 GROUP BY 1, 2),
      |model AS (SELECT a, b AS pred FROM fit
      |  QUALIFY row_number() OVER (PARTITION BY a
      |    ORDER BY n DESC, b) = 1),
      |maj AS (SELECT b AS maj FROM trans WHERE user_id % 2 = 0
      |  GROUP BY 1 ORDER BY COUNT(*) DESC, b LIMIT 1),
      |ev AS (SELECT t.a, t.b, m.pred, maj.maj
      |  FROM trans t LEFT JOIN model m ON m.a = t.a
      |  CROSS JOIN maj
      |  WHERE t.user_id % 2 = 1)
      |SELECT a AS context, COUNT(*) AS n_eval,
      |  CAST(SUM(CASE WHEN b = pred THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct,
      |  round(CAST(SUM(CASE WHEN b = pred THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS acc_r,
      |  CAST(SUM(CASE WHEN b = maj THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_majority,
      |  round(CAST(SUM(CASE WHEN b = maj THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS baseline_r
      |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // a44_gumbel_tail — extreme-value tail fit on block maxima: the
  // monthly maximum order price is the block-maxima series, and the
  // Gumbel location/scale come from the method of moments —
  // β = s·√6/π, μ = x̄ − γ·β (γ = Euler–Mascheroni) — over exact
  // decimal block stats (n, Σmax, Σmax²). The payoff numbers: the
  // 12-block return level μ − β·ln(−ln(1−1/12)) ("the monthly max
  // you expect to exceed once a year") and P(max > 1.5·x̄) from the
  // Gumbel CDF. Block maxima are one month-key groupBy; the fit runs
  // on the data-scale-invariant block table; every emitted number is
  // ONE rounded double over the exact moments.
  // ------------------------------------------------------------------
  private val a44GumbelTail: QFn = (s, dir) => {
    val blocks = t(s, dir, "orders")
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("mon"))
      .agg(max(col("o_totalprice").cast(DecimalType(18, 4))).as("mx"))
    val st = blocks.agg(count(lit(1)).as("n"),
      sum(col("mx")).cast(DecimalType(38, 4)).as("sx"),
      sum((col("mx") * col("mx")).cast(DecimalType(38, 8)))
        .cast(DecimalType(38, 8)).as("sxx"))
    // moments → Gumbel params — one fixed double expression tree
    val n = col("n").cast("double")
    val mean = col("sx").cast("double") / n
    val variance = (col("sxx").cast("double") - mean * mean * n) / (n - 1)
    val beta = sqrt(variance * lit(6.0)) / lit(math.Pi)
    val gamma = 0.5772156649015329 // Euler–Mascheroni
    val mu = mean - lit(gamma) * beta
    st.select(col("n").as("n_blocks"),
        round(mean, 4).as("block_mean_r"),
        round(beta, 4).as("beta_r"),
        round(mu, 4).as("mu_r"),
        round(mu - beta * log(negate(log(lit(1.0) - lit(1.0 / 12.0)))), 4)
          .as("return_level_12_r"),
        round(lit(1.0) - exp(negate(exp(negate(
          (lit(1.5) * mean - mu) / beta)))), 6).as("p_exceed_150pct_r"))
  }
  private val a44GumbelTailSql =
    """WITH blocks AS (SELECT
      |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |      AS mon,
      |    MAX(CAST(o_totalprice AS DECIMAL(18,4))) AS mx
      |  FROM orders GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n0,
      |    CAST(SUM(mx) AS DECIMAL(38,4)) AS sx,
      |    CAST(SUM(CAST(CAST(mx AS DECIMAL(28,4)) * mx AS DECIMAL(38,8)))
      |      AS DECIMAL(38,8)) AS sxx
      |  FROM blocks),
      |d AS (SELECT CAST(n0 AS DOUBLE) AS n, n0,
      |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
      |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd
      |  FROM st)
      |SELECT n0 AS n_blocks,
      |  round(sxd / n, 4) AS block_mean_r,
      |  round(sqrt(((sxxd - (sxd / n) * (sxd / n) * n) / (n - 1))
      |    * 6.0) / pi(), 4) AS beta_r,
      |  round(sxd / n - 0.5772156649015329
      |    * (sqrt(((sxxd - (sxd / n) * (sxd / n) * n) / (n - 1)) * 6.0)
      |      / pi()), 4) AS mu_r,
      |  round((sxd / n - 0.5772156649015329
      |    * (sqrt(((sxxd - (sxd / n) * (sxd / n) * n) / (n - 1)) * 6.0)
      |      / pi()))
      |    - (sqrt(((sxxd - (sxd / n) * (sxd / n) * n) / (n - 1)) * 6.0)
      |      / pi()) * ln(-ln(1.0 - 1.0 / 12.0)), 4)
      |    AS return_level_12_r,
      |  round(1.0 - exp(-exp(-((1.5 * (sxd / n)
      |    - (sxd / n - 0.5772156649015329
      |      * (sqrt(((sxxd - (sxd / n) * (sxd / n) * n) / (n - 1)) * 6.0)
      |        / pi())))
      |    / (sqrt(((sxxd - (sxd / n) * (sxd / n) * n) / (n - 1)) * 6.0)
      |      / pi())))), 6) AS p_exceed_150pct_r
      |FROM d""".stripMargin

  // ------------------------------------------------------------------
  // t_lexical_stats — vocabulary-health panel per source: type-token
  // ratio (distinct words / words — low TTR = repetitive boilerplate),
  // hapax share (corpus-wide once-words as a fraction of the source's
  // types — high hapax = noisy OCR/typo tails), and mean word length.
  // Two key-partitioned aggregations (token pass, type pass) plus a
  // corpus-wide hapax table joined on the word key. Every ratio is
  // ONE rounded double over exact counts.
  // ------------------------------------------------------------------
  private val tLexicalStats: QFn = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("source"),
        explode(split(TF.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .localCheckpoint(true)
    val types = toks.groupBy("source", "w")
      .agg(count(lit(1)).as("c"), sum(length(col("w"))).as("chars"))
    val hapax = toks.groupBy("w").agg(count(lit(1)).as("gc"))
      .filter(col("gc") === 1).select(col("w"), lit(1L).as("is_hapax"))
    types.join(hapax, Seq("w"), "left")
      .groupBy("source")
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("chars")).cast("long").as("n_chars"),
        sum(coalesce(col("is_hapax"), lit(0L))).cast("long")
          .as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        round(col("n_types").cast("double") /
          col("n_tokens").cast("double"), 6).as("ttr_r"),
        round(col("n_hapax").cast("double") /
          col("n_types").cast("double"), 6).as("hapax_share_r"),
        round(col("n_chars").cast("double") /
          col("n_tokens").cast("double"), 6).as("mean_word_len_r"))
      .orderBy("source")
  }
  private val tLexicalStatsSql = {
    val norm = TF.normTextSql("text")
    s"""WITH tk AS (SELECT source, unnest(string_split($norm, ' ')) AS w
       |  FROM documents),
       |toks AS (SELECT source, w FROM tk WHERE length(w) > 0),
       |ty AS (SELECT source, w, COUNT(*) AS c,
       |    CAST(SUM(length(w)) AS BIGINT) AS chars
       |  FROM toks GROUP BY 1, 2),
       |hx AS (SELECT w FROM toks GROUP BY w HAVING COUNT(*) = 1)
       |SELECT ty.source,
       |  CAST(SUM(ty.c) AS BIGINT) AS n_tokens,
       |  COUNT(*) AS n_types,
       |  CAST(SUM(CASE WHEN hx.w IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hapax,
       |  round(CAST(COUNT(*) AS DOUBLE)
       |    / CAST(SUM(ty.c) AS DOUBLE), 6) AS ttr_r,
       |  round(CAST(SUM(CASE WHEN hx.w IS NOT NULL THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share_r,
       |  round(CAST(SUM(ty.chars) AS DOUBLE)
       |    / CAST(SUM(ty.c) AS DOUBLE), 6) AS mean_word_len_r
       |FROM ty LEFT JOIN hx ON hx.w = ty.w
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, QFn] = Map(
    "ev_next_event_eval" -> evNextEventEval,
    "a44_gumbel_tail" -> a44GumbelTail,
    "t_lexical_stats" -> tLexicalStats)

  val oracleSql: Map[String, String] = Map(
    "ev_next_event_eval" -> evNextEventEvalSql,
    "a44_gumbel_tail" -> a44GumbelTailSql,
    "t_lexical_stats" -> tLexicalStatsSql)
}

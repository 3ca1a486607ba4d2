package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.textops.{Dedup, Multimodal, Similarity, TextFunctions => TF}

/** Training-data pipeline operators over `documents` / `embeddings`
  * (builder-prompt §"large-scale training-data pipeline"): dedup family,
  * similarity search, text analysis, multimodal plumbing. Every entry is
  * DuckDB-oracled — including the sketches: minhash/jaccard oracle
  * against the exact-Jaccard pipeline their banding provably recalls,
  * simhash/LSH/IVF against a full SQL replay of the sketch itself —
  * plus ScalaTest ground-truth checks (TextOpsSpec).
  */
object TextQueries {

  type QFn = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // t1 — token counting: whitespace + BPE-ish estimate (§2.8 analog for text)
  private val tTokens: QFn = (s, dir) =>
    docs(s, dir).select(
      col("doc_id"),
      TF.wsTokenCount(col("text")).as("ws_tokens"),
      TF.bpeTokenEstimate(col("text")).as("bpe_tokens"),
      length(col("text")).as("n_chars_m"))
      .orderBy("doc_id")
  private val tTokensSql =
    s"""SELECT doc_id, ${TF.wsTokenCountSql("text")} AS ws_tokens,
       |${TF.bpeTokenEstimateSql("text")} AS bpe_tokens,
       |CAST(length(text) AS INT) AS n_chars_m
       |FROM documents ORDER BY doc_id""".stripMargin

  // t2 — language ID heuristic vs the labeled lang column
  private val tLangId: QFn = (s, dir) =>
    docs(s, dir).select(
      col("doc_id"), col("lang"),
      TF.langId(col("text")).as("lang_guess"))
      .orderBy("doc_id")
  private val tLangIdSql =
    s"""SELECT doc_id, lang, ${TF.langIdSql("text")} AS lang_guess
       |FROM documents ORDER BY doc_id""".stripMargin

  // t3 — quality scoring
  private val tQuality: QFn = (s, dir) =>
    docs(s, dir).select(
      col("doc_id"),
      TF.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  private val tQualitySql =
    s"""SELECT doc_id, ${TF.qualityScoreSql("text")} AS quality
       |FROM documents ORDER BY doc_id""".stripMargin

  // t4 — document fingerprinting
  private val tFingerprint: QFn = (s, dir) =>
    docs(s, dir).select(
      col("doc_id"),
      TF.fingerprint(col("text")).as("doc_fp"))
      .orderBy("doc_id")
  private val tFingerprintSql =
    s"""SELECT doc_id, ${TF.fingerprintSql("text")} AS doc_fp
       |FROM documents ORDER BY doc_id""".stripMargin

  // t5 — PII detection + redaction, the scrub step before any corpus
  // ships to training. The word-soup corpus carries no organic PII, so
  // the entry PLANTS deterministic emails/phones/IPs/SSNs keyed off
  // doc_id (both engines build the identical augmented text), then
  // counts per kind through the cascade and fingerprints the redacted
  // text — an md5 mismatch catches a single byte of missed or
  // over-eager redaction.
  private val tPiiRedact: QFn = (s, dir) => {
    val planted = concat(col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" call 555-123-4567 from 10.0."),
          (col("doc_id") % 200).cast("string"), lit(".1"))).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit(" id 123-45-6789")).otherwise(lit("")))
    val counts = TF.piiCounts(planted).map { case (k, c) => c.as(s"n_$k") }
    docs(s, dir).select(
        (col("doc_id") +: counts) :+
          md5(TF.redactPii(planted)).as("redacted_fp"): _*)
      .orderBy("doc_id")
  }
  private val tPiiRedactSql = {
    val planted =
      """concat(text,
        |  CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END,
        |  CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567 from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.1' ELSE '' END,
        |  CASE WHEN doc_id % 11 = 0 THEN ' id 123-45-6789' ELSE '' END)""".stripMargin
    val counts = TF.piiCountsSql(planted)
      .map { case (k, e) => s"$e AS n_$k" }.mkString(",\n")
    s"""SELECT doc_id, $counts,
       |md5(${TF.redactPiiSql(planted)}) AS redacted_fp
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // t6 — repetition-based quality signals (the Gopher-style rules that
  // catch boilerplate and degenerate generations): distinct-word ratio,
  // most-frequent-word share, duplicate 3-gram fraction. One explode +
  // two groupBys per signal family; ratios divide exact counts so the
  // doubles are bit-identical across engines.
  private val tRepetition: QFn = (s, dir) => {
    val words = docs(s, dir).select(col("doc_id"),
        explode(split(TF.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val wordStats = words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).cast("long").as("n_words"),
           count(lit(1)).cast("long").as("n_distinct"),
           max(col("c")).cast("long").as("top_count"))
    val d = docs(s, dir)
      .select(col("doc_id"), split(TF.normText(col("text")), " ").as("__w"))
      .select(col("doc_id"), col("__w"),
        posexplode(col("__w")).as(Seq("__p", "__x")))
      .filter(col("__p") <= size(col("__w")) - 3)
      .select(col("doc_id"), concat_ws(" ", col("__x"),
        element_at(col("__w"), col("__p") + 2),
        element_at(col("__w"), col("__p") + 3)).as("g"))
    val gramStats = d.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_grams"),
           countDistinct(col("g")).cast("long").as("n_distinct_grams"))
    wordStats.join(gramStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_distinct").cast("double") / col("n_words")).as("distinct_word_ratio"),
        (col("top_count").cast("double") / col("n_words")).as("top_word_share"),
        coalesce((col("n_grams") - col("n_distinct_grams")).cast("double")
          / col("n_grams"), lit(0.0)).as("dup_3gram_frac"))
      .orderBy("doc_id")
  }
  private val tRepetitionSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS w
       |  FROM documents),
       |wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w WHERE length(w) > 0
       |       GROUP BY 1, 2),
       |ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
       |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |       CAST(MAX(c) AS BIGINT) AS top_count FROM wc GROUP BY 1),
       |arr AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id,
       |  unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
       |    i -> array_to_string(ws[i:i+2], ' '))) AS g FROM arr),
       |gs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |       CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_grams
       |       FROM g GROUP BY 1)
       |SELECT ws.doc_id,
       |CAST(n_distinct AS DOUBLE) / n_words AS distinct_word_ratio,
       |CAST(top_count AS DOUBLE) / n_words AS top_word_share,
       |COALESCE(CAST(n_grams - n_distinct_grams AS DOUBLE) / n_grams, 0.0)
       |  AS dup_3gram_frac
       |FROM ws LEFT JOIN gs ON ws.doc_id = gs.doc_id
       |ORDER BY ws.doc_id""".stripMargin
  }

  // t7 — benchmark decontamination: flag corpus docs sharing any 5-gram
  // with the eval set (docs 0-19 stand in for a benchmark suite). The
  // eval-side shingle set is benchmark-sized — tiny next to the corpus —
  // so it broadcasts and the 100 TB scan never shuffles; shingles are
  // the portable md5 hashes, which the oracle mirrors with raw shingle
  // strings (identical up to 2^-64 collisions).
  // t10 — exact frequent terms via the Misra-Gries candidate sweep
  // (operators/FrequentItems): per-partition decrement counting
  // nominates candidates without shuffling the long tail, an exact
  // count over candidates only finishes. Threshold = 0.2% of all
  // tokens; the oracle is the plain heavy-hitters GROUP BY — candidate
  // pruning must be invisible in the result (the no-false-negative
  // guarantee, driver-proven).
  private val tFrequentTerms: QFn = (s, dir) => {
    import s.implicits._
    val words = docs(s, dir).select(
        explode(split(TF.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0).as[String]
    val n = words.count()
    val minCount = math.max(1L, n / 500L)
    graft.operators.FrequentItems.frequent(words, minCount, sketchK = 4096)
      .select(col("item").as("term"), col("n"))
      .orderBy("term")
  }
  private val tFrequentTermsSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w AS (SELECT unnest(string_split($norm, ' ')) AS term
       |  FROM documents),
       |ww AS (SELECT term FROM w WHERE length(term) > 0),
       |t AS (SELECT greatest(CAST(COUNT(*) // 500 AS BIGINT), 1) AS mc FROM ww)
       |SELECT term, COUNT(*) AS n FROM ww CROSS JOIN t
       |GROUP BY term, mc HAVING COUNT(*) >= mc
       |ORDER BY term""".stripMargin
  }

  // pipe2 — RAG ingest pipeline as ONE declarative plan: overlapping
  // chunking → (stub) embedding → hyperplane-LSH bucket assignment →
  // per-bucket index stats. The embedding is the documented stub
  // boundary (a real model is environment-blocked, as with multimodal
  // decode): 8 dims derived from the portable md5 hash of the chunk
  // fingerprint — deterministic, SQL-replayable, and the Spark-side
  // plumbing (chunk geometry, per-dim columns staying in codegen, the
  // sign-bit bucketing, the rollup) is the real pipeline shape. Dots
  // fold left-to-right in both engines so doubles are bit-identical.
  private val pipeRagIngest: QFn = (s, dir) => {
    val d = docs(s, dir)
      .select(col("doc_id"), split(TF.normText(col("text")), " ").as("__w"))
      .select(col("doc_id"), col("__w"),
        explode(sequence(lit(0), greatest(size(col("__w")) - 1, lit(0)), lit(80)))
          .as("start"))
      .select(col("doc_id"), (col("start") / 80).cast("int").as("chunk_idx"),
        md5(concat_ws(" ", slice(col("__w"), col("start") + 1, lit(100))))
          .as("chunk_fp"))
    val dims = (0 until 8).map { i =>
      (Dedup.md5Hash64(concat(col("chunk_fp"), lit(s":$i")))
        .cast("double") / lit(9.223372036854776e18)).as(s"v$i")
    }
    val embedded = d.select(col("doc_id") +: col("chunk_idx") +: dims: _*)
    val planes = Similarity.hyperplanes(dim = 8, numPlanes = 6, seed = 7L)
    val bucket = planes.zipWithIndex.map { case (p, b) =>
      val dot = (0 until 8).map(i => col(s"v$i") * lit(p(i))).reduce(_ + _)
      when(dot >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    embedded.withColumn("bucket", bucket)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_chunks"),
           countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("bucket")
  }
  private val pipeRagIngestSql = {
    val norm = TF.normTextSql("text")
    // DuckDB << raises on overflow (Java's wraps), so the signed 64-bit
    // combine is arithmetic: fold the high half's sign explicitly, then
    // hi*2^32 + lo stays inside int64 exactly like (hi << 32) | lo
    def h64(x: String) = {
      val hi = s"CAST(('0x' || substring(md5($x), 1, 8)) AS BIGINT)"
      val lo = s"CAST(('0x' || substring(md5($x), 9, 8)) AS BIGINT)"
      s"(($hi - (CASE WHEN $hi >= 2147483648 THEN 4294967296 ELSE 0 END))" +
        s" * 4294967296 + $lo)"
    }
    val dims = (0 until 8).map { i =>
      s"(CAST(${h64(s"chunk_fp || ':$i'")} AS DOUBLE) / 9.223372036854776e18) AS v$i"
    }.mkString(",\n")
    val planes = Similarity.hyperplanes(dim = 8, numPlanes = 6, seed = 7L)
    val bucket = planes.zipWithIndex.map { case (p, b) =>
      val dot = (0 until 8).map(i => s"v$i * ${p(i)}").mkString(" + ")
      s"(CASE WHEN $dot >= 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH w AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |st AS (SELECT doc_id, ws,
       |  unnest(range(0, CAST(greatest(len(ws) - 1, 0) AS BIGINT) + 1, 80)) AS start
       |  FROM w),
       |c AS (SELECT doc_id, CAST(start // 80 AS INT) AS chunk_idx,
       |  md5(array_to_string(ws[start + 1:start + 100], ' ')) AS chunk_fp
       |  FROM st),
       |e AS (SELECT doc_id, chunk_idx,
       |$dims
       |FROM c)
       |SELECT $bucket AS bucket, COUNT(*) AS n_chunks,
       |COUNT(DISTINCT doc_id) AS n_docs
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // t8 — URL extraction + canonicalization, the domain-level filter step
  // of web-corpus curation. The word-soup corpus carries no organic
  // URLs, so (as with PII) deterministic URLs are planted keyed off
  // doc_id in BOTH engines; extraction pulls the host, canonicalization
  // lowercases, strips the query string, a trailing slash and a leading
  // www., and a literal blocklist flags disallowed domains. Simple
  // regexes only (no backrefs/lookaround) so Java and RE2 semantics
  // coincide.
  private val tUrlExtract: QFn = (s, dir) => {
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("http://")),
      when(col("doc_id") % 4 === 0, lit("WWW.Example.com"))
        .when(col("doc_id") % 4 === 1, lit("blog.example.com"))
        .when(col("doc_id") % 4 === 2, lit("Spam-Site.net"))
        .otherwise(lit("docs.test.org")),
      lit("/p/"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit("?utm_source=feed&id="), col("doc_id").cast("string")))
        .otherwise(lit("")))
    val noQuery = regexp_replace(lower(url), "\\?.*$", "")
    val noSlash = regexp_replace(noQuery, "/$", "")
    val host = regexp_replace(
      regexp_extract(noSlash, "https?://([^/]+)", 1), "^www\\.", "")
    val canon = concat(lit("https://"), host,
      regexp_extract(noSlash, "https?://[^/]+(/.*)?$", 1))
    docs(s, dir).select(col("doc_id"), host.as("host"),
        md5(canon).as("canon_fp"),
        host.isin("spam-site.net").as("blocked"))
      .orderBy("doc_id")
  }
  private val tUrlExtractSql = {
    val url =
      """(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END ||
        | CASE WHEN doc_id % 4 = 0 THEN 'WWW.Example.com'
        |      WHEN doc_id % 4 = 1 THEN 'blog.example.com'
        |      WHEN doc_id % 4 = 2 THEN 'Spam-Site.net'
        |      ELSE 'docs.test.org' END ||
        | '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
        | CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
        | CASE WHEN doc_id % 3 = 0
        |      THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
        |      ELSE '' END)""".stripMargin
    s"""WITH u AS (SELECT doc_id,
       |  regexp_replace(regexp_replace(lower($url), '\\?.*$$', ''), '/$$', '')
       |    AS nu FROM documents),
       |h AS (SELECT doc_id, nu,
       |  regexp_replace(regexp_extract(nu, 'https?://([^/]+)', 1), '^www\\.', '')
       |    AS host FROM u)
       |SELECT doc_id, host,
       |md5('https://' || host ||
       |    COALESCE(regexp_extract(nu, 'https?://[^/]+(/.*)?$$', 1), ''))
       |  AS canon_fp,
       |host IN ('spam-site.net') AS blocked
       |FROM h ORDER BY doc_id""".stripMargin
  }

  // t9 — unigram log-probability scoring: the perplexity-proxy quality
  // filter (score docs by how typical their words are under the corpus
  // unigram LM). Corpus word frequencies are one groupBy; per-doc
  // scores sum ln(freq/total) per token. Each ln() term is quantized to
  // DECIMAL(38,12) before the (order-independent) sum — the engines'
  // 1-ulp libm skew (~1e-16 per term) vanishes at the 12th decimal, and
  // the 6-decimal surface absorbs the rest (same discipline as BM25).
  private val tUnigramLp: QFn = (s, dir) => {
    val words = docs(s, dir).select(col("doc_id"),
        explode(split(TF.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val freq = words.groupBy("w").agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c")).cast("long").as("total"))
    words.join(broadcast(freq), "w")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
           sum(log(col("c").cast("double") / col("total").cast("double"))
             .cast(org.apache.spark.sql.types.DecimalType(38, 12))).as("lp"))
      .select(col("doc_id"), col("n_words"),
        round(col("lp").cast("double") / col("n_words").cast("double"), 6)
          .as("avg_logprob_r"))
      .orderBy("doc_id")
  }
  private val tUnigramLpSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS w
       |  FROM documents),
       |ww AS (SELECT doc_id, w FROM w WHERE length(w) > 0),
       |f AS (SELECT w, COUNT(*) AS c FROM ww GROUP BY 1),
       |t AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM f),
       |d AS (SELECT doc_id, COUNT(*) AS n_words,
       |  SUM(CAST(ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
       |      AS DECIMAL(38,12))) AS lp
       |  FROM ww JOIN f USING (w) CROSS JOIN t GROUP BY 1)
       |SELECT doc_id, n_words,
       |round(CAST(CAST(lp AS VARCHAR) AS DOUBLE)
       |      / CAST(n_words AS DOUBLE), 6) AS avg_logprob_r
       |FROM d ORDER BY doc_id""".stripMargin
  }

  // t11 — REAL byte-pair encoding (greedy merge-table encode, the
  // GPT-2-style algorithm; functions/BpeSegment): per word, characters
  // fuse lowest-rank-first until no adjacent pair is in the committed
  // 32-rule table — the true token-budget input the chars/4 estimate
  // (t_token_count's bpe_tokens) only approximates. The segmentation is
  // a pure per-row codegen expression (no shuffle, no vocab collect);
  // corpora with heavy word repetition can equivalently route through
  // distinct-vocab + join, but the expression form is the simpler
  // 100-TB plan. Output pins the exact pieces, not just counts: seg_sig
  // sums each word's md5-derived segmentation hash (mod 1e9+7, so ~500
  // words/doc can't overflow a long), and the oracle REPLAYS the whole
  // algorithm as a recursive CTE over the distinct vocab — generated
  // from the same BpeMerges.table, one merge per recursion step, the
  // all-occurrences-left-to-right fuse expressed positionally (sound
  // because every committed rule has a ≠ b, so occurrences within a
  // step cannot overlap).
  private val tBpe: QFn = (s, dir) => {
    val words = docs(s, dir).select(col("doc_id"),
        explode(split(TF.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
    words
      .withColumn("seg", graft.functions.BpeMerges.bpe_segment(col("w")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
           sum(size(split(col("seg"), " ")).cast("long")).as("n_bpe_tokens"),
           sum(pmod(Dedup.md5Hash64(col("seg")), lit(1000000007L)))
             .as("seg_sig"))
      .orderBy("doc_id")
  }
  private val tBpeSql = {
    val norm = TF.normTextSql("text")
    def h64(x: String) = {
      val hi = s"CAST(('0x' || substring(md5($x), 1, 8)) AS BIGINT)"
      val lo = s"CAST(('0x' || substring(md5($x), 9, 8)) AS BIGINT)"
      s"(($hi - (CASE WHEN $hi >= 2147483648 THEN 4294967296 ELSE 0 END))" +
        s" * 4294967296 + $lo)"
    }
    val segH = s"(((${h64("seg")} % 1000000007) + 1000000007) % 1000000007)"
    s"""WITH RECURSIVE
       |merges(a, b, rnk) AS (VALUES ${graft.functions.BpeMerges.sqlValues}),
       |w AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS w
       |  FROM documents),
       |ww AS (SELECT doc_id, w FROM w WHERE length(w) > 0),
       |vocab AS (SELECT DISTINCT w FROM ww),
       |enc(w, toks) AS (
       |  SELECT w, list_transform(range(1, length(w) + 1), i -> w[i])
       |  FROM vocab
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
       |FROM ww JOIN fin USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // p4b — token-budget sharding on the REAL BPE counts (the t11
  // tokenizer feeding the p4 packer): per source, docs pack greedily in
  // doc_id order into ~2000-token shards, with each doc's budget the
  // true merge-table token count instead of the whitespace proxy.
  // Shard boundaries move wherever the two counts disagree, so the
  // entry pins the composition end to end; docs whose normalized text
  // is empty contribute 0 tokens but still occupy their slot (left
  // join + coalesce — same row universe as p4).
  private val pBpeShards: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val toks = docs(s, dir).select(col("doc_id"),
        explode(split(TF.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("seg", graft.functions.BpeMerges.bpe_segment(col("w")))
      .groupBy("doc_id")
      .agg(sum(size(split(col("seg"), " ")).cast("long")).as("tok"))
    val d = docs(s, dir).select(col("source"), col("doc_id"))
      .join(toks, Seq("doc_id"), "left")
      .withColumn("tok", coalesce(col("tok"), lit(0L)))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("tok")).over(w))
      .withColumn("shard",
        floor((col("cum") - col("tok")).cast("double") / 2000.0).cast("int"))
      .groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("shard_tokens"))
      .orderBy("source", "shard")
  }
  private def bpeShardSql: String = {
    val norm = TF.normTextSql("text")
    s"""WITH RECURSIVE
       |merges(a, b, rnk) AS (VALUES ${graft.functions.BpeMerges.sqlValues}),
       |w AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS w
       |  FROM documents),
       |ww AS (SELECT doc_id, w FROM w WHERE length(w) > 0),
       |vocab AS (SELECT DISTINCT w FROM ww),
       |enc(w, toks) AS (
       |  SELECT w, list_transform(range(1, length(w) + 1), i -> w[i])
       |  FROM vocab
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
       |fin AS (SELECT w, CAST(len(toks) AS BIGINT) AS np FROM enc e
       |  WHERE NOT EXISTS (SELECT 1 FROM merges m2
       |    WHERE list_contains(list_transform(range(1, len(e.toks)),
       |      i -> e.toks[i] || '|' || e.toks[i+1]), m2.a || '|' || m2.b))),
       |dt AS (SELECT doc_id, CAST(SUM(np) AS BIGINT) AS tok
       |  FROM ww JOIN fin USING (w) GROUP BY 1),
       |d AS (SELECT source, documents.doc_id, COALESCE(tok, 0) AS tok
       |  FROM documents LEFT JOIN dt ON documents.doc_id = dt.doc_id),
       |c AS (SELECT source, doc_id, tok,
       |  SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
       |                 ROWS UNBOUNDED PRECEDING) AS cum FROM d)
       |SELECT source,
       |CAST(floor(CAST(cum - tok AS DOUBLE) / 2000.0) AS INT) AS shard,
       |COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS shard_tokens
       |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  private val tDecontaminate: QFn = (s, dir) => {
    val sh = Dedup.shingledHashedPortable(docs(s, dir), "doc_id", "text", 5)
    val evalSet = sh.filter(col("doc_id") < 20).select("sh").distinct()
    sh.filter(col("doc_id") >= 20)
      .join(broadcast(evalSet), "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_5grams"))
      .orderBy("doc_id")
  }
  private val tDecontaminateSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(1, greatest(len(ws) - 3, 1)),
       |    i -> array_to_string(ws[i:i+4], ' '))) AS shingle FROM w),
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20)
       |SELECT doc_id, COUNT(*) AS n_shared_5grams
       |FROM sh JOIN ev USING (shingle)
       |WHERE doc_id >= 20 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // t8 — overlapping document chunking (RAG/context-window prep): fixed
  // 100-word chunks every 80 words (20-word overlap), emitted as
  // (doc_id, chunk_idx, n_words, md5) — the fingerprint pins the exact
  // chunk text without shipping it. One posexplode over the start
  // offsets; no UDFs, no driver loops.
  private val tChunking: QFn = (s, dir) => {
    val words = split(TF.normText(col("text")), " ")
    docs(s, dir)
      .select(col("doc_id"), words.as("__w"))
      .select(col("doc_id"), col("__w"),
        posexplode(sequence(lit(0), greatest(size(col("__w")) - 1, lit(0)),
          lit(80))).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("__w"), col("start") + 1, lit(100)).as("__c"))
      .filter(size(col("__c")) > 0)
      .select(col("doc_id"), col("chunk_idx"),
        size(col("__c")).as("n_words"),
        md5(concat_ws(" ", col("__c"))).as("chunk_fp"))
      .orderBy("doc_id", "chunk_idx")
  }
  private val tChunkingSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |st AS (SELECT doc_id, ws,
       |  unnest(range(0, CAST(greatest(len(ws) - 1, 0) AS BIGINT) + 1, 80)) AS start
       |  FROM w),
       |c AS (SELECT doc_id, CAST(start / 80 AS INT) AS chunk_idx,
       |  ws[start + 1:start + 100] AS cw FROM st)
       |SELECT doc_id, chunk_idx, CAST(len(cw) AS INT) AS n_words,
       |md5(array_to_string(cw, ' ')) AS chunk_fp
       |FROM c WHERE len(cw) > 0
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // t9 — BM25 relevance search over the corpus (k1=1.2, b=0.75): the
  // retrieval scorer a curation pipeline uses to mine topical subsets.
  // tf/df/doclen are exact integers and avgdl an exact-ratio double, so
  // each contrib is one fixed expression tree; the per-doc sum routes
  // through an exact decimal (order-independent combine), and the final
  // score is rounded to 6 decimals because the two engines' libm ln()
  // legitimately differ by an ulp — the one non-rational step in the
  // formula.
  private val bm25Query = Seq("data", "query", "spark", "vector")
  /** Shared BM25 scorer: (doc_id, n_terms_hit, score_r round-6) for docs
    * hitting ≥ 2 query terms — the common arm of t_bm25 and the hybrid
    * RRF fusion entry. */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val words = d.select(col("doc_id"),
        explode(split(TF.normText(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val totals = dl.agg(sum(col("dl")).as("total_words"),
      count(lit(1)).as("n_docs"))
    val tf = words.filter(col("w").isin(bm25Query: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "w").join(dl, "doc_id").crossJoin(totals)
      .withColumn("avgdl",
        col("total_words").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * 2.2)
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    // the per-doc sum runs over up to |query| doubles whose partition
    // order is not fixed — route it through an exact decimal so the
    // combine is order-independent on both engines
    scored.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_terms_hit"),
           round(sum(col("contrib").cast(org.apache.spark.sql.types.DecimalType(28, 18)))
             .cast("double"), 6).as("score_r"))
      .filter(col("n_terms_hit") >= 2)
  }
  private val tBm25: QFn = (s, dir) =>
    bm25Scored(s, dir).orderBy(col("doc_id"))
  /** The BM25 CTE chain shared by the t_bm25 and hybrid-search oracles:
    * ends with `bm AS (doc_id, n_terms_hit, score_r)` (≥ 2 terms hit). */
  private def bm25CtesSql: String = {
    val norm = TF.normTextSql("text")
    val terms = bm25Query.map(t => s"'$t'").mkString(", ")
    s"""w AS (SELECT doc_id, unnest(string_split($norm, ' ')) AS w
       |  FROM documents),
       |ww AS (SELECT doc_id, w FROM w WHERE length(w) > 0),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM ww GROUP BY 1),
       |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_words,
       |        COUNT(*) AS n_docs FROM dl),
       |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM ww
       |       WHERE w IN ($terms) GROUP BY 1, 2),
       |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (SELECT tf.doc_id,
       |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |    * (tf * 2.2)
       |    / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(total_words AS DOUBLE) / n_docs)))
       |    AS contrib
       |  FROM tf JOIN df USING (w) JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN tot),
       |bm AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       |round(CAST(CAST(SUM(CAST(contrib AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE), 6) AS score_r
       |FROM scored GROUP BY 1 HAVING COUNT(*) >= 2)""".stripMargin
  }
  private val tBm25Sql =
    s"""WITH $bm25CtesSql
       |SELECT doc_id, n_terms_hit, score_r FROM bm
       |ORDER BY doc_id""".stripMargin

  // d7 — chunk-level boilerplate dedup: exact dedup at CHUNK granularity
  // across documents. Doc-level dedup misses repeated passages inside
  // otherwise-distinct documents (headers, footers, license blocks —
  // classic training-data boilerplate); chunking first, then one
  // hash-groupBy over chunk fingerprints, surfaces every passage that
  // appears in more than one document. Same two-shuffle shape at 100 TB:
  // the chunk stream never materializes chunk text, only md5 keys.
  private val dChunkDedup: QFn = (s, dir) => {
    val words = split(TF.normText(col("text")), " ")
    val chunks = docs(s, dir)
      .select(col("doc_id"), words.as("__w"))
      .select(col("doc_id"), col("__w"),
        posexplode(sequence(lit(0), greatest(size(col("__w")) - 1, lit(0)),
          lit(80))).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("__w"), col("start") + 1, lit(100))))
          .as("chunk_fp"))
    chunks.groupBy("chunk_fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_occurrences"),
           min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk_fp")
  }
  private val dChunkDedupSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |st AS (SELECT doc_id, ws,
       |  unnest(range(0, CAST(greatest(len(ws) - 1, 0) AS BIGINT) + 1, 80)) AS start
       |  FROM w),
       |c AS (SELECT doc_id, md5(array_to_string(ws[start + 1:start + 100], ' '))
       |  AS chunk_fp FROM st)
       |SELECT chunk_fp, COUNT(DISTINCT doc_id) AS n_docs,
       |COUNT(*) AS n_occurrences, MIN(doc_id) AS first_doc
       |FROM c GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
       |ORDER BY chunk_fp""".stripMargin
  }

  // d1 — exact dedup (hash-groupBy)
  private val dExact: QFn = (s, dir) =>
    Dedup.exactDedup(docs(s, dir), "doc_id", "text").orderBy("content_hash")
  private val dExactSql =
    s"""SELECT ${TF.fingerprintSql("text")} AS content_hash,
       |min(doc_id) AS keep_id, COUNT(*) AS n_copies
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB twin of Dedup's shingle→Jaccard pipeline: shingling via
    * list_transform over word positions, optional hot-shingle cap, exact
    * pair scores from the inverted index. Shared by the exact-join query
    * and the verified-minhash query (banding recall is ~1−1e-7 at the
    * corpus's duplicate similarities, so the verified output equals the
    * exact join). */
  private def jaccardPairsSql(k: Int, threshold: Double, cap: Option[Int]): String = {
    val norm = TF.normTextSql("text")
    val capQ = cap.map(c =>
      s"QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= $c").getOrElse("")
    s"""WITH w AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |sh0 AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(1, greatest(len(ws) - ${k - 2}, 1)),
       |    i -> array_to_string(ws[i:i+${k - 1}], ' '))) AS shingle
       |  FROM w),
       |sh AS (SELECT doc_id, shingle FROM sh0 $capQ),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c
       |          FROM sh x JOIN sh y USING (shingle)
       |          WHERE x.doc_id < y.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a
       |           JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  // d2 — minhash LSH near-dup pairs with exact verification: banding
  // proposes candidates, a join back to the shingle sets scores them
  // exactly — so the DuckDB oracle is the full exact-Jaccard join.
  // 8 bands × 4 rows: on this corpus's similarity profile (organic ≤0.15,
  // dups ≥0.8) banding at r=4 keeps every true pair at sf0.01, sf0.1 and
  // the 50k-doc probe while generating ~100× fewer spurious candidates
  // than r=2 (organic pairs collide at s² vs s⁴ per band).
  private val dMinhash: QFn = (s, dir) =>
    Dedup.minhashLshVerified(docs(s, dir), "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .orderBy("id_a", "id_b")
  private val dMinhashSql = jaccardPairsSql(k = 3, threshold = 0.5, cap = None)

  // d3 — simhash near-dup pairs. The fingerprint hash is md5-derived
  // (Dedup.md5Hash64), so the oracle rebuilds the ENTIRE sketch in SQL:
  // shingle → two 32-bit hash halves → 64 bit-votes → majority
  // fingerprint → exact Hamming ≤ 3 over all pairs. The Spark side's
  // 4-chunk pigeonhole banding guarantees full recall at distance ≤ 3,
  // so its bucketed output equals the oracle's all-pairs join.
  private val dSimhash: QFn = (s, dir) =>
    Dedup.simhashNearPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)
      .orderBy("id_a", "id_b")
  private val dSimhashSql: String = {
    val k = 3
    val norm = TF.normTextSql("text")
    val sums = (0 until 64).map { i =>
      if (i < 32) s"SUM((lo >> $i) & 1) AS b$i"
      else s"SUM((hi >> ${i - 32}) & 1) AS b$i"
    }.mkString(", ")
    val loFp = (0 until 32).map(i =>
      s"(CASE WHEN 2 * b$i > n THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    val hiFp = (32 until 64).map(i =>
      s"(CASE WHEN 2 * b$i > n THEN ${1L << (i - 32)} ELSE 0 END)").mkString(" + ")
    val ham = "bit_count(xor(x.lofp, y.lofp)) + bit_count(xor(x.hifp, y.hifp))"
    s"""WITH w AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |sh0 AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(1, greatest(len(ws) - ${k - 2}, 1)),
       |    i -> array_to_string(ws[i:i+${k - 1}], ' '))) AS shingle
       |  FROM w),
       |h AS (SELECT doc_id,
       |  CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS hi,
       |  CAST(('0x' || substring(md5(shingle), 9, 8)) AS BIGINT) AS lo
       |  FROM sh0),
       |v AS (SELECT doc_id, COUNT(*) AS n, $sums FROM h GROUP BY doc_id),
       |f AS (SELECT doc_id, $loFp AS lofp, $hiFp AS hifp FROM v)
       |SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST($ham AS INT) AS hamming
       |FROM f x JOIN f y ON x.doc_id < y.doc_id
       |WHERE $ham <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  // d4 — exact n-gram Jaccard pairs (prefix-filtered AllPairs join). The
  // 3-shingle choice matters: the synthetic corpus has a tiny vocabulary,
  // so 2-shingle inverted-index buckets collide quadratically.
  private val dJaccard: QFn = (s, dir) =>
    Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text",
      shingleK = 3, threshold = 0.5, maxShingleFreq = 1000)
      .orderBy("id_a", "id_b")
  private val dJaccardSql = jaccardPairsSql(k = 3, threshold = 0.5, cap = Some(1000))

  // d6 — duplicate clusters: verified near-dup pairs → connected
  // components (min-label propagation); each doc maps to the smallest
  // doc_id in its duplicate cluster — the "keep one representative"
  // step of a dedup pipeline. Oracle: transitive closure via a
  // recursive CTE over the exact-Jaccard pair set.
  private val dClusters: QFn = (s, dir) => {
    val pairs = Dedup.minhashLshVerified(docs(s, dir), "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
    graft.operators.ConnectedComponents.components(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("comp").as("component"))
      .orderBy("doc_id")
  }
  // d6b — the same duplicate-cluster contract through star contraction
  // (large-star/small-star): O(log) rounds regardless of component
  // diameter — the web-scale path when dup chains get long. Shares the
  // transitive-closure oracle with d6, so the driver proves both
  // algorithms produce identical clusters.
  private val dClustersStar: QFn = (s, dir) => {
    val pairs = Dedup.minhashLshVerified(docs(s, dir), "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
    graft.operators.ConnectedComponents
      .componentsStarContraction(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("comp").as("component"))
      .orderBy("doc_id")
  }

  // d6c — near-dedup as corpus → KEPT corpus (Dedup.nearDedupKeep):
  // verified-minhash pairs over class representatives → star-contraction
  // components → min-id survivor per cluster, members folded in as
  // per-class counts. The deliverable of a real dedup pipeline — and
  // the 100-TB shape: output is the surviving docs (linear), and
  // member-level pairs are never materialized (a cluster of k
  // duplicates costs k rows, not C(k,2)). Oracle: the d6 transitive
  // closure, LEFT-joined to the full corpus so unpaired docs survive
  // as singletons, aggregated to (survivor, cluster_size).
  private val dNearKeep: QFn = (s, dir) =>
    Dedup.nearDedupKeep(docs(s, dir), "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .orderBy("doc_id")
  private val dNearKeepSql = {
    val pairs = jaccardPairsSql(k = 3, threshold = 0.5, cap = None)
      .replace("ORDER BY id_a, id_b", "")
    s"""WITH RECURSIVE p AS ($pairs),
       |edges AS (SELECT id_a AS a, id_b AS b FROM p
       |          UNION SELECT id_b, id_a FROM p),
       |reach(src, dst) AS (
       |  SELECT a, a FROM (SELECT a FROM edges UNION SELECT b FROM edges)
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |comp AS (SELECT src AS doc_id, MIN(dst) AS component
       |         FROM reach GROUP BY 1),
       |alld AS (SELECT d.doc_id,
       |           COALESCE(c.component, d.doc_id) AS component
       |         FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
       |SELECT component AS doc_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |FROM alld GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private val dClustersSql = {
    val pairs = jaccardPairsSql(k = 3, threshold = 0.5, cap = None)
      .replace("ORDER BY id_a, id_b", "")
    s"""WITH RECURSIVE p AS ($pairs),
       |edges AS (SELECT id_a AS a, id_b AS b FROM p
       |          UNION SELECT id_b, id_a FROM p),
       |reach(src, dst) AS (
       |  SELECT a, a FROM (SELECT a FROM edges UNION SELECT b FROM edges)
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
       |SELECT src AS doc_id, MIN(dst) AS component
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // d7 — directed containment (doc quoted inside another): the
  // asymmetric score |src∩dst|/|src| that symmetric Jaccard misses when
  // a small doc hides in a big one. Source-side prefix filter + exact
  // verification (Dedup.containmentPairs); the oracle is the full
  // inverted-index containment join over the same capped shingles.
  private val dContainment: QFn = (s, dir) =>
    Dedup.containmentPairs(docs(s, dir), "doc_id", "text",
      shingleK = 3, threshold = 0.8, maxShingleFreq = 1000)
      .orderBy("id_src", "id_dst")
  private val dContainmentSql = {
    val norm = TF.normTextSql("text")
    s"""WITH w AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |sh0 AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
       |    i -> array_to_string(ws[i:i+2], ' '))) AS shingle
       |  FROM w),
       |sh AS (SELECT doc_id, shingle FROM sh0
       |       QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT x.doc_id AS id_src, y.doc_id AS id_dst, COUNT(*) AS c
       |          FROM sh x JOIN sh y USING (shingle)
       |          WHERE x.doc_id <> y.doc_id GROUP BY 1, 2)
       |SELECT id_src, id_dst,
       |CAST(c AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
       |FROM inter JOIN sizes sa ON sa.doc_id = id_src
       |WHERE CAST(c AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.8
       |ORDER BY id_src, id_dst""".stripMargin
  }

  // d8 — incremental near-dedup against a PERSISTED band index: the
  // daily-ingest shape (the corpus is 100 TB, the batch is not). The
  // corpus's MinHash band keys + shingle sets persist as warehouse
  // parquet partitioned by bucket (Dedup.nearDedupIndexPersist); the
  // batch probes ONLY its own buckets (partition-pruned scans,
  // plan-asserted in IncrementalDedupSpec) and verifies exactly.
  // Batch = every 5th doc re-ingested under a new id: a third verbatim
  // (exact dups), a third with one appended token (near dups, J =
  // n/(n+1)), a third with reversed word order (genuinely new content —
  // trigram shingles of a reversed sequence share ~nothing). Oracle:
  // the full exact-Jaccard pair join over corpus ∪ batch, restricted to
  // pairs touching a batch id — the corpus-rebuild contract the
  // incremental path must match byte-for-byte.
  private def incBatch(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        when(col("doc_id") % 15 === 0, col("text"))
          .when(col("doc_id") % 15 === 5, concat(col("text"), lit(" vtwo")))
          .otherwise(concat_ws(" ", reverse(split(col("text"), " "))))
          .as("text"))

  /** The standing-artifact fingerprint frame: corpus content signature
    * (row count + id/byte sums — one cheap corpus aggregate), the
    * build parameters as one string, the index family's on-disk FORMAT
    * VERSION, and an artifact version for entry-local layouts (sinks
    * etc.) that can change without a format bump. */
  private def standingFp(s: SparkSession, corpus: DataFrame,
      params: String, fmt: Int, aver: Int): DataFrame = {
    import s.implicits._
    val r = corpus.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)),
      coalesce(sum(length(col("text")).cast("long")), lit(0L))).head()
    Seq((r.getLong(0), r.getLong(1), r.getLong(2), params, fmt, aver))
      .toDF("n", "id_sum", "len_sum", "params", "fmt", "aver")
  }

  /** BUILD-ONCE guard for standing artifacts (deterministic per-SF
    * warehouse path — no per-run tmp-dir leak, r8 ADVICE): the entire
    * point of the incremental operators is that the corpus index is a
    * standing artifact the daily batch probes, so an entry rebuilds it
    * only when the corpus it was built from — or the layout it must be
    * read under — changed. `fmt` MUST be the index family's
    * format-version constant (`Dedup.NgramIndexFormatVersion` /
    * `Dedup.NearDedupIndexFormatVersion`), never a hand-maintained
    * literal: a format bump then invalidates every standing index by
    * construction. (The r14 bench failure was exactly a hand-bumped
    * per-entry version that missed the v5 bump — this helper removes
    * the class; StandingFingerprintSpec pins it.) */
  private[graft] def buildOnce(s: SparkSession, wh: graft.etl.Warehouse,
      fpTable: String, corpus: DataFrame, params: String, fmt: Int,
      aver: Int = 0)(build: => Unit): Boolean = {
    val fp = standingFp(s, corpus, params, fmt, aver)
    val fresh = wh.exists("gold", fpTable) &&
      (try {
        wh.read(s, "gold", fpTable).collect().toSeq == fp.collect().toSeq
      } catch { case _: Throwable => false })
    if (!fresh) {
      build
      wh.overwrite(fp, "gold", fpTable)
    }
    !fresh
  }

  private def incIndexWh(s: SparkSession, dir: String): graft.etl.Warehouse = {
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = graft.etl.Warehouse(
      s"${sys.props("java.io.tmpdir")}/graft_ndidx$key")
    buildOnce(s, wh, "nd_fp", docs(s, dir), "k=3,nh=32,b=8,nb=16,nsb=16",
      Dedup.NearDedupIndexFormatVersion) {
      Dedup.nearDedupIndexPersist(docs(s, dir), "doc_id", "text",
        wh, "gold", "nd", shingleK = 3, numHashes = 32, bands = 8,
        nBuckets = 16, nSetBuckets = 16)
    }
    wh
  }

  private val dNearIncrement: QFn = (s, dir) => {
    val wh = incIndexWh(s, dir)
    Dedup.nearDedupIncrementPairs(incBatch(s, dir), "doc_id", "text",
      wh, "gold", "nd", threshold = 0.5).orderBy("id_a", "id_b")
  }

  // d8b — the KEEP side of the same ingest: corpus always wins. A batch
  // cluster (component of batch-internal pairs) dies entirely if any
  // member near-matches an indexed corpus doc; otherwise its min-id
  // member survives with the cluster's member count. Oracle replays the
  // policy: recursive-CTE components over the batch-internal pair set,
  // dropped where the component touches a batch↔corpus pair.
  private val dNearIncrementKeep: QFn = (s, dir) => {
    val wh = incIndexWh(s, dir)
    Dedup.nearDedupIncrementKeep(incBatch(s, dir), "doc_id", "text",
      wh, "gold", "nd", threshold = 0.5).orderBy("doc_id")
  }

  private val incDocsAllSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 10000000 AS doc_id,
      |  CASE WHEN doc_id % 15 = 0 THEN text
      |       WHEN doc_id % 15 = 5 THEN text || ' vtwo'
      |       ELSE array_to_string(list_reverse(string_split(text, ' ')), ' ')
      |  END AS text
      |FROM documents WHERE doc_id % 5 = 0""".stripMargin

  /** The corpus∪batch exact-Jaccard pair join, unordered — the shared
    * CTE body of both incremental oracles. Built from [[jaccardPairsSql]]
    * by swapping its source for the docs_all union (the replace runs
    * BEFORE the union text is prepended, so it can't touch it). */
  private def incPairsSqlBase: String =
    jaccardPairsSql(k = 3, threshold = 0.5, cap = None)
      .replace("ORDER BY id_a, id_b", "")
      .replace("FROM documents", "FROM docs_all")
      .replace("WITH w AS", s"WITH docs_all AS (\n$incDocsAllSql),\nw AS")

  private val dNearIncrementSql =
    s"""WITH p AS ($incPairsSqlBase)
       |SELECT id_a, id_b, jaccard FROM p
       |WHERE id_a >= 10000000 OR id_b >= 10000000
       |ORDER BY id_a, id_b""".stripMargin

  private val dNearIncrementKeepSql =
    s"""WITH RECURSIVE p AS ($incPairsSqlBase),
       |bp AS (SELECT id_a, id_b FROM p
       |       WHERE id_a >= 10000000 AND id_b >= 10000000),
       |xp AS (SELECT CASE WHEN id_a >= 10000000 THEN id_a ELSE id_b END AS bid
       |       FROM p
       |       WHERE (id_a >= 10000000) <> (id_b >= 10000000)),
       |batchdocs AS (SELECT doc_id + 10000000 AS doc_id FROM documents
       |              WHERE doc_id % 5 = 0),
       |edges AS (SELECT id_a AS a, id_b AS b FROM bp
       |          UNION SELECT id_b, id_a FROM bp),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM batchdocs
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |comp AS (SELECT src AS doc_id, MIN(dst) AS component
       |         FROM reach GROUP BY 1),
       |matched AS (SELECT DISTINCT c.component FROM comp c
       |            JOIN xp ON c.doc_id = xp.bid)
       |SELECT component AS doc_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |FROM comp
       |WHERE component NOT IN (SELECT component FROM matched)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // d8c/d8d — incremental EXACT dedup (the prefix-filter family)
  // against the persisted posting index (Dedup.ngramIndexPersist):
  // same standing-artifact discipline as incIndexWh, separate tables
  // because the index layout is different (freq dictionary + positioned
  // postings + sets vs band keys + sets). Statistics are FROZEN at
  // build time over the corpus (see the Dedup section comment), and
  // the oracle replays exactly those semantics: shingle document
  // frequency computed over the CORPUS ONLY, the cap applied with
  // corpus frequencies to corpus and batch sets alike (an unseen batch
  // shingle has frequency 0 — kept).
  private def incNgramIndexWh(s: SparkSession, dir: String): graft.etl.Warehouse = {
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = graft.etl.Warehouse(
      s"${sys.props("java.io.tmpdir")}/graft_ngidx$key")
    buildOnce(s, wh, "ng_fp", docs(s, dir), "k=3,cap=1000,npb=16,nsb=16",
      Dedup.NgramIndexFormatVersion) {
      Dedup.ngramIndexPersist(docs(s, dir), "doc_id", "text", wh, "gold",
        "ng", shingleK = 3, maxShingleFreq = 1000,
        nPostBuckets = 16, nSetBuckets = 16)
    }
    wh
  }

  private val dNgramIncrement: QFn = (s, dir) => {
    val wh = incNgramIndexWh(s, dir)
    Dedup.ngramJaccardIncrementPairs(incBatch(s, dir), "doc_id", "text",
      wh, "gold", "ng", threshold = 0.5).orderBy("id_a", "id_b")
  }

  // d8c-floor — the same increment probe against the JACCARD-ONLY
  // index layout (ngramIndexPersist containment=false, tMinJaccard at
  // the probe threshold): `_post` stores each doc's prefix rows at the
  // 0.5 floor — the footprint cut — and the probe at t >= the floor
  // must be byte-identical to the full layout's. Oracled by the SAME
  // SQL as d_ngram_increment: the recall contract as a driver-checked
  // hash match, not just a spec assertion.
  private def incNgramFloorWh(s: SparkSession, dir: String): graft.etl.Warehouse = {
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = graft.etl.Warehouse(
      s"${sys.props("java.io.tmpdir")}/graft_ngfloor$key")
    buildOnce(s, wh, "ngf_fp", docs(s, dir),
      "k=3,cap=1000,npb=16,nsb=16,containment=false,tmin=0.5",
      Dedup.NgramIndexFormatVersion) {
      Dedup.ngramIndexPersist(docs(s, dir), "doc_id", "text", wh, "gold",
        "ng", shingleK = 3, maxShingleFreq = 1000,
        nPostBuckets = 16, nSetBuckets = 16,
        containment = false, tMinJaccard = 0.5)
    }
    wh
  }

  private val dNgramIncrementFloor: QFn = (s, dir) => {
    val wh = incNgramFloorWh(s, dir)
    Dedup.ngramJaccardIncrementPairs(incBatch(s, dir), "doc_id", "text",
      wh, "gold", "ng", threshold = 0.5).orderBy("id_a", "id_b")
  }

  private val dContainIncrement: QFn = (s, dir) => {
    val wh = incNgramIndexWh(s, dir)
    Dedup.containmentIncrementPairs(incBatch(s, dir), "doc_id", "text",
      wh, "gold", "ng", threshold = 0.8).orderBy("id_src", "id_dst")
  }

  // d8f — the KEEP side of the posting-index ingest: corpus always
  // wins, exactly the dNearIncrementKeep policy replayed over the
  // frozen-cap exact-pair base (components of batch-internal pairs;
  // a component dies if any member pairs with an indexed corpus doc;
  // survivors = min-id member + cluster size; pair-less docs are
  // singletons).
  private val dNgramIncrementKeep: QFn = (s, dir) => {
    val wh = incNgramIndexWh(s, dir)
    Dedup.ngramJaccardIncrementKeep(incBatch(s, dir), "doc_id", "text",
      wh, "gold", "ng", threshold = 0.5).orderBy("doc_id")
  }
  private val dNgramIncrementKeepSql =
    s"""WITH RECURSIVE ${incFrozenSetsSql(k = 3, cap = 1000)},
       |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c
       |          FROM allsh x JOIN allsh y USING (shingle)
       |          WHERE x.doc_id < y.doc_id AND y.doc_id >= 10000000
       |          GROUP BY 1, 2),
       |p AS (SELECT id_a, id_b FROM inter
       |      JOIN sizes sa ON sa.doc_id = id_a
       |      JOIN sizes sb ON sb.doc_id = id_b
       |      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
       |bp AS (SELECT id_a, id_b FROM p WHERE id_a >= 10000000),
       |xp AS (SELECT id_b AS bid FROM p WHERE id_a < 10000000),
       |batchdocs AS (SELECT doc_id + 10000000 AS doc_id FROM documents
       |              WHERE doc_id % 5 = 0),
       |edges AS (SELECT id_a AS a, id_b AS b FROM bp
       |          UNION SELECT id_b, id_a FROM bp),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM batchdocs
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |comp AS (SELECT src AS doc_id, MIN(dst) AS component
       |         FROM reach GROUP BY 1),
       |matched AS (SELECT DISTINCT c.component FROM comp c
       |            JOIN xp ON c.doc_id = xp.bid)
       |SELECT component AS doc_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |FROM comp
       |WHERE component NOT IN (SELECT component FROM matched)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // d8e — frozen-statistics STALENESS: the share of the batch's
  // shingle mass unseen by (or capped out of) the frozen dictionary —
  // the observable that triggers the IDF-refresh rebuild
  // (Dedup.ngramRebuildIfStale). Exactly oracle-able: one left join +
  // counting aggregate, the division replayed as the same IEEE
  // double/double op.
  private val dNgramStaleness: QFn = (s, dir) => {
    val wh = incNgramIndexWh(s, dir)
    Dedup.ngramIndexStaleness(incBatch(s, dir), "doc_id", "text",
      wh, "gold", "ng")
  }
  private val dNgramStalenessSql: String = {
    val norm = TF.normTextSql("text")
    val shingleOf =
      s"""unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
         |    i -> array_to_string(ws[i:i+2], ' ')))""".stripMargin
    s"""WITH cw AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |csh AS MATERIALIZED (SELECT DISTINCT doc_id, $shingleOf AS shingle
       |  FROM cw),
       |freq AS MATERIALIZED (SELECT shingle, COUNT(*) AS f FROM csh
       |  GROUP BY 1),
       |batchraw AS (SELECT doc_id + 10000000 AS doc_id,
       |  CASE WHEN doc_id % 15 = 0 THEN text
       |       WHEN doc_id % 15 = 5 THEN text || ' vtwo'
       |       ELSE array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |  END AS text
       |  FROM documents WHERE doc_id % 5 = 0),
       |bw AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM batchraw),
       |bsh AS (SELECT DISTINCT doc_id, $shingleOf AS shingle FROM bw),
       |j AS (SELECT b.doc_id, b.shingle, f.f
       |      FROM bsh b LEFT JOIN freq f USING (shingle))
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_postings,
       |  CAST(SUM(CASE WHEN f IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unseen,
       |  CAST(SUM(CASE WHEN f IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS unseen_frac,
       |  CAST(SUM(CASE WHEN f > 1000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_capped,
       |  CAST(SUM(CASE WHEN f > 1000 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS capped_frac
       |FROM j""".stripMargin
  }

  /** Shared frozen-statistics CTE base for the two posting-index
    * oracles: corpus shingles, CORPUS-ONLY document frequency, and the
    * capped corpus∪batch doc-shingle rows. MATERIALIZED where a CTE is
    * referenced more than once (DuckDB inlines per reference). */
  private def incFrozenSetsSql(k: Int, cap: Int): String = {
    val norm = TF.normTextSql("text")
    val shingleOf =
      s"""unnest(list_transform(range(1, greatest(len(ws) - ${k - 2}, 1)),
         |    i -> array_to_string(ws[i:i+${k - 1}], ' ')))""".stripMargin
    s"""cw AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM documents),
       |csh AS MATERIALIZED (SELECT DISTINCT doc_id, $shingleOf AS shingle
       |  FROM cw),
       |freq AS MATERIALIZED (SELECT shingle, COUNT(*) AS f FROM csh
       |  GROUP BY 1),
       |batchraw AS (SELECT doc_id + 10000000 AS doc_id,
       |  CASE WHEN doc_id % 15 = 0 THEN text
       |       WHEN doc_id % 15 = 5 THEN text || ' vtwo'
       |       ELSE array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |  END AS text
       |  FROM documents WHERE doc_id % 5 = 0),
       |bw AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM batchraw),
       |bsh AS (SELECT DISTINCT doc_id, $shingleOf AS shingle FROM bw),
       |allsh AS MATERIALIZED (
       |  SELECT c.doc_id, c.shingle FROM csh c JOIN freq USING (shingle)
       |  WHERE f <= $cap
       |  UNION ALL
       |  SELECT b.doc_id, b.shingle FROM bsh b LEFT JOIN freq USING (shingle)
       |  WHERE COALESCE(f, 0) <= $cap),
       |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM allsh
       |  GROUP BY 1)""".stripMargin
  }

  private val dNgramIncrementSql =
    s"""WITH ${incFrozenSetsSql(k = 3, cap = 1000)},
       |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c
       |          FROM allsh x JOIN allsh y USING (shingle)
       |          WHERE x.doc_id < y.doc_id AND y.doc_id >= 10000000
       |          GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a
       |           JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  private val dContainIncrementSql =
    s"""WITH ${incFrozenSetsSql(k = 3, cap = 1000)},
       |inter AS (SELECT s.doc_id AS id_src, d.doc_id AS id_dst,
       |            COUNT(*) AS c
       |          FROM allsh s JOIN allsh d USING (shingle)
       |          WHERE s.doc_id <> d.doc_id
       |            AND (s.doc_id >= 10000000 OR d.doc_id >= 10000000)
       |          GROUP BY 1, 2)
       |SELECT id_src, id_dst, CAST(c AS DOUBLE) / ns.n AS containment
       |FROM inter JOIN sizes ns ON ns.doc_id = id_src
       |WHERE CAST(c AS DOUBLE) / ns.n >= 0.8
       |ORDER BY id_src, id_dst""".stripMargin

  // pipe5 — the curation pipeline as a STREAM: bootstrap (4/5 of the
  // corpus through gates → batch near-dedup keep → persisted index)
  // then one streamed epoch (the re-ingest batch through gates →
  // incremental near-dedup against the bootstrap survivors'
  // index → exactly-once kept/funnel sinks). Output = the funnel
  // table: per-epoch (n_in, n_lang, n_quality, n_kept). The oracle
  // replays the WHOLE composition in SQL: both gates (langIdSql /
  // qualityScoreSql twins), exact-Jaccard pairs over the gated union,
  // recursive-CTE components for the bootstrap keep, and the
  // corpus-wins increment policy for the epoch (a batch cluster dies
  // iff it touches a pair into a KEPT bootstrap doc — the index holds
  // survivors only, so only those pairs count).
  private val pipeCurationStream: QFn = (s, dir) => {
    val initial = docs(s, dir).filter(col("doc_id") % 5 =!= 0)
      .select("doc_id", "text")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = graft.etl.Warehouse(
      s"${sys.props("java.io.tmpdir")}/graft_curwh$key")
    // BUILD-ONCE bootstrap behind a corpus fingerprint (the incIndexWh
    // discipline): the standing curated corpus + its index are the
    // operator's amortized state — only the EPOCH ingest is the work
    // under test, and its epoch-keyed dynamic overwrites make re-runs
    // idempotent regardless. aver=1: the `_kept`/`_funnel` sinks' fold-
    // able `pepoch` partition layout (an entry-local artifact — the
    // index format itself rides on the family constant)
    buildOnce(s, wh, "cur_fp", initial, "k=3,nh=32,b=8,nb=16,nsb=16",
      Dedup.NearDedupIndexFormatVersion, aver = 1) {
      graft.textops.CurationStream.curationBootstrap(initial, "doc_id",
        "text", wh, "gold", "cur", threshold = 0.5, bands = 8,
        nBuckets = 16, nSetBuckets = 16)
    }
    graft.textops.CurationStream.curationIngestBatch(incBatch(s, dir),
      0L, "doc_id", "text", wh, "gold", "cur", threshold = 0.5)
    wh.read(s, "gold", "cur_funnel")
      .select("epoch", "n_in", "n_lang", "n_quality", "n_kept")
      .orderBy("epoch")
  }
  private val pipeCurationStreamSql: String = {
    val norm = TF.normTextSql("text")
    val lang = TF.langIdSql("text")
    val qual = TF.qualityScoreSql("text")
    s"""WITH RECURSIVE
       |corpus0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
       |batch0 AS (SELECT doc_id + 10000000 AS doc_id,
       |  CASE WHEN doc_id % 15 = 0 THEN text
       |       WHEN doc_id % 15 = 5 THEN text || ' vtwo'
       |       ELSE array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |  END AS text
       |  FROM documents WHERE doc_id % 5 = 0),
       |cl AS MATERIALIZED (SELECT * FROM corpus0 WHERE $lang = 'en'),
       |cg AS MATERIALIZED (SELECT * FROM cl WHERE $qual >= 0.5),
       |bl AS MATERIALIZED (SELECT * FROM batch0 WHERE $lang = 'en'),
       |bg AS MATERIALIZED (SELECT * FROM bl WHERE $qual >= 0.5),
       |w AS (SELECT doc_id, string_split($norm, ' ') AS ws
       |      FROM (SELECT * FROM cg UNION ALL SELECT * FROM bg)),
       |sh AS MATERIALIZED (SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
       |    i -> array_to_string(ws[i:i+2], ' '))) AS shingle
       |  FROM w),
       |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c
       |          FROM sh x JOIN sh y USING (shingle)
       |          WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
       |p AS MATERIALIZED (SELECT id_a, id_b FROM inter
       |     JOIN sizes sa ON sa.doc_id = id_a
       |     JOIN sizes sb ON sb.doc_id = id_b
       |     WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
       |pc AS (SELECT id_a, id_b FROM p WHERE id_b < 10000000),
       |edges_c AS (SELECT id_a AS a, id_b AS b FROM pc
       |            UNION SELECT id_b, id_a FROM pc),
       |reach_c(src, dst) AS (
       |  SELECT a, a FROM (SELECT a FROM edges_c UNION SELECT b FROM edges_c)
       |  UNION
       |  SELECT r.src, e.b FROM reach_c r JOIN edges_c e ON r.dst = e.a),
       |comp_c AS (SELECT src AS doc_id, MIN(dst) AS component
       |           FROM reach_c GROUP BY 1),
       |kept_c AS MATERIALIZED (
       |  SELECT DISTINCT COALESCE(c.component, d.doc_id) AS doc_id
       |  FROM cg d LEFT JOIN comp_c c ON d.doc_id = c.doc_id),
       |bp AS (SELECT id_a, id_b FROM p WHERE id_a >= 10000000),
       |xp AS (SELECT p.id_b AS bid FROM p JOIN kept_c k ON p.id_a = k.doc_id
       |       WHERE p.id_b >= 10000000),
       |edges_b AS (SELECT id_a AS a, id_b AS b FROM bp
       |            UNION SELECT id_b, id_a FROM bp),
       |reach_b(src, dst) AS (
       |  SELECT doc_id, doc_id FROM bg
       |  UNION
       |  SELECT r.src, e.b FROM reach_b r JOIN edges_b e ON r.dst = e.a),
       |comp_b AS (SELECT src AS doc_id, MIN(dst) AS component
       |           FROM reach_b GROUP BY 1),
       |matched AS (SELECT DISTINCT c.component FROM comp_b c
       |            JOIN xp ON c.doc_id = xp.bid),
       |kept_b AS (SELECT DISTINCT component AS doc_id FROM comp_b
       |           WHERE component NOT IN (SELECT component FROM matched))
       |SELECT CAST(-1 AS BIGINT) AS epoch,
       |  (SELECT COUNT(*) FROM corpus0) AS n_in,
       |  (SELECT COUNT(*) FROM cl) AS n_lang,
       |  (SELECT COUNT(*) FROM cg) AS n_quality,
       |  (SELECT COUNT(*) FROM kept_c) AS n_kept
       |UNION ALL
       |SELECT CAST(0 AS BIGINT),
       |  (SELECT COUNT(*) FROM batch0),
       |  (SELECT COUNT(*) FROM bl),
       |  (SELECT COUNT(*) FROM bg),
       |  (SELECT COUNT(*) FROM kept_b)
       |ORDER BY epoch""".stripMargin
  }

  // pipe6 — the same curation stream with the EXACT posting-index
  // family (CurationStream.ExactNgramFamily): the dedup stage is the
  // frozen-statistics posting-index increment+keep (zero recall loss)
  // instead of the MinHash band probe. The boilerplate cap is set far
  // above any shingle frequency at these SFs (stated cap-free), so
  // frozen statistics coincide with the union's and the oracle is the
  // SAME end-to-end replay as pipe_curation_stream — both gates,
  // exact-Jaccard pairs over the gated union, recursive-CTE bootstrap
  // keep, corpus-wins epoch policy. The two entries deliberately share
  // one oracle: what differs (and is under test) is the ENGINE path.
  private val pipeCurationExact: QFn = (s, dir) => {
    val initial = docs(s, dir).filter(col("doc_id") % 5 =!= 0)
      .select("doc_id", "text")
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = graft.etl.Warehouse(
      s"${sys.props("java.io.tmpdir")}/graft_curexwh$key")
    // aver=1: the pepoch sink layout (the Jaccard-only floor index the
    // exact-family bootstrap builds rides on the posting-index constant)
    buildOnce(s, wh, "curex_fp", initial, "k=3,cap=1000000,npb=16,nsb=16",
      Dedup.NgramIndexFormatVersion, aver = 1) {
      graft.textops.CurationStream.curationBootstrap(initial, "doc_id",
        "text", wh, "gold", "cur", threshold = 0.5,
        nBuckets = 16, nSetBuckets = 16,
        family = graft.textops.CurationStream.ExactNgramFamily,
        maxShingleFreq = 1000000)
    }
    graft.textops.CurationStream.curationIngestBatch(incBatch(s, dir),
      0L, "doc_id", "text", wh, "gold", "cur", threshold = 0.5,
      family = graft.textops.CurationStream.ExactNgramFamily)
    wh.read(s, "gold", "cur_funnel")
      .select("epoch", "n_in", "n_lang", "n_quality", "n_kept")
      .orderBy("epoch")
  }
  private val pipeCurationExactSql: String = pipeCurationStreamSql

  // d9 — QUANTIFIED keep divergence (the r10 verdict's reconciliation
  // ask): both incremental keeps STATE that the corpus-wins policy can
  // keep an extra member vs a full rebuild when near-dup similarity
  // CHAINS instead of forming cliques — this entry measures that
  // divergence as a rate. Deliberate chains: X = the doc text,
  // Y = X ⊕ m doc-keyed filler words, Z = Y ⊕ m more, with
  // m = ⌈0.75·(|words|−2)⌉ so J(X,Y) ≥ 0.5 and J(Y,Z) ≥ 0.5 but
  // J(X,Z) < 0.5. Bootstrap keeps X (Y dies against it) and indexes
  // the SURVIVORS; the streamed batch Z then matches nothing indexed
  // (its only near-neighbor Y was never indexed) and is kept — while
  // the corpus∪batch rebuild collapses the whole {X,Y,Z} chain to X.
  // Output: one row of kept-set sizes, the symmetric difference split
  // into extra/missing, and (extra+missing)/rebuild as the rate.
  // Cap-free (stated) so frozen == union statistics and the oracle
  // replays BOTH sides exactly with full shingle sets: recursive-CTE
  // components for the bootstrap keep, the epoch's corpus-wins policy
  // scoped to pairs into kept docs, and the full-rebuild closure.
  private def divChain(s: SparkSession, dir: String): DataFrame = {
    val nsh = greatest(
      size(split(TF.normText(col("text")), " ")) - 2, lit(0))
    val m = ceil(nsh.cast("double") * lit(0.75)).cast("int")
    def filler(tag: String): Column =
      when(m > lit(0), concat(lit(" "), array_join(
        transform(sequence(lit(1), greatest(m, lit(1))),
          i => concat(lit("zq"), col("doc_id").cast("string"),
            lit(tag), i.cast("string"))), " ")))
      .otherwise(lit(""))
    docs(s, dir).filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text"),
        filler("a").as("fa"), filler("c").as("fc"))
  }
  private val dKeepDivergence: QFn = (s, dir) => {
    val b = divChain(s, dir)
    val xs = b.select((col("doc_id") * 4).as("doc_id"), col("text"))
    val ys = b.select((col("doc_id") * 4 + 1).as("doc_id"),
      concat(col("text"), col("fa")).as("text"))
    val zs = b.select((col("doc_id") * 4 + 2 + 10000000L).as("doc_id"),
      concat(col("text"), col("fa"), col("fc")).as("text"))
    val corpus = xs.unionByName(ys)
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = graft.etl.Warehouse(
      s"${sys.props("java.io.tmpdir")}/graft_divwh$key")
    // the fmt rides on the posting-index constant — the hand-bumped
    // `ver` here missed the v5 bump and failed this entry in the first
    // r14 bench run; the class is now structurally closed (buildOnce)
    buildOnce(s, wh, "div_fp", corpus, "k=3,cap=1000000,npb=16,nsb=16",
      Dedup.NgramIndexFormatVersion) {
      // standing artifacts, all pure functions of the fingerprinted
      // corpus: the bootstrap kept set, the posting index over its
      // survivors, and the full-rebuild baseline the stream reconciles
      // against — only the streamed probe + tally run per execution
      val boot = Dedup.ngramJaccardKeep(corpus, "doc_id", "text",
        shingleK = 3, threshold = 0.5, maxShingleFreq = 1000000)
      val keptDocs = corpus
        .join(boot.select("doc_id"), "doc_id").localCheckpoint(true)
      Dedup.ngramIndexPersist(keptDocs, "doc_id", "text", wh, "gold",
        "div", shingleK = 3, maxShingleFreq = 1000000,
        nPostBuckets = 16, nSetBuckets = 16)
      wh.overwrite(keptDocs.select("doc_id"), "gold", "div_kept")
      wh.overwrite(
        Dedup.ngramJaccardKeep(corpus.unionByName(zs), "doc_id", "text",
            shingleK = 3, threshold = 0.5, maxShingleFreq = 1000000)
          .select("doc_id"),
        "gold", "div_rebuild")
    }
    val streamZ = Dedup.ngramJaccardIncrementKeep(zs, "doc_id", "text",
      wh, "gold", "div", threshold = 0.5).select("doc_id")
    val streamed = wh.read(s, "gold", "div_kept").select("doc_id")
      .unionByName(streamZ).withColumn("s", lit(1))
    val rebuild = wh.read(s, "gold", "div_rebuild").select("doc_id")
      .withColumn("r", lit(1))
    streamed.join(rebuild, Seq("doc_id"), "full_outer")
      .agg(
        sum(coalesce(col("s"), lit(0))).cast("long").as("n_stream_kept"),
        sum(coalesce(col("r"), lit(0))).cast("long").as("n_rebuild_kept"),
        sum(when(col("r").isNull, 1L).otherwise(0L)).as("n_extra"),
        sum(when(col("s").isNull, 1L).otherwise(0L)).as("n_missing"),
        ((sum(when(col("r").isNull, 1L).otherwise(0L)) +
          sum(when(col("s").isNull, 1L).otherwise(0L))).cast("double") /
         sum(coalesce(col("r"), lit(0))).cast("double"))
          .as("divergence_rate"))
  }
  private val dKeepDivergenceSql: String = {
    val norm = TF.normTextSql("text")
    val shingleOf =
      s"""unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
         |    i -> array_to_string(ws[i:i+2], ' ')))""".stripMargin
    s"""WITH RECURSIVE
       |g AS (SELECT doc_id, text,
       |  CAST(ceil(0.75 * greatest(len(string_split($norm, ' ')) - 2, 0))
       |    AS INT) AS m
       |  FROM documents WHERE doc_id % 7 = 0),
       |f AS (SELECT doc_id, text,
       |  CASE WHEN m > 0 THEN ' ' || array_to_string(list_transform(
       |    range(1, m+1), i -> 'zq' || CAST(doc_id AS VARCHAR) || 'a'
       |      || CAST(i AS VARCHAR)), ' ') ELSE '' END AS fa,
       |  CASE WHEN m > 0 THEN ' ' || array_to_string(list_transform(
       |    range(1, m+1), i -> 'zq' || CAST(doc_id AS VARCHAR) || 'c'
       |      || CAST(i AS VARCHAR)), ' ') ELSE '' END AS fc
       |  FROM g),
       |docsall AS (
       |  SELECT doc_id*4 AS doc_id, text FROM f
       |  UNION ALL SELECT doc_id*4+1, text || fa FROM f
       |  UNION ALL SELECT doc_id*4+2+10000000, text || fa || fc FROM f),
       |w AS (SELECT doc_id, string_split($norm, ' ') AS ws FROM docsall),
       |sh AS MATERIALIZED (SELECT DISTINCT doc_id, $shingleOf AS shingle
       |  FROM w),
       |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh
       |  GROUP BY 1),
       |inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c
       |          FROM sh x JOIN sh y USING (shingle)
       |          WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
       |p AS MATERIALIZED (SELECT id_a, id_b FROM inter
       |     JOIN sizes sa ON sa.doc_id = id_a
       |     JOIN sizes sb ON sb.doc_id = id_b
       |     WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5),
       |pc AS (SELECT id_a, id_b FROM p WHERE id_b < 10000000),
       |edges_c AS (SELECT id_a AS a, id_b AS b FROM pc
       |            UNION SELECT id_b, id_a FROM pc),
       |reach_c(src, dst) AS (
       |  SELECT a, a FROM (SELECT a FROM edges_c UNION SELECT b FROM edges_c)
       |  UNION
       |  SELECT r.src, e.b FROM reach_c r JOIN edges_c e ON r.dst = e.a),
       |comp_c AS (SELECT src AS doc_id, MIN(dst) AS component
       |           FROM reach_c GROUP BY 1),
       |corpusdocs AS (SELECT doc_id*4 AS doc_id FROM f
       |               UNION ALL SELECT doc_id*4+1 FROM f),
       |kept_c AS MATERIALIZED (
       |  SELECT DISTINCT COALESCE(c.component, d.doc_id) AS doc_id
       |  FROM corpusdocs d LEFT JOIN comp_c c ON d.doc_id = c.doc_id),
       |bp AS (SELECT id_a, id_b FROM p WHERE id_a >= 10000000),
       |xp AS (SELECT p.id_b AS bid FROM p JOIN kept_c k ON p.id_a = k.doc_id
       |       WHERE p.id_b >= 10000000),
       |batchdocs AS (SELECT doc_id*4+2+10000000 AS doc_id FROM f),
       |edges_b AS (SELECT id_a AS a, id_b AS b FROM bp
       |            UNION SELECT id_b, id_a FROM bp),
       |reach_b(src, dst) AS (
       |  SELECT doc_id, doc_id FROM batchdocs
       |  UNION
       |  SELECT r.src, e.b FROM reach_b r JOIN edges_b e ON r.dst = e.a),
       |comp_b AS (SELECT src AS doc_id, MIN(dst) AS component
       |           FROM reach_b GROUP BY 1),
       |matched AS (SELECT DISTINCT c.component FROM comp_b c
       |            JOIN xp ON c.doc_id = xp.bid),
       |kept_b AS (SELECT DISTINCT component AS doc_id FROM comp_b
       |           WHERE component NOT IN (SELECT component FROM matched)),
       |streamkept AS (SELECT doc_id FROM kept_c
       |               UNION ALL SELECT doc_id FROM kept_b),
       |edges_r AS (SELECT id_a AS a, id_b AS b FROM p
       |            UNION SELECT id_b, id_a FROM p),
       |reach_r(src, dst) AS (
       |  SELECT doc_id, doc_id FROM docsall
       |  UNION
       |  SELECT r.src, e.b FROM reach_r r JOIN edges_r e ON r.dst = e.a),
       |comp_r AS (SELECT src AS doc_id, MIN(dst) AS component
       |           FROM reach_r GROUP BY 1),
       |kept_r AS MATERIALIZED (SELECT DISTINCT component AS doc_id
       |  FROM comp_r),
       |tally AS (SELECT s.doc_id IS NOT NULL AS in_s,
       |                 r.doc_id IS NOT NULL AS in_r
       |          FROM streamkept s FULL JOIN kept_r r
       |            ON s.doc_id = r.doc_id)
       |SELECT
       |  CAST(SUM(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_stream_kept,
       |  CAST(SUM(CASE WHEN in_r THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_rebuild_kept,
       |  CAST(SUM(CASE WHEN in_s AND NOT in_r THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_extra,
       |  CAST(SUM(CASE WHEN in_r AND NOT in_s THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_missing,
       |  CAST(SUM(CASE WHEN in_s AND NOT in_r THEN 1 ELSE 0 END)
       |     + SUM(CASE WHEN in_r AND NOT in_s THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(CASE WHEN in_r THEN 1 ELSE 0 END) AS DOUBLE)
       |    AS divergence_rate
       |FROM tally""".stripMargin
  }

  private def sqlArr(p: Array[Double]): String =
    p.mkString("[", ", ", "]") + "::DOUBLE[]"

  /** DuckDB cosine over DOUBLE[] — list_dot_product accumulates in index
    * order, matching FloatVecCosine / Similarity.cosine bit-for-bit. */
  private def cosSql(a: String, b: String): String =
    s"(list_dot_product($a, $b) / NULLIF(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)), 0.0))"

  // d5 — embedding cosine near-dup pairs via hyperplane LSH. The planes
  // are deterministic literals (seed 42), so the oracle rebuilds the SAME
  // bucket signatures in SQL and applies the same exact-cosine filter —
  // a full-strength hash-match on an LSH operator.
  private val dEmbDup: QFn = (s, dir) =>
    Dedup.embeddingDupPairs(embs(s, dir), "vec_id", "embedding",
      dim = 64, numPlanes = 10, threshold = 0.2)
      .select(col("id_a"), col("id_b")).orderBy("id_a", "id_b")
  private val dEmbDupSql: String = {
    val planes = Similarity.hyperplanes(dim = 64, numPlanes = 10, seed = 42L)
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(x, ${sqlArr(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
       |b AS (SELECT vec_id, x, $bucket AS bucket FROM v)
       |SELECT p.vec_id AS id_a, q.vec_id AS id_b
       |FROM b p JOIN b q USING (bucket)
       |WHERE p.vec_id < q.vec_id AND ${cosSql("p.x", "q.x")} >= 0.2
       |ORDER BY id_a, id_b""".stripMargin
  }

  // a1 — brute-force cosine top-k: query = embedding of vec_id 0. The
  // oracle recomputes cosine in SQL over UNNEST — both sides double math.
  private def queryVec(s: SparkSession, dir: String): Seq[Double] =
    embs(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)

  // pipe3 — hybrid retrieval with reciprocal-rank fusion: the lexical
  // arm is the shared BM25 scorer, the vector arm the native-cosine
  // brute-force top-k; each arm is cut to its top 100 by a distributed
  // TakeOrdered (never a global sort), ranks are assigned by a
  // bounded count-join over the 100 survivors (no unpartitioned
  // window anywhere in the plan), and RRF = 1/(60+r_lex) + 1/(60+r_vec)
  // is a fixed two-term double sum, round-6. The standard RAG fusion
  // step, composed from two independently-oracled arms.
  private def rrfRank(arm: DataFrame, scCol: String): DataFrame = {
    val x = arm.select(col("doc_id"), col(scCol).as("sc"))
    val y = x.select(col("doc_id").as("id2"), col("sc").as("sc2"))
    x.join(y, col("sc2") > col("sc") ||
              (col("sc2") === col("sc") && col("id2") < col("doc_id")), "left")
      .groupBy("doc_id").agg((count(col("id2")) + 1L).as("rank"))
  }
  private val pipeHybrid: QFn = (s, dir) => {
    val lex = bm25Scored(s, dir)
      .filter(col("doc_id") =!= 0)
      .select(col("doc_id").cast("long").as("doc_id"), col("score_r"))
      .orderBy(col("score_r").desc, col("doc_id")).limit(100)
    val vec = Similarity.bruteForceTopK(
        embs(s, dir).filter(col("vec_id") =!= 0), "vec_id", "embedding",
        queryVec(s, dir), k = 100)
      .select(col("vec_id").cast("long").as("doc_id"),
              round(col("score"), 6).as("vscore"))
    val l = rrfRank(lex, "score_r").withColumnRenamed("rank", "r_lex")
    val v = rrfRank(vec, "vscore").withColumnRenamed("rank", "r_vec")
    l.join(v, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_lex"), col("r_vec"),
        round(coalesce(lit(1.0) / (col("r_lex") + 60).cast("double"), lit(0.0)) +
              coalesce(lit(1.0) / (col("r_vec") + 60).cast("double"), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
      .orderBy(col("rrf").desc, col("doc_id"))
  }
  private val pipeHybridSql =
    s"""WITH $bm25CtesSql,
       |lex AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, score_r FROM bm
       |        WHERE doc_id <> 0 ORDER BY score_r DESC, doc_id LIMIT 100),
       |lexr AS (SELECT doc_id, row_number() OVER (ORDER BY score_r DESC, doc_id)
       |         AS r_lex FROM lex),
       |q AS (SELECT unnest(embedding) AS qv, generate_subscripts(embedding, 1) AS i
       |  FROM embeddings WHERE vec_id = 0),
       |ve AS (SELECT vec_id, unnest(embedding) AS xv, generate_subscripts(embedding, 1) AS i
       |  FROM embeddings WHERE vec_id <> 0),
       |sc AS (SELECT vec_id,
       |  SUM(CAST(xv AS DOUBLE) * CAST(qv AS DOUBLE)) AS dot,
       |  sqrt(SUM(CAST(xv AS DOUBLE) * CAST(xv AS DOUBLE))) AS nx,
       |  sqrt(SUM(CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE))) AS nq
       |  FROM ve JOIN q USING (i) GROUP BY vec_id),
       |vecarm AS (SELECT CAST(vec_id AS BIGINT) AS doc_id,
       |  round(dot / NULLIF(nx * nq, 0.0), 6) AS vscore FROM sc
       |  ORDER BY dot / NULLIF(nx * nq, 0.0) DESC, vec_id LIMIT 100),
       |vecr AS (SELECT doc_id, row_number() OVER (ORDER BY vscore DESC, doc_id)
       |         AS r_vec FROM vecarm)
       |SELECT COALESCE(lexr.doc_id, vecr.doc_id) AS doc_id, r_lex, r_vec,
       |round(COALESCE(1.0 / (r_lex + 60), 0.0)
       |    + COALESCE(1.0 / (r_vec + 60), 0.0), 6) AS rrf
       |FROM lexr FULL JOIN vecr ON lexr.doc_id = vecr.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  private val aBrute: QFn = (s, dir) =>
    Similarity.bruteForceTopK(
        embs(s, dir).filter(col("vec_id") =!= 0), "vec_id", "embedding",
        queryVec(s, dir), k = 10)
      .select(col("vec_id"), round(col("score"), 6).as("score_r"))
      .orderBy(col("score_r").desc, col("vec_id"))
  private val aBruteSql =
    """WITH q AS (SELECT unnest(embedding) AS qv, generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE vec_id = 0),
      |v AS (SELECT vec_id, unnest(embedding) AS xv, generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE vec_id <> 0),
      |s AS (SELECT vec_id,
      |  SUM(CAST(xv AS DOUBLE) * CAST(qv AS DOUBLE)) AS dot,
      |  sqrt(SUM(CAST(xv AS DOUBLE) * CAST(xv AS DOUBLE))) AS nx,
      |  sqrt(SUM(CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE))) AS nq
      |  FROM v JOIN q USING (i) GROUP BY vec_id)
      |SELECT vec_id, round(dot / NULLIF(nx * nq, 0.0), 6) AS score_r
      |FROM s ORDER BY score_r DESC, vec_id LIMIT 10""".stripMargin

  // a1b — brute-force L2 top-k (the Euclidean metric twin of a1, over
  // the native FloatVecL2 codegen loop); oracle recomputes the distance
  // in SQL over UNNEST, rounded to 6 like a1.
  private val aBruteL2: QFn = (s, dir) =>
    Similarity.bruteForceTopKL2(
        embs(s, dir).filter(col("vec_id") =!= 0), "vec_id", "embedding",
        queryVec(s, dir), k = 10)
      .select(col("vec_id"), round(col("dist"), 6).as("dist_r"))
      .orderBy(col("dist_r"), col("vec_id"))
  private val aBruteL2Sql =
    """WITH q AS (SELECT unnest(embedding) AS qv, generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE vec_id = 0),
      |v AS (SELECT vec_id, unnest(embedding) AS xv, generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE vec_id <> 0),
      |s AS (SELECT vec_id,
      |  sqrt(SUM((CAST(xv AS DOUBLE) - CAST(qv AS DOUBLE)) * (CAST(xv AS DOUBLE) - CAST(qv AS DOUBLE)))) AS dist
      |  FROM v JOIN q USING (i) GROUP BY vec_id)
      |SELECT vec_id, round(dist, 6) AS dist_r
      |FROM s ORDER BY dist_r, vec_id LIMIT 10""".stripMargin

  // a2 — LSH-bucketed ANN (scale path). Band planes are deterministic
  // literals (seed 42+band), so the oracle recomputes both the corpus-side
  // and query-side band signatures in SQL: candidates = rows sharing ≥1
  // band with the query, ranked by exact cosine — a full hash-match.
  private val aLsh: QFn = (s, dir) =>
    Similarity.lshTopK(embs(s, dir).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", queryVec(s, dir), k = 10, dim = 64,
        bands = 6, planesPerBand = 4)
      .select(col("vec_id")).orderBy("vec_id")
  private val aLshSql: String = {
    val planeRows = (0 until 6).flatMap { b =>
      Similarity.hyperplanes(dim = 64, numPlanes = 4, seed = 42L + b)
        .zipWithIndex.map { case (p, i) => s"($b, ${1L << i}, ${sqlArr(p)})" }
    }.mkString(",\n    ")
    s"""WITH planes(band, mult, w) AS (VALUES
       |    $planeRows),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qx FROM embeddings WHERE vec_id = 0),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings WHERE vec_id <> 0),
       |vsig AS (SELECT vec_id, band,
       |  SUM(CASE WHEN list_dot_product(x, w) >= 0 THEN mult ELSE 0 END) AS sig
       |  FROM v CROSS JOIN planes GROUP BY 1, 2),
       |qsig AS (SELECT band,
       |  SUM(CASE WHEN list_dot_product(qx, w) >= 0 THEN mult ELSE 0 END) AS sig
       |  FROM q CROSS JOIN planes GROUP BY 1),
       |cand AS (SELECT DISTINCT vec_id FROM vsig JOIN qsig USING (band, sig)),
       |top AS (SELECT v.vec_id
       |  FROM v JOIN cand USING (vec_id) CROSS JOIN q
       |  ORDER BY ${cosSql("v.x", "q.qx")} DESC, v.vec_id LIMIT 10)
       |SELECT vec_id FROM top ORDER BY vec_id""".stripMargin
  }

  // a3 — IVF ANN: coarse k-means codebook (deterministic train) + nprobe
  // cell-pruned search. The oracle replays the ENTIRE build in SQL —
  // init centroids (8 lowest ids), one Lloyd pass with the same
  // decimal-routed means, float-rounded assignment codebook vs
  // double-precision probe ranking — and matches hash-exactly.
  private val aIvf: QFn = (s, dir) => {
    val corpus = embs(s, dir).filter(col("vec_id") =!= 0)
    // one Lloyd pass: the build amortizes over many probes in practice,
    // and at this corpus size codebook quality converges immediately
    val centroids = Similarity.ivfTrain(corpus, "vec_id", "embedding",
      dim = 64, nlist = 8, iterations = 1)
    Similarity.ivfTopK(corpus, "vec_id", "embedding",
        queryVec(s, dir), k = 10, centroids, nprobe = 3)
      .select(col("vec_id")).orderBy("vec_id")
  }
  private val aIvfSql: String = {
    // mirrors Similarity.ivfTrain/ivfTopK step for step: COALESCE(-1e308)
    // is assignToCentroid's null-score guard; cent_f is the
    // float-rounded codebook used for assignment while cent_d (full
    // double) ranks the probe cells, exactly as the Scala does.
    s"""WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
       |  FROM embeddings WHERE vec_id <> 0),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qx FROM embeddings WHERE vec_id = 0),
       |init AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, x AS c
       |         FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT 8)),
       |a1 AS (SELECT v.vec_id, v.x,
       |         (SELECT i.cid FROM init i
       |          ORDER BY COALESCE(${cosSql("v.x", "i.c")}, -1e308) DESC, i.cid ASC LIMIT 1) AS cid
       |       FROM corpus v),
       |sums AS (SELECT cid, i, CAST(SUM(CAST(xe AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS m
       |         FROM (SELECT cid, unnest(x) AS xe, generate_subscripts(x,1) AS i FROM a1)
       |         GROUP BY cid, i),
       |cent_d AS (SELECT cid, list(m ORDER BY i) AS c FROM sums GROUP BY cid),
       |cent_f AS (SELECT cid, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY i) AS c FROM sums GROUP BY cid),
       |probe AS (SELECT cid FROM cent_d CROSS JOIN q
       |          ORDER BY COALESCE(${cosSql("c", "qx")}, -1e308) DESC, cid ASC LIMIT 3),
       |a2 AS (SELECT v.vec_id, v.x,
       |         (SELECT f.cid FROM cent_f f
       |          ORDER BY COALESCE(${cosSql("v.x", "f.c")}, -1e308) DESC, f.cid ASC LIMIT 1) AS cid
       |       FROM corpus v),
       |top AS (SELECT a2.vec_id FROM a2 JOIN probe USING (cid) CROSS JOIN q
       |        ORDER BY ${cosSql("a2.x", "q.qx")} DESC, a2.vec_id LIMIT 10)
       |SELECT vec_id FROM top ORDER BY vec_id""".stripMargin
  }

  // d8 — semantic dedup (SemDeDup-style): coarse k-means cells bound the
  // comparison space, exact cosine runs within cells only. The oracle
  // replays the ENTIRE build — seeded init (8 lowest vec_ids), one
  // decimal-routed Lloyd pass, float-rounded assignment codebook — then
  // the same in-cell pair join, so the driver hash-proves both the
  // clustering and the pair scores.
  private val dSemantic: QFn = (s, dir) =>
    Similarity.semanticDupPairs(embs(s, dir), "vec_id", "embedding",
      dim = 64, nlist = 8, iterations = 1, threshold = 0.2)
      .orderBy("id_a", "id_b")
  private val dSemanticSql: String =
    s"""WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
       |init AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, x AS c
       |         FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT 8)),
       |a1 AS (SELECT v.vec_id, v.x,
       |         (SELECT i.cid FROM init i
       |          ORDER BY COALESCE(${cosSql("v.x", "i.c")}, -1e308) DESC, i.cid ASC LIMIT 1) AS cid
       |       FROM corpus v),
       |sums AS (SELECT cid, i, CAST(SUM(CAST(xe AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS m
       |         FROM (SELECT cid, unnest(x) AS xe, generate_subscripts(x,1) AS i FROM a1)
       |         GROUP BY cid, i),
       |cent_f AS (SELECT cid, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY i) AS c FROM sums GROUP BY cid),
       |a2 AS (SELECT v.vec_id, v.x,
       |         (SELECT f.cid FROM cent_f f
       |          ORDER BY COALESCE(${cosSql("v.x", "f.c")}, -1e308) DESC, f.cid ASC LIMIT 1) AS cid
       |       FROM corpus v)
       |SELECT x.vec_id AS id_a, y.vec_id AS id_b, CAST(x.cid AS INT) AS cell,
       |round(${cosSql("x.x", "y.x")}, 6) AS cosine_r
       |FROM a2 x JOIN a2 y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |WHERE ${cosSql("x.x", "y.x")} >= 0.2
       |ORDER BY id_a, id_b""".stripMargin

  // a5 — product-quantization ANN: 4 subspaces × 8-centroid L2 codebooks
  // (deterministic train, Similarity.pqTrain), corpus encoded to 4 small
  // codes, query ranked by asymmetric (reconstruction) distance looked up
  // from plan-time literal tables. The oracle replays EVERYTHING in SQL —
  // per-subspace init (8 lowest ids), one decimal-routed Lloyd pass,
  // float-rounded codebooks, UNROLLED sequential 16-term squared sums
  // (the exact FloatVecL2 accumulation order) — so codes AND distances
  // are driver-proven.
  private val aPq: QFn = (s, dir) => {
    val corpus = embs(s, dir).filter(col("vec_id") =!= 0)
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      dim = 64, m = 4, k = 8, iterations = 1)
    Similarity.pqTopK(corpus, "vec_id", "embedding",
        queryVec(s, dir), k = 10, books)
      .select(col("vec_id"), col("code_0"), col("code_1"),
        col("code_2"), col("code_3"), round(col("adc"), 6).as("adc_r"))
      .orderBy("adc_r", "vec_id")
  }
  private val aPqSql: String = {
    val sd = 16; val m = 4; val k = 8
    def l2sq(xOf: Int => String, cOf: Int => String) =
      (0 until sd).map { j =>
        s"(${xOf(j)} - ${cOf(j)}) * (${xOf(j)} - ${cOf(j)})"
      }.mkString(" + ")
    def subCtes(s: Int): String = {
      val lo = s * sd + 1; val hi = (s + 1) * sd
      val asgInit = l2sq(j => s"v.x[${lo + j}]", j => s"i.c[${j + 1}]")
      val asgF = l2sq(j => s"v.x[${lo + j}]", j => s"f.c[${j + 1}]")
      val qtab = l2sq(j => s"q.qx[${lo + j}]", j => s"f.c[${j + 1}]")
      s"""init_$s AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, x[$lo:$hi] AS c
         |  FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT $k)),
         |a1_$s AS (SELECT v.vec_id, v.x,
         |  (SELECT i.cid FROM init_$s i ORDER BY sqrt($asgInit) ASC, i.cid ASC LIMIT 1) AS cid
         |  FROM corpus v),
         |sums_$s AS (SELECT cid, i, CAST(SUM(CAST(xe AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu
         |  FROM (SELECT cid, unnest(x[$lo:$hi]) AS xe, generate_subscripts(x[$lo:$hi], 1) AS i FROM a1_$s)
         |  GROUP BY cid, i),
         |cent_$s AS (SELECT cid, list(CAST(CAST(mu AS FLOAT) AS DOUBLE) ORDER BY i) AS c FROM sums_$s GROUP BY cid),
         |a2_$s AS (SELECT v.vec_id,
         |  (SELECT f.cid FROM cent_$s f ORDER BY sqrt($asgF) ASC, f.cid ASC LIMIT 1) AS cid
         |  FROM corpus v),
         |qtab_$s AS (SELECT f.cid, $qtab AS d2 FROM cent_$s f CROSS JOIN q)""".stripMargin
    }
    val codeCols = (0 until m).map(s => s"a2_$s.cid AS code_$s").mkString(", ")
    val codeJoins = (1 until m).map(s => s"JOIN a2_$s USING (vec_id)").mkString(" ")
    val tabJoins = (0 until m).map(s => s"JOIN qtab_$s t$s ON t$s.cid = c.code_$s").mkString(" ")
    val adcSum = (0 until m).map(s => s"t$s.d2").reduce((a, b) => s"($a + $b)")
    s"""WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
       |  FROM embeddings WHERE vec_id <> 0),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qx FROM embeddings WHERE vec_id = 0),
       |${(0 until m).map(subCtes).mkString(",\n")},
       |codes AS (SELECT a2_0.vec_id, $codeCols FROM a2_0 $codeJoins),
       |scored AS (SELECT c.vec_id, code_0, code_1, code_2, code_3,
       |  sqrt($adcSum) AS adc FROM codes c $tabJoins),
       |top AS (SELECT * FROM scored ORDER BY adc, vec_id LIMIT 10)
       |SELECT vec_id, code_0, code_1, code_2, code_3, round(adc, 6) AS adc_r
       |FROM top ORDER BY adc_r, vec_id""".stripMargin
  }

  // a5b — IVF-PQ, the production composition of the two index halves:
  // the coarse cells prune to nprobe=3 cells (ann_ivf_topk's replayable
  // build), PQ asymmetric distance ranks only the survivors from their
  // codes (ann_pq_topk's replayable codebooks, trained corpus-wide as a
  // real deployment does). The oracle replays BOTH builds — the IVF
  // Lloyd pass + float-rounded assignment, the 4 per-subspace PQ
  // codebooks + unrolled ADC sums — then applies the same
  // prune-then-rank join, so the composed index is driver-proven end
  // to end, not just its parts.
  private val aIvfPq: QFn = (s, dir) => {
    val corpus = embs(s, dir).filter(col("vec_id") =!= 0)
    val centroids = Similarity.ivfTrain(corpus, "vec_id", "embedding",
      dim = 64, nlist = 8, iterations = 1)
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      dim = 64, m = 4, k = 8, iterations = 1)
    Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
        queryVec(s, dir), k = 10, centroids, books, nprobe = 3)
      .select(col("vec_id"), col("code_0"), col("code_1"),
        col("code_2"), col("code_3"), round(col("adc"), 6).as("adc_r"))
      .orderBy("adc_r", "vec_id")
  }
  private val aIvfPqSql: String = aIvfPqSqlFor("vec_id <> 0")

  /** IVF-PQ oracle builder with SEPARATE train and encode corpora: the
    * train CTEs (k-means init/assign/means, PQ codebooks) run over
    * `corpus_tr`, while the encode/probe CTEs (final assignment, codes,
    * ADC scoring) run over corpus_all (vec_id <> 0) — which is what the
    * append-without-retrain entry needs (frozen books from the base
    * corpus, codes over base ∪ delta). With trainFilter = the full
    * corpus the two coincide (ann_ivf_pq_topk / _persisted). */
  private def aIvfPqSqlFor(trainFilter: String): String = {
    val sd = 16; val m = 4; val kk = 8
    def l2sq(xOf: Int => String, cOf: Int => String) =
      (0 until sd).map { j =>
        s"(${xOf(j)} - ${cOf(j)}) * (${xOf(j)} - ${cOf(j)})"
      }.mkString(" + ")
    def subCtes(s: Int): String = {
      val lo = s * sd + 1; val hi = (s + 1) * sd
      val asgInit = l2sq(j => s"v.x[${lo + j}]", j => s"i.c[${j + 1}]")
      val asgF = l2sq(j => s"v.x[${lo + j}]", j => s"f.c[${j + 1}]")
      val qtab = l2sq(j => s"q.qx[${lo + j}]", j => s"f.c[${j + 1}]")
      s"""init_$s AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, x[$lo:$hi] AS c
         |  FROM (SELECT * FROM corpus_tr ORDER BY vec_id LIMIT $kk)),
         |a1_$s AS (SELECT v.vec_id, v.x,
         |  (SELECT i.cid FROM init_$s i ORDER BY sqrt($asgInit) ASC, i.cid ASC LIMIT 1) AS cid
         |  FROM corpus_tr v),
         |sums_$s AS (SELECT cid, i, CAST(SUM(CAST(xe AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu
         |  FROM (SELECT cid, unnest(x[$lo:$hi]) AS xe, generate_subscripts(x[$lo:$hi], 1) AS i FROM a1_$s)
         |  GROUP BY cid, i),
         |cent_$s AS (SELECT cid, list(CAST(CAST(mu AS FLOAT) AS DOUBLE) ORDER BY i) AS c FROM sums_$s GROUP BY cid),
         |a2_$s AS (SELECT v.vec_id,
         |  (SELECT f.cid FROM cent_$s f ORDER BY sqrt($asgF) ASC, f.cid ASC LIMIT 1) AS cid
         |  FROM corpus_all v),
         |qtab_$s AS (SELECT f.cid, $qtab AS d2 FROM cent_$s f CROSS JOIN q)""".stripMargin
    }
    val codeCols = (0 until m).map(s => s"a2_$s.cid AS code_$s").mkString(", ")
    val codeJoins = (1 until m).map(s => s"JOIN a2_$s USING (vec_id)").mkString(" ")
    val tabJoins = (0 until m).map(s => s"JOIN qtab_$s t$s ON t$s.cid = c.code_$s").mkString(" ")
    val adcSum = (0 until m).map(s => s"t$s.d2").reduce((a, b) => s"($a + $b)")
    s"""WITH corpus_all AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
       |  FROM embeddings WHERE vec_id <> 0),
       |corpus_tr AS (SELECT vec_id, x FROM corpus_all WHERE $trainFilter),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qx FROM embeddings WHERE vec_id = 0),
       |ivfinit AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, x AS c
       |         FROM (SELECT * FROM corpus_tr ORDER BY vec_id LIMIT 8)),
       |ivfa1 AS (SELECT v.vec_id, v.x,
       |         (SELECT i.cid FROM ivfinit i
       |          ORDER BY COALESCE(${cosSql("v.x", "i.c")}, -1e308) DESC, i.cid ASC LIMIT 1) AS cid
       |       FROM corpus_tr v),
       |ivfsums AS (SELECT cid, i, CAST(SUM(CAST(xe AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS m
       |         FROM (SELECT cid, unnest(x) AS xe, generate_subscripts(x,1) AS i FROM ivfa1)
       |         GROUP BY cid, i),
       |ivfcent_d AS (SELECT cid, list(m ORDER BY i) AS c FROM ivfsums GROUP BY cid),
       |ivfcent_f AS (SELECT cid, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY i) AS c FROM ivfsums GROUP BY cid),
       |probe AS (SELECT cid FROM ivfcent_d CROSS JOIN q
       |          ORDER BY COALESCE(${cosSql("c", "qx")}, -1e308) DESC, cid ASC LIMIT 3),
       |ivfa2 AS (SELECT v.vec_id, v.x,
       |         (SELECT f.cid FROM ivfcent_f f
       |          ORDER BY COALESCE(${cosSql("v.x", "f.c")}, -1e308) DESC, f.cid ASC LIMIT 1) AS cid
       |       FROM corpus_all v),
       |${(0 until m).map(subCtes).mkString(",\n")},
       |codes AS (SELECT a2_0.vec_id, $codeCols FROM a2_0 $codeJoins),
       |scored AS (SELECT c.vec_id, code_0, code_1, code_2, code_3,
       |  sqrt($adcSum) AS adc FROM codes c $tabJoins),
       |pruned AS (SELECT s2.* FROM scored s2
       |  JOIN ivfa2 ON s2.vec_id = ivfa2.vec_id
       |  JOIN probe ON ivfa2.cid = probe.cid),
       |top AS (SELECT * FROM pruned ORDER BY adc, vec_id LIMIT 10)
       |SELECT vec_id, code_0, code_1, code_2, code_3, round(adc, 6) AS adc_r
       |FROM top ORDER BY adc_r, vec_id""".stripMargin
  }

  // a5c — IVF-PQ through a PERSISTED index: the build (a5b's replayable
  // train) writes centroids/books/cell-partitioned codes to warehouse
  // parquet, and the probe answers ONLY from those artifacts — reading
  // nprobe of nlist code partitions (partition pruning on `cell`) and
  // never the corpus or the embedding column. Proves queries don't pay
  // the build: the probe's plan contains no train stage and no
  // embeddings scan. Output ≡ ann_ivf_pq_topk bit-for-bit (same
  // float-rounded assignment, same literal ADC), so the oracle is the
  // same full SQL replay of both builds.
  private val aIvfPqPersisted: QFn = (s, dir) => {
    val corpus = embs(s, dir).filter(col("vec_id") =!= 0)
    val centroids = Similarity.ivfTrain(corpus, "vec_id", "embedding",
      dim = 64, nlist = 8, iterations = 1)
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      dim = 64, m = 4, k = 8, iterations = 1)
    // deterministic per-SF path + overwrite, not a fresh temp dir per
    // execution: bench/verify re-runs reuse (and rewrite) one location
    // instead of leaking index artifacts into /tmp (r8 ADVICE)
    val tmp = s"${sys.props("java.io.tmpdir")}/graft_annidx" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = graft.etl.Warehouse(tmp)
    Similarity.ivfPqPersist(corpus, "vec_id", "embedding", centroids, books,
      wh, "gold", "ann_index")
    Similarity.ivfPqProbePersisted(s, wh, "gold", "ann_index", "vec_id",
        queryVec(s, dir), k = 10, nprobe = 3)
      .select(col("vec_id"), col("code_0"), col("code_1"),
        col("code_2"), col("code_3"), round(col("adc"), 6).as("adc_r"))
      .orderBy("adc_r", "vec_id")
  }

  // a5d — APPEND-WITHOUT-RETRAIN index maintenance: the base corpus
  // (vec_id % 10 <> 7) builds and persists the index; the delta (every
  // vec_id ending in 7 — ~10%) appends through the FROZEN artifacts
  // (Similarity.ivfPqAppend: assign to persisted centroids, encode with
  // persisted books, land in `cell=` partitions via partitioned
  // append); the probe then answers over base ∪ delta from the
  // artifacts alone. Probe-after-append ≡ a from-scratch encode of the
  // union under the same codebooks (IvfSpec-enforced bit-identity);
  // the oracle replays train on the BASE and encode on the UNION
  // (aIvfPqSqlFor's split corpora).
  private val aIvfPqAppend: QFn = (s, dir) => {
    val all = embs(s, dir).filter(col("vec_id") =!= 0)
    val base = all.filter(col("vec_id") % 10 =!= 7)
    val delta = all.filter(col("vec_id") % 10 === 7)
    val centroids = Similarity.ivfTrain(base, "vec_id", "embedding",
      dim = 64, nlist = 8, iterations = 1)
    val books = Similarity.pqTrain(base, "vec_id", "embedding",
      dim = 64, m = 4, k = 8, iterations = 1)
    val tmp = s"${sys.props("java.io.tmpdir")}/graft_annappend" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = graft.etl.Warehouse(tmp)
    // persist OVERWRITES the codes table, so the append below lands
    // exactly once per execution — re-runs stay idempotent
    Similarity.ivfPqPersist(base, "vec_id", "embedding", centroids, books,
      wh, "gold", "ann_idx")
    Similarity.ivfPqAppend(delta, "vec_id", "embedding", wh, "gold", "ann_idx")
    Similarity.ivfPqProbePersisted(s, wh, "gold", "ann_idx", "vec_id",
        queryVec(s, dir), k = 10, nprobe = 3)
      .select(col("vec_id"), col("code_0"), col("code_1"),
        col("code_2"), col("code_3"), round(col("adc"), 6).as("adc_r"))
      .orderBy("adc_r", "vec_id")
  }
  private val aIvfPqAppendSql = aIvfPqSqlFor("vec_id % 10 <> 7")

  // a5e — DRIFT-SIGNAL index maintenance: the build persists per-cell
  // assignment-cosine quantiles (`_stats`); a deliberately shifted
  // batch (negated embeddings — cosine flips sign, maximal drift) is
  // assigned to the FROZEN centroids and its per-cell median compared
  // against the build's. The oracle replays the whole chain: seeded
  // 1-pass Lloyd → float-rounded assignment codebook → per-cell
  // quantile_cont medians for build AND batch → gap + tripped flag.
  // exactQuantiles=true swaps percentile_approx (the mergeable-sketch
  // scale path) for the exact interpolated percentile so quantile_cont
  // replays it; gaps are rounded to 2dp (the decision observable —
  // interpolation ulp noise can't flip them) and the drifted flag uses
  // the raw value.
  private val aIvfDrift: QFn = (s, dir) => {
    val corpus = embs(s, dir).filter(col("vec_id") =!= 0)
    val centroids = Similarity.ivfTrain(corpus, "vec_id", "embedding",
      dim = 64, nlist = 8, iterations = 1)
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      dim = 64, m = 4, k = 8, iterations = 1)
    val tmp = s"${sys.props("java.io.tmpdir")}/graft_anndrift" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    val wh = graft.etl.Warehouse(tmp)
    Similarity.ivfPqPersist(corpus, "vec_id", "embedding", centroids,
      books, wh, "gold", "ann_drift", exactQuantiles = true)
    val batch = embs(s, dir).filter(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    Similarity.ivfPqDriftSignal(batch, "vec_id", "embedding",
        wh, "gold", "ann_drift", exactQuantiles = true)
      .select(col("cell"), col("n_build"), col("n_batch"),
        round(col("gap"), 2).as("gap_r"),
        (col("gap") > 0.5).as("drifted"))
      .orderBy("cell")
  }
  private val aIvfDriftSql: String = {
    def scored(src: String) =
      s"""SELECT v.vec_id,
         |  (SELECT f.cid FROM cent_f f
         |   ORDER BY COALESCE(${cosSql("v.x", "f.c")}, -1e308) DESC,
         |     f.cid ASC LIMIT 1) AS cid,
         |  (SELECT COALESCE(${cosSql("v.x", "f.c")}, -1e308) FROM cent_f f
         |   ORDER BY COALESCE(${cosSql("v.x", "f.c")}, -1e308) DESC,
         |     f.cid ASC LIMIT 1) AS score
         |FROM $src v""".stripMargin
    s"""WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
       |  FROM embeddings WHERE vec_id <> 0),
       |init AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, x AS c
       |         FROM (SELECT * FROM corpus ORDER BY vec_id LIMIT 8)),
       |a1 AS (SELECT v.vec_id, v.x,
       |         (SELECT i.cid FROM init i
       |          ORDER BY COALESCE(${cosSql("v.x", "i.c")}, -1e308) DESC, i.cid ASC LIMIT 1) AS cid
       |       FROM corpus v),
       |sums AS (SELECT cid, i, CAST(SUM(CAST(xe AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS m
       |         FROM (SELECT cid, unnest(x) AS xe, generate_subscripts(x,1) AS i FROM a1)
       |         GROUP BY cid, i),
       |cent_f AS MATERIALIZED (SELECT cid, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY i) AS c
       |          FROM sums GROUP BY cid),
       |a2 AS (${scored("corpus")}),
       |bstats AS (SELECT cid AS cell, COUNT(*) AS n_build,
       |             quantile_cont(score, 0.5) AS q50b
       |           FROM a2 GROUP BY 1),
       |batch AS (SELECT vec_id + 1000000 AS vec_id,
       |            list_transform(CAST(embedding AS DOUBLE[]), v -> -v) AS x
       |          FROM embeddings WHERE vec_id % 10 = 3),
       |a3 AS (${scored("batch")}),
       |bat AS (SELECT cid AS cell, COUNT(*) AS n_batch,
       |          quantile_cont(score, 0.5) AS q50x
       |        FROM a3 GROUP BY 1)
       |SELECT b.cell, s.n_build, b.n_batch,
       |  ROUND(COALESCE(s.q50b - b.q50x, 1.0), 2) AS gap_r,
       |  (COALESCE(s.q50b - b.q50x, 1.0) > 0.5) AS drifted
       |FROM bat b LEFT JOIN bstats s ON s.cell = b.cell
       |ORDER BY b.cell""".stripMargin
  }

  // a4 — k-NN majority-vote classification: vectors 0-19 are held-out
  // queries, the rest vote with their labels through exact cosine top-5
  // (ties: higher cosine, then lower vec_id; vote ties: lower label).
  // The brute scoring join broadcasts the 20 queries past the corpus —
  // at 100 TB the corpus side swaps to the LSH/IVF candidate scan used
  // by ann_lsh/ann_ivf while the vote logic is unchanged.
  private val aKnn: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = embs(s, dir)
    val queries = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"),
        col("embedding").as("qvec"))
    val corpus = e.filter(col("vec_id") >= 20)
      .select(col("vec_id"), col("label"), col("embedding"))
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("cos", Similarity.cosineNative(col("embedding"), col("qvec")))
    val byQ = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    val votes = scored.withColumn("__rn", row_number().over(byQ))
      .filter(col("__rn") <= 5)
      .groupBy("query_id", "true_label", "label")
      .agg(count(lit(1)).as("n_votes"))
    val byVote = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("label"))
    votes.withColumn("__rv", row_number().over(byVote))
      .filter(col("__rv") === 1)
      .select(col("query_id"), col("true_label"),
        col("label").as("pred_label"), col("n_votes"))
      .orderBy("query_id")
  }
  private val aKnnSql =
    s"""WITH q AS (SELECT vec_id AS query_id, label AS true_label,
       |  CAST(embedding AS DOUBLE[]) AS qx FROM embeddings WHERE vec_id < 20),
       |v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x
       |      FROM embeddings WHERE vec_id >= 20),
       |sc AS (SELECT query_id, true_label, vec_id, label,
       |  ${cosSql("x", "qx")} AS cos FROM v CROSS JOIN q),
       |top AS (SELECT * FROM sc QUALIFY
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, vec_id) <= 5),
       |votes AS (SELECT query_id, true_label, label, COUNT(*) AS n_votes
       |          FROM top GROUP BY 1, 2, 3)
       |SELECT query_id, true_label, label AS pred_label, n_votes
       |FROM votes QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY n_votes DESC, label) = 1
       |ORDER BY query_id""".stripMargin

  // m1 — multimodal blob plumbing: binary column + metadata + sha-256
  private val mBlob: QFn = (s, dir) =>
    Multimodal.blobStats(
      Multimodal.asMediaTable(docs(s, dir), "doc_id", "text", "source"))
      .orderBy("media_id")
  private val mBlobSql =
    """SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |sha256(text) AS content_sha, source
      |FROM documents ORDER BY media_id""".stripMargin

  // m2 — REAL image decode over partition batches: per doc, a deterministic
  // gradient PNG is generated executor-side (javax.imageio writer), then
  // parsed back with ImageIO.read and measured pixel-by-pixel
  // (mapPartitions — the mapInPandas batch shape). The generator's pixel
  // pattern has closed-form channel means (see Multimodal.generatePng), so
  // the oracle verifies the real decode analytically from doc_id: a wrong
  // width, height, or any channel mean breaks the hash.
  private val mFeatures: QFn = (s, dir) =>
    Multimodal.extractImageFeatures(
      Multimodal.imageMediaTable(docs(s, dir), "doc_id"))
      .orderBy("media_id")
  private val mFeaturesSql =
    """WITH m AS (SELECT doc_id AS media_id,
      |  16 + (doc_id % 49) AS w, 16 + ((doc_id * 31) % 49) AS h
      |  FROM documents)
      |SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |CAST(w * h AS BIGINT) AS n_pixels,
      |CAST(w - 1 AS DOUBLE) / 2 AS mean_r,
      |CAST(h - 1 AS DOUBLE) / 2 AS mean_g,
      |CAST(media_id % 256 AS DOUBLE) AS mean_b
      |FROM m ORDER BY media_id""".stripMargin

  // m4 — resize geometry on the REAL decoded dimensions: aspect-preserving
  // scale into a 32×32 box (floor), pure IEEE double arithmetic both sides.
  private val mResize: QFn = (s, dir) =>
    Multimodal.resizeMeta(
      Multimodal.extractImageFeatures(
        Multimodal.imageMediaTable(docs(s, dir), "doc_id")),
      maxW = 32, maxH = 32)
      .orderBy("media_id")
  private val mResizeSql =
    """WITH m AS (SELECT doc_id AS media_id,
      |  16 + (doc_id % 49) AS w, 16 + ((doc_id * 31) % 49) AS h
      |  FROM documents),
      |s AS (SELECT media_id, w, h,
      |  least(32.0 / w, 32.0 / h, 1.0) AS sc FROM m)
      |SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      |CAST(floor(w * sc) AS INT) AS out_width,
      |CAST(floor(h * sc) AS INT) AS out_height
      |FROM s ORDER BY media_id""".stripMargin

  // m3 — frame sampling (1→N expansion per media blob): the frame
  // GEOMETRY (count, stride, sizes) is fully determined by byte length,
  // so it oracles exactly; the per-frame stats stay behind the stub
  // boundary (projected out here).
  private val mFrames: QFn = (s, dir) =>
    Multimodal.sampleFrames(
      Multimodal.asMediaTable(docs(s, dir), "doc_id", "text", "source"),
      frameSize = 256, stride = 4)
      .select("media_id", "frame_idx", "frame_bytes")
      .orderBy("media_id", "frame_idx")
  private val mFramesSql =
    """WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS n
      |  FROM documents),
      |f AS (SELECT media_id, n,
      |  unnest(list_transform(range(0, CAST(ceil(n / 256.0) AS INT), 4), i -> i)) AS fi
      |  FROM m)
      |SELECT media_id, CAST(fi AS INT) AS frame_idx,
      |CAST(least(256, n - fi * 256) AS INT) AS frame_bytes
      |FROM f ORDER BY media_id, frame_idx""".stripMargin

  // pipe — end-to-end corpus curation: language filter → quality gate →
  // exact dedup (keep lowest doc_id) → per-source token budget. The whole
  // pipeline is one declarative plan (filters pushed to the scan, one
  // groupBy for dedup, one for the rollup) — the shape of a real
  // training-data curation job.
  private val pipeCuration: QFn = (s, dir) => {
    val d = docs(s, dir)
    val gated = d.filter(col("lang") === "en")
      .filter(TF.qualityScore(col("text")) >= 0.5)
    val keep = gated.groupBy(TF.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
    gated.join(keep, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(TF.wsTokenCount(col("text")).cast("long")).as("token_budget"))
      .orderBy("source")
  }
  private val pipeCurationSql =
    s"""WITH gated AS (
       |  SELECT * FROM documents
       |  WHERE lang = 'en' AND ${TF.qualityScoreSql("text")} >= 0.5),
       |keep AS (
       |  SELECT min(doc_id) AS doc_id FROM gated
       |  GROUP BY ${TF.fingerprintSql("text")})
       |SELECT source, COUNT(*) AS n_docs,
       |CAST(SUM(CAST(${TF.wsTokenCountSql("text")} AS BIGINT)) AS BIGINT) AS token_budget
       |FROM gated JOIN keep USING (doc_id)
       |GROUP BY source ORDER BY source""".stripMargin

  // ---- deterministic sampling / splitting / sharding (training-data ops)

  /** Stable hash bucket in [0, buckets): first 8 hex chars of md5 of the
    * (salted) key — identical arithmetic on both engines, independent of
    * partitioning and row order. The production split/sample primitive:
    * membership is a pure function of the key, so re-runs, backfills and
    * multi-cluster runs agree without coordination. */
  private def hashBucket(c: Column, buckets: Int): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % buckets
  private def hashBucketSql(c: String, buckets: Int): String =
    s"CAST(('0x' || substring(md5(CAST($c AS VARCHAR)), 1, 8)) AS BIGINT) % $buckets"

  // p2 — train/val/test split: 80/10/10 by doc_id hash. The per-split
  // min/max/sum signature pins the exact assignment, not just the sizes.
  private val pSplit: QFn = (s, dir) => {
    val b = hashBucket(col("doc_id"), 100)
    docs(s, dir).select(
        when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"),
        col("doc_id"),
        TF.wsTokenCount(col("text")).as("tok"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("tok").cast("long")).as("n_tokens"),
           min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("split")
  }
  private val pSplitSql = {
    val b = hashBucketSql("doc_id", 100)
    s"""SELECT CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |COUNT(*) AS n_docs,
       |CAST(SUM(CAST(${TF.wsTokenCountSql("text")} AS BIGINT)) AS BIGINT) AS n_tokens,
       |min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // p3 — stratified sampling: per-language keep rates applied via a
  // lang-salted hash (salting decorrelates the sample from the split
  // above). Keeps are a pure key function — the 100 TB shape.
  private val strataRates = Seq("en" -> 20, "de" -> 50, "es" -> 80, "fr" -> 100)
  private val pStratified: QFn = (s, dir) => {
    val rate = strataRates.foldRight(lit(100)) { case ((l, r), rest) =>
      when(col("lang") === l, lit(r)).otherwise(rest)
    }
    val kept = hashBucket(concat(col("lang"), lit(":"), col("doc_id")), 100) < rate
    docs(s, dir).select(col("lang"), kept.cast("int").as("kept"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).cast("long").as("n_kept"))
      .orderBy("lang")
  }
  private val pStratifiedSql = {
    val rate = strataRates.foldRight("100") { case ((l, r), rest) =>
      s"CASE WHEN lang = '$l' THEN $r ELSE $rest END"
    }
    val b = hashBucketSql("concat(lang, ':', doc_id)", 100)
    s"""SELECT lang, COUNT(*) AS n_total,
       |CAST(SUM(CASE WHEN $b < $rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  // p4 — token-budget sharding: within each source, docs pack greedily
  // (in doc_id order) into shards of ~2000 tokens — the corpus-to-
  // training-shard step. Per-source windows keep the sort distributed;
  // a global order would serialize on one partition.
  private val pShards: QFn = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select(col("source"), col("doc_id"),
        TF.wsTokenCount(col("text")).cast("long").as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("shard",
        floor((col("cum") - col("tok")).cast("double") / 2000.0).cast("int"))
      .groupBy("source", "shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("shard_tokens"))
      .orderBy("source", "shard")
  }
  private val pShardsSql =
    s"""WITH d AS (SELECT source, doc_id,
       |  CAST(${TF.wsTokenCountSql("text")} AS BIGINT) AS tok FROM documents),
       |c AS (SELECT source, doc_id, tok,
       |  SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
       |                 ROWS UNBOUNDED PRECEDING) AS cum FROM d)
       |SELECT source,
       |CAST(floor(CAST(cum - tok AS DOUBLE) / 2000.0) AS INT) AS shard,
       |COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS shard_tokens
       |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, QFn] = Map(
    "pipe_corpus_curation" -> pipeCuration,
    "pipe_rag_ingest" -> pipeRagIngest,
    "pipe_hybrid_search" -> pipeHybrid,
    "pipe_curation_stream" -> pipeCurationStream,
    "pipe_curation_exact" -> pipeCurationExact,
    "p_hash_split" -> pSplit,
    "p_stratified_sample" -> pStratified,
    "p_token_shards" -> pShards,
    "p_bpe_token_shards" -> pBpeShards,
    "t_token_count" -> tTokens,
    "t_lang_id" -> tLangId,
    "t_quality_score" -> tQuality,
    "t_fingerprint" -> tFingerprint,
    "t_pii_redaction" -> tPiiRedact,
    "t_repetition_score" -> tRepetition,
    "t_decontaminate" -> tDecontaminate,
    "t_url_extraction" -> tUrlExtract,
    "t_unigram_logprob" -> tUnigramLp,
    "t_frequent_terms" -> tFrequentTerms,
    "t_bpe_tokenize" -> tBpe,
    "t_chunking" -> tChunking,
    "s_bm25_search" -> tBm25,
    "d_exact_dedup" -> dExact,
    "d_chunk_dedup" -> dChunkDedup,
    "d_dup_clusters" -> dClusters,
    "d_dup_clusters_star" -> dClustersStar,
    "d_near_dedup_keep" -> dNearKeep,
    "d_minhash_lsh" -> dMinhash,
    "d_simhash_pairs" -> dSimhash,
    "d_ngram_jaccard" -> dJaccard,
    "d_embedding_dup" -> dEmbDup,
    "d_containment" -> dContainment,
    "d_near_dedup_increment" -> dNearIncrement,
    // each `_texts` entry keeps its ledger name and oracle SQL and runs
    // its base entry's probe: an index stores `_sets` in one layout
    "d_near_dedup_increment_texts" -> dNearIncrement,
    "d_near_dedup_increment_keep" -> dNearIncrementKeep,
    "d_ngram_increment" -> dNgramIncrement,
    "d_ngram_increment_floor" -> dNgramIncrementFloor,
    "d_ngram_increment_texts" -> dNgramIncrement,
    "d_containment_increment" -> dContainIncrement,
    "d_ngram_staleness" -> dNgramStaleness,
    "d_ngram_increment_keep" -> dNgramIncrementKeep,
    "d_keep_divergence" -> dKeepDivergence,
    "d_semantic_dedup" -> dSemantic,
    "ann_brute_force_topk" -> aBrute,
    "ann_l2_topk" -> aBruteL2,
    "ann_lsh_topk" -> aLsh,
    "ann_ivf_topk" -> aIvf,
    "ann_pq_topk" -> aPq,
    "ann_ivf_pq_topk" -> aIvfPq,
    "ann_ivf_pq_persisted" -> aIvfPqPersisted,
    "ann_ivf_pq_append" -> aIvfPqAppend,
    "ann_ivf_drift" -> aIvfDrift,
    "ann_knn_classify" -> aKnn,
    "mm_blob_stats" -> mBlob,
    "mm_frame_sample" -> mFrames,
    "mm_decode_features" -> mFeatures,
    "mm_image_resize" -> mResize)

  val oracleSql: Map[String, String] = Map(
    "pipe_corpus_curation" -> pipeCurationSql,
    "pipe_rag_ingest" -> pipeRagIngestSql,
    "pipe_hybrid_search" -> pipeHybridSql,
    "pipe_curation_stream" -> pipeCurationStreamSql,
    "pipe_curation_exact" -> pipeCurationExactSql,
    "p_hash_split" -> pSplitSql,
    "p_stratified_sample" -> pStratifiedSql,
    "p_token_shards" -> pShardsSql,
    "p_bpe_token_shards" -> bpeShardSql,
    "t_token_count" -> tTokensSql,
    "t_lang_id" -> tLangIdSql,
    "t_quality_score" -> tQualitySql,
    "t_fingerprint" -> tFingerprintSql,
    "t_pii_redaction" -> tPiiRedactSql,
    "t_repetition_score" -> tRepetitionSql,
    "t_decontaminate" -> tDecontaminateSql,
    "t_url_extraction" -> tUrlExtractSql,
    "t_unigram_logprob" -> tUnigramLpSql,
    "t_frequent_terms" -> tFrequentTermsSql,
    "t_bpe_tokenize" -> tBpeSql,
    "t_chunking" -> tChunkingSql,
    "s_bm25_search" -> tBm25Sql,
    "d_exact_dedup" -> dExactSql,
    "d_chunk_dedup" -> dChunkDedupSql,
    "d_dup_clusters" -> dClustersSql,
    "d_dup_clusters_star" -> dClustersSql,
    "d_near_dedup_keep" -> dNearKeepSql,
    "d_minhash_lsh" -> dMinhashSql,
    "d_simhash_pairs" -> dSimhashSql,
    "d_ngram_jaccard" -> dJaccardSql,
    "d_embedding_dup" -> dEmbDupSql,
    "d_containment" -> dContainmentSql,
    "d_near_dedup_increment" -> dNearIncrementSql,
    "d_near_dedup_increment_texts" -> dNearIncrementSql,
    "d_near_dedup_increment_keep" -> dNearIncrementKeepSql,
    "d_ngram_increment" -> dNgramIncrementSql,
    "d_ngram_increment_floor" -> dNgramIncrementSql,
    "d_ngram_increment_texts" -> dNgramIncrementSql,
    "d_containment_increment" -> dContainIncrementSql,
    "d_ngram_staleness" -> dNgramStalenessSql,
    "d_ngram_increment_keep" -> dNgramIncrementKeepSql,
    "d_keep_divergence" -> dKeepDivergenceSql,
    "d_semantic_dedup" -> dSemanticSql,
    "ann_brute_force_topk" -> aBruteSql,
    "ann_l2_topk" -> aBruteL2Sql,
    "ann_lsh_topk" -> aLshSql,
    "ann_ivf_topk" -> aIvfSql,
    "ann_pq_topk" -> aPqSql,
    "ann_ivf_pq_topk" -> aIvfPqSql,
    "ann_ivf_pq_persisted" -> aIvfPqSql,
    "ann_ivf_pq_append" -> aIvfPqAppendSql,
    "ann_ivf_drift" -> aIvfDriftSql,
    "ann_knn_classify" -> aKnnSql,
    "mm_blob_stats" -> mBlobSql,
    "mm_frame_sample" -> mFramesSql,
    "mm_decode_features" -> mFeaturesSql,
    "mm_image_resize" -> mResizeSql)
}

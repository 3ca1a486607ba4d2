package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deduplication operators for training-data pipelines, smallest-shuffle
  * first:
  *
  *  - [[exactDedup]] — one hash-groupBy (a single shuffle on a 32-char key);
  *  - [[minhashLsh]] / [[minhashLshVerified]] — the 100 TB near-dup path:
  *    per-doc signatures (one narrow scan), band buckets (shuffle on short
  *    band keys), then either estimated-Jaccard filtering or exact
  *    verification of the candidate pairs;
  *  - [[ngramJaccardPairs]] — exact Jaccard with AllPairs-style prefix
  *    filtering (Bayardo et al., WWW'07): only each document's rarest
  *    shingles are indexed, so the quadratic bucket self-join runs over a
  *    small fraction of the postings with zero recall loss;
  *  - [[simhash64]] / [[simhashNearPairs]] — 64-bit sketch, pigeonhole
  *    banding on 16-bit chunks, Hamming verification via bit_count;
  *  - [[embeddingDupPairs]] — cosine near-dup over embeddings through
  *    seeded random-hyperplane LSH buckets.
  *
  * All sketches use built-in hash expressions — deterministic across
  * runs and cluster layouts, no UDFs: minhash/jaccard hash with
  * xxhash64 (fastest; they re-hash per seed), simhash with the
  * md5-derived [[md5Hash64]] (its fingerprints persist and must be
  * rebuildable outside Spark — including by the DuckDB oracle).
  * Shingles are hashed to 8-byte keys *before* the distinct shuffle
  * (collision odds ~n²/2⁶⁴ — immaterial next to sketch thresholds), so
  * every downstream exchange moves longs, not strings.
  */
object Dedup {
  import TextFunctions._

  /** Broadcast gate for the survivor-id semi-join in both ingest loops'
    * index appends. Deliberately NOT `broadcastDocLimit` (which gates
    * doc-row broadcasts, default 200k): survivor ids are single longs
    * (~8 B/row, so 2M ≈ 16 MB broadcast) where doc rows carry text.
    * One named constant, shared by the MinHash and posting-index twins. */
  private val KeptIdsBroadcastLimit = 2000000L

  /** Collects the MEMORY_AND_DISK frames a pipeline pins so batch-scoped
    * callers — the streaming ingest loop, which would otherwise leak one
    * cache set per epoch into CacheManager and grow /tmp/blockmgr without
    * bound (r9 ADVICE) — can release them once the batch result is
    * materialized. The no-op default keeps session-lifetime caching for
    * the one-shot batch operators (bench isolates them with
    * clearCache()). */
  private[textops] final class PersistTracker(active: Boolean) {
    private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def add(df: DataFrame): DataFrame = { if (active) frames += df; df }
    /** Persist-and-track when live; pass through UNPERSISTED under the
      * noop tracker. For frames scanning WAREHOUSE paths this is the
      * only safe shape: a cache entry nobody releases outlives the
      * next compaction swap, and Spark's CacheManager matches file
      * relations by root path — so a later, semantically fresh probe
      * of the rewritten table aliases the stale entry and dies on the
      * deleted files (caught by the r14 texts-layout spec). */
    def persisted(df: DataFrame): DataFrame =
      if (active) {
        frames += df
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      } else df
    /** Snapshot a multi-consumer probe frame that scans warehouse
      * paths. Live tracker → tracked persist, released per epoch (the
      * ingest loops). Noop tracker (one-shot probes) → EAGER
      * `localCheckpoint`: an RDD block snapshot with NO CacheManager
      * entry, so nothing aliases a post-compaction read of the
      * rewritten root path ([[persisted]]'s hazard), yet downstream
      * consumers stop re-evaluating the scan — the r14 texts-layout
      * probe re-ran its pruned-texts shingle scan three times (count +
      * range-collect + per-join pipeline) through the unpersisted noop
      * path. Blocks are freed by the ContextCleaner once the probe's
      * frames are unreachable. */
    def snapshotted(df: DataFrame): DataFrame =
      if (active) persisted(df)
      else df.localCheckpoint(true)
    def unpersistAll(): Unit = { frames.foreach(_.unpersist()); frames.clear() }
  }
  private[textops] object PersistTracker {
    val noop = new PersistTracker(false)
    def live() = new PersistTracker(true)
  }

  /** Run INDEPENDENT write jobs concurrently on a bounded pool (§2.6):
    * Spark's scheduler happily runs several jobs at once — the paired
    * index-table writes each epoch performs are independent (different
    * table paths, no ordering contract: a crash between them replays
    * both under the epoch-keyed overwrite), and submitting them
    * together lets the second job's tasks back-fill the executors the
    * first job's tail leaves idle. Failures propagate; job
    * descriptions are thread-local and inherited at thread creation,
    * so the jobs keep the submitting phase's label. */
  private def overlapped(thunks: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val fs = thunks.map(t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = t()
        }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Label the jobs an operator phase submits (guide §1.5): broadcast
    * builds and checkpoint jobs inherit the submitting thread's
    * description, so the UI / job traces attribute them to the phase
    * instead of an anonymous future. Labels are overwritten by the next
    * phase; entry points clear them when the operator returns. */
  private def label(df: DataFrame, s: String): Unit =
    df.sparkSession.sparkContext.setJobDescription(s)

  /** Exact dedup on the normalized-text fingerprint: one row per distinct
    * content, keeping the smallest id; `n_copies` counts collapsed rows. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(fingerprint(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Portable 64-bit string hash: the first 16 hex chars of md5,
    * reinterpreted as a signed long via two 32-bit halves (each half
    * stays below 2³², so neither engine hits unsigned overflow;
    * `shiftleft` wraps into the sign bit exactly like Java `<<`).
    * DuckDB twin: `CAST('0x'||substring(md5(s),1,8) AS BIGINT)` etc. —
    * which is what makes fingerprints built from it oracle-provable
    * across engines. Costs one md5 per row vs xxhash64's sip-round;
    * immaterial next to the shuffle the sketch feeds. */
  private[graft] def md5Hash64(c: Column): Column =
    graft.functions.HashExpressions.md5_long(c)

  /** The built-ins-only twin of [[md5Hash64]] — same bits via md5-hex →
    * base-16 parse (what the DuckDB oracle mirrors); kept as the
    * reference implementation the native expression is tested against. */
  private[graft] def md5Hash64Composable(c: Column): Column = {
    val m = md5(c)
    val hi = conv(substring(m, 1, 8), 16, 10).cast(LongType)
    val lo = conv(substring(m, 9, 8), 16, 10).cast(LongType)
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** Distinct (doc_id, shingle-hash) pairs — the shared first stage of the
    * sketch family. posexplode over the word array + element_at lookups
    * stays fully codegen'd (a higher-order `transform`/`slice` lambda is
    * ~9× slower per row); the k words are hashed to one long so the
    * distinct shuffle carries (long, long) rows. Docs shorter than k
    * words yield no shingles. */
  private def shingled(df: DataFrame, idCol: String, textCol: String,
                       shingleK: Int, hash: Seq[Column] => Column,
                       carry: Seq[String] = Nil): DataFrame = {
    require(shingleK >= 2, s"shingleK must be >= 2, got $shingleK")
    val words = split(normText(col(textCol)), " ")
    val carried = carry.map(col)
    df.select(col(idCol).cast(LongType).as("doc_id") +: carried :+
        words.as("__w"): _*)
      .select(col("doc_id") +: carried ++: Seq(col("__w"),
        posexplode(col("__w")).as(Seq("__p", "__x"))): _*)
      .filter(col("__p") <= size(col("__w")) - shingleK)
      .select(col("doc_id") +: carried :+
        hash(col("__x") +: (2 to shingleK).map(j =>
          element_at(col("__w"), col("__p") + j))).as("sh"): _*)
      .distinct()
  }

  /** xxhash64 shingle stage — fastest form (hashes the k word columns
    * directly, no intermediate concat string); used by the minhash /
    * jaccard family, which re-hashes the longs per seed downstream.
    * `carry` passes extra source columns through unchanged (the texts
    * `_sets` readers carry `epoch` so recomputed sets stay one row per
    * stored (doc_id, epoch), mirroring the arrays rows). */
  private[graft] def shingledHashed(df: DataFrame, idCol: String,
                                      textCol: String, shingleK: Int,
                                      carry: Seq[String] = Nil): DataFrame =
    shingled(df, idCol, textCol, shingleK, ws => xxhash64(ws: _*), carry)

  /** md5-derived shingle stage — same schema, but fingerprint bits are
    * reproducible in DuckDB ([[md5Hash64]]); the simhash family uses this
    * so persisted sketches (and the driver oracle) can be rebuilt
    * outside Spark bit-for-bit. */
  private[graft] def shingledHashedPortable(df: DataFrame, idCol: String,
                                              textCol: String, shingleK: Int): DataFrame =
    shingled(df, idCol, textCol, shingleK,
      ws => md5Hash64(concat_ws(" ", ws: _*)))

  /** MinHash signatures via explode → groupBy-min: one shuffle on doc_id,
    * each hash function a codegen'd `min(xxhash64(sh, seed))` over the
    * 8-byte shingle keys (re-hashing a long per seed, not a string).
    *
    * (A per-row `aggregate()` lambda over the shingle array evaluates the
    * whole shingling tree once per hash function per row and falls out of
    * codegen — quadratically slower; the relational form is the 100 TB
    * shape.) Docs with no shingles drop out (no signature ⇒ no pairs). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, numHashes: Int): DataFrame =
    minhashFromShingles(shingledHashed(df, idCol, textCol, shingleK), numHashes)

  private def minhashFromShingles(sh: DataFrame, numHashes: Int): DataFrame = {
    val mins = sh.groupBy("doc_id")
      .agg(min(xxhash64(col("sh"), lit(0))).as("h0"),
           (1 until numHashes).map(i =>
             min(xxhash64(col("sh"), lit(i))).as(s"h$i")): _*)
    mins.select(col("doc_id"),
      array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Per-doc (band, band_hash) rows from minhash signatures — the LSH
    * bucket keys. `keepSig` carries the full signature through (needed by
    * the estimator path; the verified path drops it so the bucket join
    * shuffles only (long, long, long) rows). */
  private def bandedKeys(sigs: DataFrame, numHashes: Int, bands: Int,
                         keepSig: Boolean): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must be positive and divide numHashes ($numHashes)")
    val rowsPerBand = numHashes / bands
    val key = posexplode(array((0 until bands).map { b =>
      xxhash64(concat_ws(",",
        slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).cast("array<string>")), lit(b))
    }: _*)).as(Seq("band", "band_hash"))
    if (keepSig) sigs.select(col("doc_id"), col("sig"), key)
    else sigs.select(col("doc_id"), key)
  }

  /** Banded candidate pairs with signatures: (id_a, id_b, sig_a, sig_b)
    * with id_a < id_b, one row per pair that shares ≥1 band. */
  private def bandedCandidates(sigs: DataFrame, numHashes: Int,
                               bands: Int): DataFrame = {
    val banded = bandedKeys(sigs, numHashes, bands, keepSig = true)
    val a = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_hash"),
      col("doc_id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
  }

  /** MinHash+LSH near-duplicate pairs, estimator-filtered.
    *
    * shingle → minhash(numHashes) → band into `bands` rows-per-band groups
    * → bucket-join on (band, bandHash) → filter on estimated Jaccard from
    * the full signatures. Returns (id_a, id_b, est_jaccard) with
    * id_a < id_b. The all-sketch path: cheapest when an estimate is
    * acceptable (no second pass over the shingle sets).
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.7): DataFrame = {
    // exact-dup classes first, as in [[minhashLshVerified]]: identical
    // texts have identical signatures (est_jaccard exactly 1.0), so the
    // sketch path collapses/expands with the same exactness argument.
    val (reps, members) = collapseExact(df, idCol, textCol)
    val sigs = minhashSignatures(reps, idCol, textCol, shingleK, numHashes)
    val repPairs = bandedCandidates(sigs, numHashes, bands)
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          (x === y).cast("int")), v => v === 1)).cast("double") / numHashes.toDouble)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
    expandPairs(repPairs, members, sigs.select("doc_id"),
      "est_jaccard", directed = false)
  }

  /** MinHash+LSH with exact verification — the production dedup shape:
    * banding proposes candidates, then a join back to the (hashed) shingle
    * sets computes TRUE Jaccard and keeps pairs ≥ `threshold`. Output is
    * exact (id_a, id_b, jaccard) restricted to banding candidates; with
    * narrow bands (default 2 rows × 16 bands) the probability a pair at
    * similarity s escapes banding is (1−s²)¹⁶ — ~1e-7 at s=0.8 — so in
    * practice the result equals the full-quadratic exact join at a tiny
    * fraction of its cost. */
  def minhashLshVerified(df: DataFrame, idCol: String, textCol: String,
                         shingleK: Int = 3, numHashes: Int = 32,
                         bands: Int = 16, threshold: Double = 0.5,
                         broadcastDocLimit: Long = 200000L): DataFrame = {
    val (repPairs, members, live) = minhashVerifiedParts(df, idCol, textCol,
      shingleK, numHashes, bands, threshold, broadcastDocLimit)
    expandPairs(repPairs, members, live, "jaccard", directed = false)
  }

  /** The rep-level core of [[minhashLshVerified]]: exact-dup collapse,
    * signature-free band bucketing, exact verification — everything up
    * to (but not including) the member-pair expansion. Returns
    * (repPairs (id_a, id_b, jaccard); members (__rep, __mid);
    * liveDocs (doc_id) — reps whose text yields ≥1 shingle). Shared by
    * the pair operator and [[nearDedupKeep]], which must NOT expand
    * pairs (at 100 TB the expanded intra-cluster pair set is itself
    * quadratic in cluster size — the r7 probe's 27M-pair output). */
  private def minhashVerifiedParts(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numHashes: Int, bands: Int,
      threshold: Double, broadcastDocLimit: Long,
      tracker: PersistTracker = PersistTracker.noop)
      : (DataFrame, DataFrame, DataFrame) = {
    // exact-dup classes first ([[collapseExact]]): k identical copies
    // would otherwise collide in EVERY band and put C(k,2) pairs per
    // band through the bucket join; reps make that one class.
    val (reps, members) = collapseExact(df, idCol, textCol, tracker)
    val sh = tracker.add(shingledHashed(reps, idCol, textCol, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    minhashVerifiedFromShingles(sh, members, numHashes, bands, threshold,
      broadcastDocLimit, tracker)
  }

  /** [[minhashVerifiedParts]] from a precomputed (persisted) shingle
    * frame — lets a caller that also runs the exact pipeline share ONE
    * exact-collapse + shingle stage across both ([[dedupRecallCounts]]).
    * `sh` must be [[shingledHashed]] over the collapse's reps. */
  private def minhashVerifiedFromShingles(sh: DataFrame, members: DataFrame,
      numHashes: Int, bands: Int, threshold: Double,
      broadcastDocLimit: Long, tracker: PersistTracker)
      : (DataFrame, DataFrame, DataFrame) = {
    // signature-free bucket join: duplicate pair rows (same pair, many
    // shared bands) flow into verification as-is and dedupe on the
    // survivor side — cheaper than a distinct over signature arrays.
    val keys = bandedKeys(minhashFromShingles(sh, numHashes), numHashes, bands,
      keepSig = false)
    val a = keys.select(col("band"), col("band_hash"), col("doc_id").as("id_a"))
    val b = keys.select(col("band"), col("band_hash"), col("doc_id").as("id_b"))
    val cands = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val repPairs = verifyJaccard(cands, sh, threshold, broadcastDocLimit,
      tracker)
    (repPairs, members, sh.select("doc_id").distinct())
  }

  /** Corpus → KEPT corpus near-dedup — what a production pipeline
    * actually delivers (the pair set is an intermediate): verified
    * MinHash+LSH pairs over class REPRESENTATIVES → connected
    * components (star contraction, O(log) rounds) → the min-id doc of
    * each duplicate cluster survives, carrying the cluster's total
    * member count. Returns (doc_id, cluster_size), one row per
    * surviving document (cluster_size = 1 + dropped duplicates).
    *
    * The 100 TB property this operator exists for: member-level pairs
    * are NEVER materialized. Clustering runs on rep-level pairs (one
    * class per distinct text), and members fold in as per-class COUNTS
    * — so a cluster of k duplicates costs k rows end to end, not the
    * C(k,2) pair rows the pair operators emit. Output is exactly the
    * surviving docs: linear in the corpus by construction.
    *
    * Semantics match the transitive closure of [[minhashLshVerified]]'s
    * pair set (the DuckDB oracle replays that closure): docs whose text
    * yields no shingles (< shingleK words) produce no pairs, so each
    * stays its own singleton survivor even when byte-identical — run
    * [[exactDedup]] first if exact-dup collapse of shingle-less docs
    * is wanted. */
  def nearDedupKeep(df: DataFrame, idCol: String, textCol: String,
                    shingleK: Int = 3, numHashes: Int = 32,
                    bands: Int = 16, threshold: Double = 0.5,
                    broadcastDocLimit: Long = 200000L): DataFrame = {
    val (repPairs0, members, live) = minhashVerifiedParts(df, idCol, textCol,
      shingleK, numHashes, bands, threshold, broadcastDocLimit)
    keepFromParts(repPairs0, members, live)
  }

  /** The shared keep tail over rep-level parts (repPairs, members,
    * live): connected components of the rep pairs, min-id survivor per
    * cluster carrying the member-count sum, shingle-less classes as
    * per-member singletons. Used by [[nearDedupKeep]] and its exact
    * twin [[ngramJaccardKeep]] — the parts differ (banding-verified vs
    * prefix-filtered pairs), the keep policy is one piece of code. */
  private def keepFromParts(repPairs0: DataFrame, members: DataFrame,
      live: DataFrame): DataFrame = {
    // materialize the pair set before the iterative clustering: the
    // checkpoint replaces the heavy verify plan (cogroup beyond
    // broadcastDocLimit) with an RDD scan, cutting its lineage before
    // the O(log)-round star contraction re-reads it — and keeping
    // contraction's self-unions away from complex verify subplans
    // (the r8 probe hit Union.rewriteConstraints "key not found" when
    // a union-shaped verify output fed the canon step un-checkpointed).
    val repPairs = repPairs0.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val liveReps = live.select(col("doc_id").as("__rep"))
    // classes whose rep has no shingles never pair: every member is its
    // own survivor (the closure-over-pairs contract; see scaladoc)
    val singles = members.join(liveReps, Seq("__rep"), "left_anti")
      .select(col("__mid").as("doc_id"), lit(1L).as("cluster_size"))
    val classSizes = members.join(liveReps, Seq("__rep"), "left_semi")
      .groupBy("__rep").agg(count(lit(1)).as("__csize"))
    // rep-level clustering; a rep in no pair is its own component. The
    // member-level min id of a cluster IS the min rep id (each rep is
    // its class's min member), so comp doubles as the survivor doc_id.
    val comp = graft.operators.ConnectedComponents
      .componentsStarContraction(repPairs, "id_a", "id_b")
      .select(col("id").as("__rep"), col("comp"))
    val clustered = classSizes.join(comp, Seq("__rep"), "left")
      .select(coalesce(col("comp"), col("__rep")).as("doc_id"), col("__csize"))
      .groupBy("doc_id")
      .agg(sum(col("__csize")).cast(LongType).as("cluster_size"))
    clustered.unionByName(singles)
  }

  // --------------------------------------------- incremental near-dedup
  //
  // The daily-ingest shape: the corpus's LSH state persists as a
  // partitioned warehouse index, and each incoming batch probes ONLY its
  // own buckets — batch-sized work against a 100 TB corpus, the batch
  // analog of the watermark delta-load discipline
  // (/root/reference/scripts/silver/proc_load_silver.sql:95,242).

  /** Persist a corpus's MinHash/LSH near-dup index as warehouse tables —
    * the dedup analog of [[Similarity.ivfPqPersist]]'s build/probe split:
    *
    *   `<table>_meta`  — 1 row of the sketch parameters (a probe reads
    *                     them back, so index and probe can never skew)
    *   `<table>_bands` — (band, band_hash, doc_id) PARTITIONED BY `pb`
    *                     (= band·nBuckets + band_hash mod nBuckets): a
    *                     batch's candidate lookup prunes to exactly the
    *                     partitions its own band keys hash into
    *   `<table>_sets`  — (doc_id, set, n) hashed-shingle sets
    *                     PARTITIONED BY `dbucket` (= doc_id mod
    *                     nSetBuckets): exact verification prunes to the
    *                     partitions holding its candidates' sets
    *
    * Band rows are per-DOC (no exact-dup collapse): k identical copies
    * cost k index rows, and a batch probe that hits the class emits all
    * k pairs — output-sized, since every one of those pairs is a true
    * result. Docs whose text yields no shingles have no rows (they can
    * never pair — the [[minhashLshVerified]] contract).
    *
    * Both tables carry an `epoch` sub-partition (base build = −1):
    * streaming appends key their rows by epoch so a replayed epoch
    * overwrites ITSELF (see [[nearDedupIndexAppend]]) — the
    * exactly-once discipline — and probes can exclude an in-flight
    * epoch's own rows. */
  def nearDedupIndexPersist(df: DataFrame, idCol: String, textCol: String,
      wh: graft.etl.Warehouse, layer: String, table: String,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 16,
      nBuckets: Int = 64, nSetBuckets: Int = 64,
      setsAsTexts: Boolean = false): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val setsLayout = if (setsAsTexts) SetsLayoutTexts else SetsLayoutArrays
    // staged-group build, same marker protocol (and same r11-ADVICE
    // rationale) as [[ngramIndexPersist]]: a rebuild over a live index
    // must never leave _meta/_bands/_sets mixed across a crash
    wh.stage(Seq((shingleK, numHashes, bands, nBuckets, nSetBuckets,
        NearDedupIndexFormatVersion, setsLayout))
      .toDF("shingle_k", "num_hashes", "bands", "n_buckets",
        "n_set_buckets", "format_version", "sets_layout"),
      layer, s"${table}_meta")
    val sh = shingledHashed(df, idCol, textCol, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = bandedKeys(minhashFromShingles(sh, numHashes), numHashes,
      bands, keepSig = false)
    wh.stagePartitioned(
      clusterFor(keys.withColumn("pb", pbKey(nBuckets))
          .withColumn("epoch", lit(-1L)),
        "pb", "band", "band_hash"),
      layer, s"${table}_bands", Seq("pb", "epoch"))
    // `_sets` row membership is IDENTICAL across layouts: exactly the
    // docs with ≥1 shingle (the texts semi-join below), so a probe's
    // verification join sees the same doc set either way — the same
    // contract as the posting-index twin ([[ngramIndexPersist]])
    val setsRows =
      if (setsAsTexts)
        df.select(col(idCol).cast(LongType).as("doc_id"),
            col(textCol).as("text"))
          .join(sh.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      else
        sh.groupBy("doc_id")
          .agg(collect_list(col("sh")).as("set"), count(lit(1)).as("n"))
    wh.stagePartitioned(
      clusterFor(setsRows
          .withColumn("dbucket", pmod(col("doc_id"), lit(nSetBuckets.toLong)))
          .withColumn("epoch", lit(-1L)),
        "dbucket", "doc_id"),
      layer, s"${table}_sets", Seq("dbucket", "epoch"),
      if (setsAsTexts) SetsTextsWriteOptions else Map.empty)
    sh.unpersist()
    wh.promoteStagedGroup(layer, table, nearDedupIndexTables(table))
  }

  /** Probe/diagnostic accessor: a frame's LSH band keys
    * (doc_id, band, band_hash) under the given parameters — the
    * long-horizon ScaleProbe lane joins these against the standing
    * `_bands` table to MEASURE per-epoch candidate density (the r13
    * verdict's open question: is the adversarial lane's per-epoch
    * drift a per-candidate data cost or a kept-history tax). */
  private[graft] def bandKeysFor(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numHashes: Int,
      bands: Int): DataFrame =
    bandedKeys(minhashSignatures(df, idCol, textCol, shingleK, numHashes),
      numHashes, bands, keepSig = false)

  /** The MinHash index's table group, in promote order. */
  private def nearDedupIndexTables(table: String): Seq[String] =
    Seq(s"${table}_meta", s"${table}_bands", s"${table}_sets")

  /** Cluster index rows for their partitioned write: repartition on the
    * bucket column (each bucket lands whole in one task → ONE file per
    * (bucket, epoch) instead of one per writing task per bucket — an
    * unclustered 128-task build sprayed up to tasks×buckets tiny files)
    * and sort rows within it by the probe's join key, so parquet
    * run-length-encodes the key runs and its row-group min/max stats
    * skip within a bucket slice. Parallelism is bounded by the bucket
    * count — the existing scale knob (raise nBuckets/nPostBuckets with
    * corpus size, exactly as the partition-pruning story already
    * requires). The same clustering [[graft.etl.Warehouse.compactClustered]]
    * applies to fact tables, here at index-build altitude. */
  private def clusterFor(df: DataFrame, bucketCol: String,
      sortCols: String*): DataFrame =
    df.repartition(col(bucketCol))
      .sortWithinPartitions((bucketCol +: sortCols).map(col): _*)

  /** Append new docs to a persisted index without touching existing
    * rows: band keys and shingle sets land in their `pb`/`dbucket`
    * partitions. Per-doc index rows depend only on the doc's own text,
    * so probe-after-append is byte-identical to a probe of a
    * from-scratch index over the union corpus (spec-enforced). Caller
    * contract: ids disjoint from the indexed corpus — typically the
    * SURVIVORS of [[nearDedupIncrementKeep]].
    *
    * `epoch` ≥ 0 makes the append IDEMPOTENT: rows land keyed by
    * (bucket, epoch) via dynamic partition overwrite, so a replay of
    * the same epoch (streaming retry) replaces its own partitions
    * instead of double-appending. The default −1 is a plain partitioned
    * append into the base epoch (one-shot batch maintenance, where the
    * caller owns retry semantics). */
  def nearDedupIndexAppend(df: DataFrame, idCol: String, textCol: String,
      wh: graft.etl.Warehouse, layer: String, table: String,
      epoch: Long = -1L): Unit = {
    val meta = readIndexMeta(df.sparkSession, wh, layer, table)
    val sh = shingledHashed(df, idCol, textCol, meta.shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = bandedKeys(minhashFromShingles(sh, meta.numHashes),
      meta.numHashes, meta.bands, keepSig = false)
      .withColumn("pb", pbKey(meta.nBuckets))
    val sets = sh.groupBy("doc_id")
      .agg(collect_list(col("sh")).as("set"), count(lit(1)).as("n"))
      .withColumn("dbucket",
        pmod(col("doc_id"), lit(meta.nSetBuckets.toLong)))
    writeNearDedupIndexRows(keys, sets,
      df.select(col(idCol).cast(LongType).as("doc_id"),
          col(textCol).as("text"))
        .join(sh.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .withColumn("dbucket",
          pmod(col("doc_id"), lit(meta.nSetBuckets.toLong))),
      wh, layer, table, epoch, meta)
    sh.unpersist()
  }

  /** The index-write half of [[nearDedupIndexAppend]]: `keys` carries
    * `pb`, `sets` carries `dbucket`; epoch ≥ 0 → idempotent dynamic
    * partition overwrite, −1 → plain append into the base epoch. Shared
    * with the ingest loop, whose rows come from the keep probe's cached
    * frames instead of a recomputation. A texts-layout index stores
    * `docsTexts` ((doc_id, text, dbucket) — by-name, only evaluated
    * then) in `_sets` instead of the arrays, zstd-compressed as at
    * build — the [[writeNgramIndexRows]] contract. */
  private def writeNearDedupIndexRows(keys: DataFrame, sets: DataFrame,
      docsTexts: => DataFrame,
      wh: graft.etl.Warehouse, layer: String, table: String,
      epoch: Long, meta: MinhashMeta): Unit = {
    val k = clusterFor(keys.withColumn("epoch", lit(epoch)),
      "pb", "band", "band_hash")
    val texts = meta.setsLayout == SetsLayoutTexts
    val setsRows = if (texts) docsTexts else sets
    val sOpts = if (texts) SetsTextsWriteOptions
                else Map.empty[String, String]
    val s = clusterFor(setsRows.withColumn("epoch", lit(epoch)),
      "dbucket", "doc_id")
    if (epoch >= 0L) overlapped(
      () => wh.overwritePartitionsDynamic(k, layer, s"${table}_bands",
        Seq("pb", "epoch")),
      () => wh.overwritePartitionsDynamic(s, layer, s"${table}_sets",
        Seq("dbucket", "epoch"), sOpts))
    else overlapped(
      () => wh.appendPartitioned(k, layer, s"${table}_bands",
        Seq("pb", "epoch")),
      () => wh.appendPartitioned(s, layer, s"${table}_sets",
        Seq("dbucket", "epoch"), sOpts))
  }

  /** Compact a persisted index in place: every [[nearDedupIndexAppend]]
    * adds files per touched (bucket, epoch) partition, and a year of
    * daily batches leaves thousands of tiny files per bucket — degraded
    * scan parallelism, the same failure mode
    * [[graft.etl.Warehouse.compact]] exists for. Rewrites both tables
    * partition-preserving (atomic rebuild, coalesced within partitions);
    * probes are byte-identical before and after (spec-enforced) because
    * row content is untouched.
    *
    * `foldEpochsBelow` additionally FOLDS committed epoch
    * sub-partitions into the base epoch (−1), bounding directory count
    * across a long-running ingest. Folding an epoch forfeits its replay
    * idempotence, so the ingest loop passes its CURRENT epoch: under
    * Structured Streaming only the last uncommitted batch can replay,
    * and a replay of epoch N sees the same rows whether earlier epochs
    * are folded or not (its reads exclude only epoch N, whose
    * partitions are never folded by `foldEpochsBelow = N`). */
  def nearDedupIndexCompact(spark: org.apache.spark.sql.SparkSession,
      wh: graft.etl.Warehouse, layer: String, table: String,
      foldEpochsBelow: Long = Long.MinValue): Unit = {
    // the meta read finishes any crashed group promotion FIRST:
    // compaction writes into the same `._tmp` namespace the staged
    // protocol uses, so without the resume a one-shot maintenance call
    // after a mid-promotion crash would clobber the staged tables and
    // the later marker-triggered resume would promote a half-group —
    // exactly the mixed index the protocol exists to prevent. It also
    // tells us whether `_sets` holds texts, whose rewrite must keep
    // the zstd codec (a snappy compaction would silently grow the
    // table ~1.7×) — as on the posting-index twin
    val meta = readIndexMeta(spark, wh, layer, table)
    def rewrite(t: String, partCol: String,
                options: Map[String, String], sortCols: String*): Unit =
      wh.rebuildPartitioned(
        clusterFor(wh.read(spark, layer, t)
          .withColumn("epoch",
            when(col("epoch") < lit(foldEpochsBelow), lit(-1L))
              .otherwise(col("epoch").cast(LongType))),
          partCol, sortCols: _*),
        layer, t, Seq(partCol, "epoch"), options)
    rewrite(s"${table}_bands", "pb", Map.empty, "band", "band_hash")
    rewrite(s"${table}_sets", "dbucket",
      if (meta.setsLayout == SetsLayoutTexts) SetsTextsWriteOptions
      else Map.empty,
      "doc_id")
    foldKeptSink(spark, wh, layer, table, foldEpochsBelow)
  }

  /** Fold the `<table>_kept` SINK's committed epoch partitions into the
    * base partition — the piece the r11 verdict flagged as missing: the
    * indexes compacted on cadence but the sink accumulated one
    * `pepoch=N` directory per micro-batch forever (~100k directories
    * after a year of 5-minute epochs, read by every rebuild and every
    * downstream consumer). `epoch` stays a DATA column (which batch
    * kept a doc is an observable); only the `pepoch` PARTITION key — the
    * replay-overwrite unit — folds to −1. Folding an epoch forfeits its
    * replay idempotence, so callers pass their CURRENT epoch: under
    * Structured Streaming only the last uncommitted batch can replay,
    * and `pepoch = current` is never folded by `foldEpochsBelow =
    * current`. The statistics-rebuild read filters `epoch =!= current`,
    * which folded rows (data column intact) still satisfy. */
  private def foldKeptSink(spark: org.apache.spark.sql.SparkSession,
      wh: graft.etl.Warehouse, layer: String, table: String,
      foldEpochsBelow: Long): Unit =
    foldSinkPartitions(spark, wh, layer, s"${table}_kept", foldEpochsBelow)

  /** The fold itself, shared with the curation funnel (one copy of the
    * rewrite, not three). Skips the sink-sized read-and-rewrite when
    * nothing can fold: the one-shot compaction default (Long.MinValue)
    * folds no epoch by definition, and an already-folded sink has no
    * `pepoch >= 0` partition below the bound (cheap driver-side dir
    * listing, [[hasFoldablePartitions]]). */
  private[textops] def foldSinkPartitions(
      spark: org.apache.spark.sql.SparkSession,
      wh: graft.etl.Warehouse, layer: String, sink: String,
      foldEpochsBelow: Long): Unit =
    if (wh.exists(layer, sink)) {
      migratePepochLayout(spark, wh, layer, sink)
      if (hasFoldablePartitions(wh.path(layer, sink), foldEpochsBelow))
        wh.rebuildPartitioned(
          wh.read(spark, layer, sink)
            .withColumn("pepoch",
              when(col("pepoch") < lit(foldEpochsBelow), lit(-1L))
                .otherwise(col("pepoch").cast(LongType))),
          layer, sink, Seq("pepoch"))
    }

  /** Driver-side (base, delta) on-disk byte sizes of an
    * epoch-sub-partitioned index table: base = the `epoch=-1`
    * partitions, delta = committed `epoch=N ≥ 0` partitions other than
    * `currentEpoch` (the in-flight epoch is never foldable). One file
    * walk, no Spark job — O(files), i.e. exactly what compaction
    * bounds. Walked under the table's rename lock so a concurrent
    * swap's rename window can't yield a partial view
    * ([[hasFoldablePartitions]]' r13 lesson). */
  private[graft] def epochFootprint(tablePath: String,
      currentEpoch: Long): (Long, Long) = {
    def du(f: java.io.File): Long =
      if (f.isDirectory) {
        val fs = f.listFiles(); if (fs == null) 0L else fs.map(du).sum
      } else f.length()
    graft.etl.Warehouse.locked(tablePath) {
      val buckets = new java.io.File(tablePath).listFiles()
      if (buckets == null) (0L, 0L)
      else {
        var base = 0L; var delta = 0L
        for (b <- buckets if b.isDirectory;
             e <- Option(b.listFiles()).getOrElse(Array.empty)
             if e.getName.startsWith("epoch=")) {
          val ep = try e.getName.stripPrefix("epoch=").toLong
                   catch { case _: NumberFormatException => Long.MinValue }
          if (ep == -1L) base += du(e)
          else if (ep >= 0L && ep != currentEpoch) delta += du(e)
        }
        (base, delta)
      }
    }
  }

  /** Ratio-triggered (GEOMETRIC) fold policy — the bounded form of the
    * ingest loops' compaction, closing the last O(corpus) periodic cost
    * in the loop: a fixed every-K-epochs cadence rewrites the whole
    * corpus-proportional base on a schedule, so total rewrite work over
    * n epochs is Σ(i·m)·(n/K) ≈ n²m/2K — QUADRATIC in corpus size. This
    * policy folds only when the committed delta's bytes reach
    * `minFoldRatio` (= f) of the base's, so each fold's O(base+delta)
    * cost is amortized over the f·base bytes that triggered it: write
    * amplification is (1+f)/f bytes rewritten per ingested byte
    * (f=0.25 → 5×), CONSTANT as the corpus grows, with folds
    * geometrically rarer (the LSM-tree/log-merge argument). The trade
    * is directory count between folds (≈ f·base/epoch-bytes dirs,
    * growing with the corpus): scan listing stays parallel and
    * per-probe partition pruning touches only candidate buckets, so at
    * the 100 TB horizon listing cost trails the rewrite cost it
    * replaces by orders of magnitude — and a deployment that must
    * hard-bound directories can keep the cadence knob alongside
    * (`compactEvery`), accepting its quadratic rewrite. Returns whether
    * a fold ran; probes are row-identical either way
    * ([[nearDedupIndexCompact]]). */
  /** The group-wide (Σbase, Σdelta) the ratio trigger weighs: summed
    * over the index's epoch-partitioned tables, so the byte-DOMINANT
    * table drives the decision. (A per-table `exists` trigger fires on
    * the skinny `_bands` table almost every epoch at realistic batch
    * sizes — its per-epoch deltas are parquet-footer-dominated across
    * nBuckets tiny files — and drags the fat `_sets` rewrite along,
    * re-creating the quadratic cadence cost the policy exists to
    * remove. Byte amplification is what folds cost; per-table file
    * accumulation is the documented dir-count trade.) */
  private def groupFootprint(wh: graft.etl.Warehouse, layer: String,
      tables: Seq[String], currentEpoch: Long): (Long, Long) =
    tables.map(t => epochFootprint(wh.path(layer, t), currentEpoch))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))

  def nearDedupIndexCompactIfDue(spark: org.apache.spark.sql.SparkSession,
      wh: graft.etl.Warehouse, layer: String, table: String,
      currentEpoch: Long, minFoldRatio: Double = 0.25): Boolean = {
    val (base, delta) = groupFootprint(wh, layer,
      Seq(s"${table}_bands", s"${table}_sets"), currentEpoch)
    val due = delta > 0L && delta.toDouble >= minFoldRatio * base.toDouble
    if (due)
      nearDedupIndexCompact(spark, wh, layer, table,
        foldEpochsBelow = currentEpoch)
    due
  }

  /** [[nearDedupIndexCompactIfDue]] for the posting-index family —
    * same geometric policy over `_post`/`_sets` (`_freq` has no epochs:
    * appends never touch the frozen dictionary). */
  def ngramIndexCompactIfDue(spark: org.apache.spark.sql.SparkSession,
      wh: graft.etl.Warehouse, layer: String, table: String,
      currentEpoch: Long, minFoldRatio: Double = 0.25): Boolean = {
    val (base, delta) = groupFootprint(wh, layer,
      Seq(s"${table}_post", s"${table}_sets"), currentEpoch)
    val due = delta > 0L && delta.toDouble >= minFoldRatio * base.toDouble
    if (due)
      ngramIndexCompact(spark, wh, layer, table,
        foldEpochsBelow = currentEpoch)
    due
  }

  /** Any committed `pepoch=N` (N ≥ 0) partition strictly below the fold
    * bound? Driver-side listing — one readdir, no Spark job. Listed
    * under the table's rename lock: during a concurrent swap's rename
    * window the raw readdir can return null (table briefly absent) or
    * a partial view, silently deferring the fold to the next cadence
    * (r13 ADVICE). */
  private[textops] def hasFoldablePartitions(tablePath: String,
      foldEpochsBelow: Long): Boolean = {
    val dirs = graft.etl.Warehouse.locked(tablePath) {
      new java.io.File(tablePath).listFiles()
    }
    dirs != null && dirs.exists { f =>
      val n = f.getName
      n.startsWith("pepoch=") &&
        (try {
          val v = n.stripPrefix("pepoch=").toLong
          v >= 0 && v < foldEpochsBelow
        } catch { case _: NumberFormatException => false })
    }
  }

  /** One-time layout migration for a standing `_kept`/`_funnel` sink
    * built before the `pepoch` fold key existed (partitioned by `epoch`
    * itself): re-key the PARTITION layout as `pepoch := epoch`, keeping
    * `epoch` as a data column. Replay idempotence is preserved exactly —
    * a replayed epoch's dynamic overwrite of `pepoch=N` replaces the
    * migrated `pepoch=N` partition, same as it replaced `epoch=N`
    * before. Runs before every sink write/fold (a single readdir when
    * already migrated); the TextQueries driver warehouses never hit it
    * (their fingerprints bumped), but raw-API streams resuming a
    * pre-upgrade checkpoint would otherwise wedge the sink with
    * conflicting partition columns on the first post-upgrade write. */
  private[textops] def migratePepochLayout(
      spark: org.apache.spark.sql.SparkSession,
      wh: graft.etl.Warehouse, layer: String, sink: String): Unit = {
    // listed under the table's rename lock, like [[hasFoldablePartitions]]
    val dirs = graft.etl.Warehouse.locked(wh.path(layer, sink)) {
      new java.io.File(wh.path(layer, sink)).listFiles()
    }
    val hasEpoch = dirs != null && dirs.exists(_.getName.startsWith("epoch="))
    val hasPepoch = dirs != null && dirs.exists(_.getName.startsWith("pepoch="))
    // a MIXED sink (both layouts) means a stream wrote post-upgrade
    // batches through a pre-fix binary that skipped this migration;
    // every read of such a sink wedges on conflicting partition columns
    // with no hint of the cause (r13 ADVICE) — name the state and the
    // remediation instead of no-opping into that wedge
    if (hasEpoch && hasPepoch)
      throw new IllegalStateException(
        s"sink ${wh.path(layer, sink)} holds BOTH epoch= and pepoch= " +
        "partition directories — a pre-pepoch binary appended to an " +
        "already-migrated sink (or vice versa). Remediate once by " +
        "moving each epoch=N directory's rows into pepoch=N (keeping " +
        "epoch as a data column), e.g. read each epoch=N dir " +
        "separately, add the pepoch column, and append with dynamic " +
        "partition overwrite; then delete the epoch=N dirs.")
    if (hasEpoch && !hasPepoch)
      // partition-inferred `epoch` comes back IntegerType for small
      // values — cast to the LongType the post-migration rows use, or
      // mixed files diverge on the data column's type
      wh.rebuildPartitioned(
        wh.read(spark, layer, sink)
          .withColumn("epoch", col("epoch").cast(LongType))
          .withColumn("pepoch", col("epoch")),
        layer, sink, Seq("pepoch"))
  }

  private def pbKey(nBuckets: Int): Column =
    (col("band") * nBuckets + pmod(col("band_hash"), lit(nBuckets.toLong)))
      .cast("int")

  /** MinHash band-index on-disk format: v2 added `format_version` and
    * the `sets_layout` flag (`arrays` | `texts`) to `_meta` — the same
    * texts `_sets` option the posting index shipped in its v5
    * ([[SetsLayoutTexts]]; the minhash `_sets` is the same
    * incompressible-hash-arrays table, and with the ngram index cut to
    * 5.5× corpus it owned the 100 TB footprint story). Pre-v2 standing
    * indexes are rejected with an explicit rebuild-required error, the
    * posting-index discipline ([[readNgramIndexMeta]]). */
  private[graft] val NearDedupIndexFormatVersion = 2

  /** The MinHash index's frozen build parameters + layout flags, read
    * back by every probe/append so index and probe can never skew.
    * Same consistency scope note as [[NgramMeta]]. */
  private[textops] final case class MinhashMeta(shingleK: Int,
      numHashes: Int, bands: Int, nBuckets: Int, nSetBuckets: Int,
      setsLayout: String)

  private def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
      wh: graft.etl.Warehouse, layer: String,
      table: String): MinhashMeta = {
    // resume a crashed group promotion before trusting the tables —
    // the same reader-side discipline as [[readNgramIndexMeta]]
    wh.resumePending(layer, table, nearDedupIndexTables(table))
    val df = wh.read(spark, layer, s"${table}_meta")
    val ver =
      if (df.columns.contains("format_version"))
        df.select("format_version").head().getInt(0)
      else 1 // pre-versioned layouts carry no marker at all
    if (ver != NearDedupIndexFormatVersion)
      throw new IllegalStateException(
        s"MinHash index $layer/$table has on-disk format v$ver; this " +
        s"build reads v$NearDedupIndexFormatVersion — rebuild the " +
        "index with Dedup.nearDedupIndexPersist over the durable corpus")
    val m = df.select("shingle_k", "num_hashes", "bands", "n_buckets",
      "n_set_buckets", "sets_layout").head()
    MinhashMeta(m.getInt(0), m.getInt(1), m.getInt(2), m.getInt(3),
      m.getInt(4), m.getString(5))
  }

  /** The corpus-side verification sets (doc_id, set, n) of the MinHash
    * index, pruned by `rowFilter` — the [[readCorpusSets]] twin, minus
    * the frozen dictionary (minhash sets are uncapped): texts layout
    * re-shingles the candidates' pruned text partitions (per stored
    * (doc_id, epoch) row, mirroring the arrays rows), snapshotted so
    * multi-consumer probes evaluate the scan once. */
  private def readMinhashCorpusSets(spark: org.apache.spark.sql.SparkSession,
      wh: graft.etl.Warehouse, layer: String, table: String,
      meta: MinhashMeta, rowFilter: Column,
      tracker: PersistTracker): DataFrame = {
    val raw = wh.read(spark, layer, s"${table}_sets").filter(rowFilter)
    if (meta.setsLayout == SetsLayoutTexts)
      tracker.snapshotted(
        shingledHashed(raw, "doc_id", "text", meta.shingleK,
            carry = Seq("epoch"))
          .groupBy("doc_id", "epoch")
          .agg(collect_list(col("sh")).as("set"), count(lit(1)).as("n"))
          .select("doc_id", "set", "n"))
    else raw.select("doc_id", "set", "n")
  }

  /** Batch→corpus verified pairs from a persisted index, batch-sized by
    * construction: the batch's band keys are computed fresh, their
    * DISTINCT `pb` values (bounded by bands·nBuckets, a driver-side
    * list like [[Similarity.ivfPqProbePersisted]]'s probe cells) prune
    * the `_bands` scan to only the batch's buckets, and the candidates'
    * `dbucket` values (bounded by nSetBuckets) prune the `_sets` scan
    * the same way — `.explain` shows both `PartitionFilters`
    * (spec-asserted). Returns (__cid, __bid, jaccard): one row per
    * verified corpus↔batch pair, scored with exactly [[joinVerify]]'s
    * arithmetic. Caller contract: batch ids disjoint from indexed ids
    * (self-hits are dropped defensively). `excludeEpoch` drops that
    * epoch's own index rows from both scans — how a REPLAYED streaming
    * epoch recomputes against exactly the pre-epoch corpus instead of
    * matching its first attempt's survivors.
    *
    * Also returns the batch's persisted shingle rows (`shB`) and band
    * keys (`keysB`): both are PER-DOC under the index's parameters, so
    * the ingest loop can derive its survivors' index rows as a row
    * subset instead of re-shingling and re-minhashing them
    * ([[nearDedupIngestBatch]]). */
  private def incrementCrossPairs(batch: DataFrame, idCol: String,
      textCol: String, wh: graft.etl.Warehouse, layer: String,
      table: String, threshold: Double,
      tracker: PersistTracker = PersistTracker.noop,
      excludeEpoch: Long = Long.MinValue)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val meta = readIndexMeta(spark, wh, layer, table)
    val nSetBuckets = meta.nSetBuckets
    label(batch, "nd-probe: batch sketch")
    val shB = tracker.add(
      shingledHashed(batch, idCol, textCol, meta.shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val keysB = tracker.add(
      bandedKeys(minhashFromShingles(shB, meta.numHashes), meta.numHashes,
        meta.bands, keepSig = false)
      .withColumn("pb", pbKey(meta.nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // bounded collect: ≤ bands·nBuckets pb values by construction —
    // never data-scaled; the same job carries the broadcast-gate count
    // (was a distinct-collect + a count — §1.5)
    val pbRows = keysB.groupBy("pb").agg(count(lit(1)).as("c")).collect()
    val pbs = pbRows.map(_.getInt(0)).sorted
    val idx = wh.read(spark, layer, s"${table}_bands")
      .filter(col("pb").isin(pbs.map(Int.box): _*) &&
        col("epoch") =!= lit(excludeEpoch))
    // a small batch's band keys BROADCAST into the index join so the
    // pruned `_bands` scan streams map-side instead of shuffling; big
    // backfill batches keep the shuffle join
    val keysBr =
      if (pbRows.map(_.getLong(1)).sum <= 2000000L) broadcast(keysB)
      else keysB
    // snapshotted, never bare-persisted: this frame scans `_bands`, and
    // a noop-tracker persist outlives compaction swaps — Spark's
    // CacheManager aliases file relations by root path, so the next
    // same-plan probe after a compaction re-executed a stale listing
    // and died on the deleted files (the r14 texts-`_sets` defect
    // class, caught again here by the minhash texts-layout spec)
    label(batch, "nd-probe: pruned bands join")
    val cross = tracker.snapshotted(idx
      .select(col("band"), col("band_hash"), col("doc_id").as("__cid"))
      .join(keysBr.select(col("band"), col("band_hash"),
        col("doc_id").as("__bid")), Seq("band", "band_hash"))
      .filter(col("__cid") =!= col("__bid"))
      .select("__cid", "__bid").distinct())
    label(batch, "nd-probe: corpus sets verify")
    // one job: the candidates' dbucket values AND the broadcast-gate
    // count (was a distinct-collect + a count — §1.5)
    val dbRows = cross
      .groupBy(pmod(col("__cid"), lit(nSetBuckets.toLong)).cast("int").as("db"))
      .agg(count(lit(1)).as("c")).collect()
    val dbs = dbRows.map(_.getInt(0)).sorted
    val corpusSets = readMinhashCorpusSets(spark, wh, layer, table, meta,
      col("dbucket").isin(dbs.map(Int.box): _*) &&
        col("epoch") =!= lit(excludeEpoch),
      tracker)
    val batchSets = shB.groupBy("doc_id")
      .agg(collect_list(col("sh")).as("set"), count(lit(1)).as("n"))
    // candidate pairs broadcast into the corpus-sets join when small —
    // the shuffle alternative moves the fat set arrays to meet a few
    // thousand pair rows
    val crossB =
      if (dbRows.map(_.getLong(1)).sum <= 2000000L) broadcast(cross)
      else cross
    // joinVerify's arithmetic exactly (int sizes → double, one IEEE
    // division), so incremental scores are bit-identical to a rebuild's
    val pairs = crossB
      .join(corpusSets.select(col("doc_id").as("__cid"),
        col("set").as("set_a"), col("n").as("n_a")), "__cid")
      .join(batchSets.select(col("doc_id").as("__bid"),
        col("set").as("set_b"), col("n").as("n_b")), "__bid")
      .withColumn("__i", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("__i").cast("double")
        / (col("n_a") + col("n_b") - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("__cid", "__bid", "jaccard")
    (pairs, shB, keysB)
  }

  /** Incremental near-dedup PAIRS: everything a full corpus-rebuild
    * ([[minhashLshVerified]] over corpus ∪ batch) would emit that
    * touches a batch id — byte-identical, without re-running the corpus
    * side. Batch↔corpus pairs come from the partition-pruned index
    * probe ([[incrementCrossPairs]]); batch↔batch pairs from the
    * standard verified pipeline over the batch alone (banding collides
    * pairwise, so neither half depends on the rest of the corpus).
    * Returns (id_a, id_b, jaccard) with id_a < id_b. */
  def nearDedupIncrementPairs(batch: DataFrame, idCol: String,
      textCol: String, wh: graft.etl.Warehouse, layer: String,
      table: String, threshold: Double): DataFrame = {
    val meta = readIndexMeta(batch.sparkSession, wh, layer, table)
    val cross = incrementCrossPairs(batch, idCol, textCol, wh, layer,
      table, threshold)._1
      .select(least(col("__cid"), col("__bid")).as("id_a"),
        greatest(col("__cid"), col("__bid")).as("id_b"), col("jaccard"))
      .distinct()
    val internal = minhashLshVerified(batch, idCol, textCol, meta.shingleK,
      meta.numHashes, meta.bands, threshold)
    internal.unionByName(cross)
  }

  /** Incremental near-dedup KEEP — the ingest policy: the corpus always
    * wins. A batch cluster (connected component of batch-internal
    * verified pairs) is dropped ENTIRELY if any member near-matches an
    * indexed corpus doc (its content already exists); otherwise its
    * min-id member survives, carrying the cluster's member count.
    * Returns (doc_id, cluster_size) — the batch docs to ingest, ready
    * for [[nearDedupIndexAppend]].
    *
    * Note this intentionally differs from re-running [[nearDedupKeep]]
    * over corpus ∪ batch: a rebuild may elect a batch doc as its
    * cluster's min-id survivor and drop an already-kept corpus doc —
    * an ingest pipeline must never un-keep the corpus. Shingle-less
    * batch docs survive as singletons (they can never pair; run exact
    * incremental dedup first if byte-identity should drop them). */
  def nearDedupIncrementKeep(batch: DataFrame, idCol: String,
      textCol: String, wh: graft.etl.Warehouse, layer: String,
      table: String, threshold: Double,
      broadcastDocLimit: Long = 200000L): DataFrame =
    nearDedupIncrementKeepTracked(batch, idCol, textCol, wh, layer, table,
      threshold, broadcastDocLimit, PersistTracker.noop)

  /** [[nearDedupIncrementKeep]] with a persist tracker — the ingest
    * loop's entry point, so each epoch's pinned frames are released
    * once the survivors are checkpointed. `broadcastDocLimit` tunes the
    * batch-internal verify's broadcast/shuffle switch, same default and
    * meaning as [[nearDedupKeep]] / [[minhashLshVerified]] (r9 ADVICE:
    * it was hardcoded here while the siblings exposed it). */
  private[textops] def nearDedupIncrementKeepTracked(batch: DataFrame,
      idCol: String, textCol: String, wh: graft.etl.Warehouse,
      layer: String, table: String, threshold: Double,
      broadcastDocLimit: Long, tracker: PersistTracker,
      excludeEpoch: Long = Long.MinValue): DataFrame =
    nearDedupIncrementKeepParts(batch, idCol, textCol, wh, layer, table,
      threshold, broadcastDocLimit, tracker, excludeEpoch)._1

  /** [[nearDedupIncrementKeepTracked]] also returning the batch's
    * persisted shingle rows and band keys, so the ingest loop can
    * derive the SURVIVORS' index rows as a row subset (per-doc rows —
    * filtering by survivor id is exactly [[nearDedupIndexAppend]]'s
    * recomputation, minus the recomputation). */
  private def nearDedupIncrementKeepParts(batch: DataFrame,
      idCol: String, textCol: String, wh: graft.etl.Warehouse,
      layer: String, table: String, threshold: Double,
      broadcastDocLimit: Long, tracker: PersistTracker,
      excludeEpoch: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val meta = readIndexMeta(batch.sparkSession, wh, layer, table)
    val (crossPairs, shB, keysB) = incrementCrossPairs(batch, idCol,
      textCol, wh, layer, table, threshold, tracker, excludeEpoch)
    val matched = crossPairs.select(col("__bid").as("__mid")).distinct()
    label(batch, "nd-keep: batch-internal verify")
    val (repPairs0, members, live) = minhashVerifiedParts(batch, idCol,
      textCol, meta.shingleK, meta.numHashes, meta.bands, threshold,
      broadcastDocLimit, tracker)
    // same checkpoint-before-iteration discipline as [[nearDedupKeep]]
    val repPairs = repPairs0.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    label(batch, "nd-keep: cluster + policy")
    val liveReps = live.select(col("doc_id").as("__rep"))
    val singles = members.join(liveReps, Seq("__rep"), "left_anti")
      .select(col("__mid").as("doc_id"), lit(1L).as("cluster_size"))
    val classSizes = members.join(liveReps, Seq("__rep"), "left_semi")
      .groupBy("__rep").agg(count(lit(1)).as("__csize"))
    val comp = graft.operators.ConnectedComponents
      .componentsStarContraction(repPairs, "id_a", "id_b")
      .select(col("id").as("__rep"), col("comp"))
    val repComp = classSizes.join(comp, Seq("__rep"), "left")
      .select(col("__rep"), coalesce(col("comp"), col("__rep")).as("__comp"),
        col("__csize"))
    // a matched member taints its rep (exact copies share its sets, so
    // they matched too), and a tainted rep drops its whole component
    val matchedReps = members.join(matched, Seq("__mid"), "left_semi")
      .select(col("__rep")).distinct()
    val matchedComps = repComp.join(matchedReps, Seq("__rep"), "left_semi")
      .select(col("__comp")).distinct()
    val kept = repComp.join(matchedComps, Seq("__comp"), "left_anti")
      .groupBy(col("__comp").as("doc_id"))
      .agg(sum(col("__csize")).cast(LongType).as("cluster_size"))
    (kept.unionByName(singles), shB, keysB)
  }

  /** The streaming near-dedup INGEST LOOP — the composition a 100 TB
    * pipeline actually runs continuously: each micro-batch near-dedups
    * against the persisted index ([[nearDedupIncrementKeep]], corpus
    * wins), its surviving docs append their band keys + shingle sets to
    * the index (the epoch-keyed write half of [[nearDedupIndexAppend]],
    * over the keep probe's cached per-doc rows — survivors are a row
    * subset, never re-sketched) and land in `<table>_kept` —
    * so batch N+1 dedups against everything batch N kept, without any
    * corpus-side recomputation, ever. `foreachBatch` is the right
    * altitude: the per-batch work IS the batch operator, and the sink
    * sees exactly the surviving rows.
    *
    * Delivery is effectively EXACTLY-ONCE over plain parquet: every
    * write this loop performs — both index appends and the `_kept`
    * sink — is keyed by the epoch and lands via dynamic partition
    * overwrite, and the keep pipeline EXCLUDES its own epoch's index
    * rows, so a replayed epoch (crash between sink write and checkpoint
    * commit — the at-least-once gap) recomputes the identical survivor
    * set against the identical pre-epoch corpus and overwrites its own
    * partitions byte-for-row. Kill-and-replay is spec-enforced
    * (IncrementalDedupSpec). `compactEvery` > 0 additionally compacts
    * the index every that-many epochs, folding committed epochs into
    * the base partition so file/directory count stays bounded across a
    * long-running ingest ([[nearDedupIndexCompact]]; probes are
    * row-identical across a compaction). */
  def nearDedupIngestStream(batches: DataFrame, idCol: String,
      textCol: String, wh: graft.etl.Warehouse, layer: String,
      table: String, threshold: Double, checkpointDir: String,
      broadcastDocLimit: Long = 200000L,
      compactEvery: Int = 0,
      compactMinRatio: Double = 0.0): org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        nearDedupIngestBatch(b.toDF(), epoch, idCol, textCol, wh, layer,
          table, threshold, broadcastDocLimit, compactEvery,
          compactMinRatio)
        ()
      }
      .start()

  /** One epoch of the ingest loop — extracted so kill-and-replay is
    * directly testable (invoke twice with the same epoch; the sink and
    * index must be unchanged by the second run). See
    * [[nearDedupIngestStream]] for the exactly-once argument. Returns
    * the epoch's kept-doc count FROM THE CHECKPOINTED FRAME — callers
    * building funnel rows must use this instead of reading the `_kept`
    * sink back (an all-dropped epoch writes no partition, and a
    * never-populated sink has no schema to read — r10 ADVICE). */
  private[textops] def nearDedupIngestBatch(b: DataFrame, epoch: Long,
      idCol: String, textCol: String, wh: graft.etl.Warehouse,
      layer: String, table: String, threshold: Double,
      broadcastDocLimit: Long = 200000L, compactEvery: Int = 0,
      compactMinRatio: Double = 0.0): Long = {
    val tracker = PersistTracker.live()
    val batch = b.select(col(idCol).cast(LongType).as(idCol),
      col(textCol)).persist()
    try {
      val (kept, shB, keysB) = nearDedupIncrementKeepParts(batch, idCol,
        textCol, wh, layer, table, threshold, broadcastDocLimit, tracker,
        excludeEpoch = epoch)
      // EAGER checkpoint, not a lazy persist: the keep pipeline READS
      // the index this loop is about to APPEND to. The own-epoch
      // exclusion already makes a re-evaluation correct, but the
      // checkpoint still freezes the survivor rows to an RDD snapshot
      // BEFORE the first index mutation — one evaluation, cut lineage,
      // and no dependence on scan-refresh timing (the r9 250k probe's
      // read-own-writes bug class stays structurally impossible).
      label(batch, "nd-ingest: survivor rows + index append")
      val keptDocs = batch
        .join(kept.withColumnRenamed("doc_id", idCol), idCol)
        .localCheckpoint(true)
      // the survivors' index rows are a ROW SUBSET of the probe's cached
      // band keys / shingle rows (both per-doc under the index's frozen
      // parameters) — filter by survivor id instead of re-shingling and
      // re-minhashing the survivors (the r10 loop paid that second
      // sketch pass every epoch). Writes happen before the tracker
      // releases so the subset comes from the cached frames.
      val meta = readIndexMeta(batch.sparkSession, wh, layer, table)
      val nSetBuckets = meta.nSetBuckets
      // survivors broadcast into the row-subset semi-joins only when
      // batch-sized; a giant backfill epoch keeps the shuffle join like
      // every other gated broadcast in this file (r11 ADVICE: this one
      // was unconditional). ONE count job serves the gate and the
      // epoch's return value (§1.5 — it was paid twice)
      val nKept = keptDocs.count()
      val keptIds0 = keptDocs.select(col(idCol).as("doc_id"))
      val keptIds =
        if (nKept <= KeptIdsBroadcastLimit) broadcast(keptIds0) else keptIds0
      writeNearDedupIndexRows(
        keysB.join(keptIds, Seq("doc_id"), "left_semi"),
        shB.join(keptIds, Seq("doc_id"), "left_semi")
          .groupBy("doc_id")
          .agg(collect_list(col("sh")).as("set"), count(lit(1)).as("n"))
          .withColumn("dbucket",
            pmod(col("doc_id"), lit(nSetBuckets.toLong))),
        keptDocs.select(col(idCol).cast(LongType).as("doc_id"),
            col(textCol).as("text"))
          .join(shB.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
          .withColumn("dbucket",
            pmod(col("doc_id"), lit(nSetBuckets.toLong))),
        wh, layer, table, epoch, meta)
      // the epoch's pinned frames served their purpose once the index
      // rows are written — release so a long-running stream holds at
      // most one epoch's cache (r9 ADVICE: these leaked per-epoch into
      // /tmp/blockmgr)
      tracker.unpersistAll()
      // epoch rides as DATA (which batch kept a doc); pepoch is the
      // PARTITION/replay key compaction later folds ([[foldKeptSink]])
      migratePepochLayout(batch.sparkSession, wh, layer, s"${table}_kept")
      wh.overwritePartitionsDynamic(
        keptDocs.withColumn("epoch", lit(epoch))
          .withColumn("pepoch", lit(epoch)),
        layer, s"${table}_kept", Seq("pepoch"))
      if (compactEvery > 0 && epoch > 0 && epoch % compactEvery == 0)
        nearDedupIndexCompact(batch.sparkSession, wh, layer, table,
          foldEpochsBelow = epoch)
      else if (compactMinRatio > 0.0 && epoch > 0)
        // the geometric alternative to the fixed cadence: fold only
        // when the committed delta earns its O(base) rewrite
        nearDedupIndexCompactIfDue(batch.sparkSession, wh, layer, table,
          epoch, compactMinRatio)
      nKept
    } finally {
      tracker.unpersistAll()
      batch.unpersist()
    }
  }

  // --------------------------------- incremental exact-similarity dedup
  //
  // The persisted-index daily-ingest shape for the PREFIX-FILTER family
  // (exact n-gram Jaccard / containment — [[ngramJaccardPairs]] /
  // [[containmentPairs]]): the corpus's capped inverted index persists
  // as warehouse tables and a batch probes it, so the two most
  // expensive distinct-corpus jobs in the repo become batch-sized per
  // day instead of corpus-sized — the same watermark delta-load
  // discipline as the MinHash index above, applied to the exact family.
  //
  // FROZEN-STATISTICS semantics (stated, not hidden): the shingle
  // document frequencies — and with them the boilerplate cap and the
  // rare-first total order — are frozen at index build time over the
  // corpus. A batch shingle unseen in the corpus has frequency 0
  // (rarest, always kept); a shingle the corpus already capped out
  // stays capped for batch docs too. This makes every probe
  // deterministic and exactly oracle-able (the DuckDB twin replays the
  // corpus-frequency cap), at the cost of a stated divergence from a
  // full corpus∪batch rebuild: a shingle whose UNION frequency crosses
  // `maxShingleFreq` would be dropped by the rebuild but kept here
  // (and vice versa never — frequencies only grow). A periodic
  // rebuild ([[ngramIndexPersist]] over the accumulated corpus)
  // refreshes the statistics, exactly as a production system re-freezes
  // its IDF dictionary on a cadence.

  /** Persist a corpus's exact-similarity posting index:
    *
    *   `<table>_meta` — 1 row of (shingle_k, max_freq, buckets): probes
    *                    read parameters back, so index/probe never skew
    *   `<table>_freq` — (sh, freq) for EVERY distinct corpus shingle,
    *                    including capped-out ones (a probe must KNOW a
    *                    shingle is boilerplate to drop it from batch
    *                    sets), PARTITIONED BY `sbucket` (= sh mod
    *                    nPostBuckets). The frozen-order dictionary.
    *   `<table>_post` — (sh, doc_id, __pos, __n): the FULL capped
    *                    postings with each doc's rare-first position and
    *                    capped size, partitioned by `sbucket`. Storing
    *                    full postings (not just a prefix) costs ~2× the
    *                    prefix rows at t=0.5 but makes the probe
    *                    THRESHOLD-FREE — a prefix at any probe threshold
    *                    is the row filter `__pos ≤ __n − ⌈t·__n⌉ + 1`
    *                    over stored columns — and gives containment its
    *                    full-postings destination side from the same
    *                    table.
    *   `<table>_sets` — (doc_id, set, n) capped shingle-set arrays
    *                    partitioned by `dbucket` (= doc_id mod
    *                    nSetBuckets): exact verification prunes to the
    *                    partitions holding its candidates' sets.
    *
    * `_post` and `_sets` carry an `epoch` sub-partition (base build =
    * −1), exactly like the MinHash index: streaming appends key their
    * rows by epoch so a replayed epoch overwrites ITSELF
    * ([[ngramIndexAppend]]) and probes can exclude an in-flight epoch's
    * own rows — the exactly-once discipline, now uniform across BOTH
    * index families (r10 verdict: `ngramIndexAppend` was a plain append
    * that double-counted on retry). `_freq` has no epoch: appends never
    * touch the frozen dictionary, only a rebuild rewrites it.
    *
    * At 100 TB the postings/freq tables are the skinny derivative of
    * the text — a probe scans bucket-pruned slices of them instead of
    * re-shingling the corpus text. Stored rows are WIDTH-NARROWED
    * (format v4): `freq`/`__pos`/`__n`/`n` are IntegerType — per-doc
    * capped shingle counts and positions are bounded far inside Int,
    * and a document frequency above Int.MaxValue is clamped (such a
    * shingle is boilerplate-capped out at any real `maxShingleFreq`,
    * so neither the cap test nor the surviving rare-first order can
    * observe the clamp). The r11 probe measured the index at 15.9× the
    * compressed corpus; narrowing cuts the fixed-width columns in half.
    *
    * `containment = false` additionally opts into the JACCARD-ONLY
    * layout: `_post` stores only each doc's PREFIX rows at the
    * `tMinJaccard` floor (the rows any Jaccard probe at threshold ≥
    * the floor can ever read — recall is untouched for those probes,
    * spec-pinned), cutting `_post` by roughly the mean (1 − tMin)
    * fraction. The trade: containment probes (which need full
    * destination postings) and Jaccard probes BELOW the floor are
    * rejected with an explicit error instead of silently under-
    * recalling. Layout flags persist in `_meta` and every probe
    * validates against them.
    *
    * `setsAsTexts = true` opts into the TEXTS `_sets` layout
    * ([[SetsLayoutTexts]]): `_sets` stores (doc_id, text) zstd-
    * compressed instead of the incompressible hashed arrays, and every
    * probe re-derives its candidates' (set, n) from the pruned text
    * partitions under the frozen dictionary ([[readCorpusSets]]) —
    * identical values by construction (same shingle + frozen-freq-cap
    * arithmetic as this build), measured 97.0 → 32.3 MB on the r14
    * probe corpus (the index's dominant table, 5.7× → 1.9× corpus). */
  def ngramIndexPersist(df: DataFrame, idCol: String, textCol: String,
      wh: graft.etl.Warehouse, layer: String, table: String,
      shingleK: Int = 3, maxShingleFreq: Int = 1000,
      nPostBuckets: Int = 64, nSetBuckets: Int = 64,
      containment: Boolean = true, tMinJaccard: Double = 0.0,
      setsAsTexts: Boolean = false): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    require(containment || tMinJaccard > 0.0,
      "a Jaccard-only index needs a positive tMinJaccard floor")
    val setsLayout = if (setsAsTexts) SetsLayoutTexts else SetsLayoutArrays
    // the four tables STAGE to ._tmp and promote as one marker-gated
    // group: a (re)build over a live index was four sequential
    // non-atomic overwrites — a crash between the _freq and _post
    // writes left a new dictionary over old-ordered postings, and the
    // replayed staleness check would read the NEW _freq, measure low,
    // and skip the rebuild: a silently mixed index (r11 ADVICE).
    // Readers resume a crashed promotion before trusting the group
    // ([[readNgramIndexMeta]] → Warehouse.resumePending).
    wh.stage(Seq((shingleK, maxShingleFreq, nPostBuckets, nSetBuckets,
        NgramIndexFormatVersion, containment, tMinJaccard, setsLayout))
      .toDF("shingle_k", "max_freq", "n_post_buckets", "n_set_buckets",
        "format_version", "containment", "t_min", "sets_layout"),
      layer, s"${table}_meta")
    val sh = shingledHashed(df, idCol, textCol, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // frozen document frequency: plain per-doc count (shingledHashed is
    // distinct per doc), the member-weighted freq of the batch operator
    // without the rep collapse — identical values, append-friendly rows
    val freqTab = sh.groupBy("sh").agg(count(lit(1)).as("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    wh.stagePartitioned(
      clusterFor(freqTab
          .withColumn("freq",
            least(col("freq"), lit(Int.MaxValue.toLong)).cast("int"))
          .withColumn("sbucket",
            pmod(col("sh"), lit(nPostBuckets.toLong)).cast("int")),
        "sbucket", "sh"),
      layer, s"${table}_freq", Seq("sbucket"))
    val capped = sh.join(freqTab, "sh")
      .filter(col("freq") <= maxShingleFreq)
      .select("doc_id", "sh", "freq")
    // __pos and __n share one sorted window, as in [[ngramJaccardPairs]]
    val rareFirst = Window.partitionBy("doc_id").orderBy("freq", "sh")
    val posted = capped
      .withColumn("__pos", row_number().over(rareFirst))
      .withColumn("__n", count(lit(1)).over(rareFirst.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)).cast("int"))
      .select("sh", "doc_id", "__pos", "__n")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val storedPost =
      if (containment) posted else prefixRows(posted, tMinJaccard)
    wh.stagePartitioned(
      clusterFor(storedPost.withColumn("sbucket",
            pmod(col("sh"), lit(nPostBuckets.toLong)).cast("int"))
          .withColumn("epoch", lit(-1L)),
        "sbucket", "sh", "doc_id"),
      layer, s"${table}_post", Seq("sbucket", "epoch"))
    // `_sets` row membership is IDENTICAL across layouts: exactly the
    // docs with ≥1 capped shingle (the texts semi-join below) — so a
    // probe's verification join sees the same doc set either way
    val setsRows =
      if (setsAsTexts)
        df.select(col(idCol).cast(LongType).as("doc_id"),
            col(textCol).as("text"))
          .join(posted.select("doc_id").distinct(), Seq("doc_id"),
            "left_semi")
      else
        posted.groupBy("doc_id")
          .agg(collect_list(col("sh")).as("set"),
            count(lit(1)).cast("int").as("n"))
    wh.stagePartitioned(
      clusterFor(setsRows
          .withColumn("dbucket", pmod(col("doc_id"), lit(nSetBuckets.toLong)))
          .withColumn("epoch", lit(-1L)),
        "dbucket", "doc_id"),
      layer, s"${table}_sets", Seq("dbucket", "epoch"),
      if (setsAsTexts) SetsTextsWriteOptions else Map.empty)
    posted.unpersist(); freqTab.unpersist(); sh.unpersist()
    wh.promoteStagedGroup(layer, table, ngramIndexTables(table))
  }

  /** Posting-index on-disk format: v2 added the `epoch` sub-partition,
    * v3 the clustered one-file-per-bucket sorted layout, v4 the
    * Int-narrowed `freq`/`__pos`/`__n`/`n` columns plus the layout
    * flags (`containment`/`t_min`) in `_meta`, v5 the `sets_layout`
    * flag (`arrays` | `texts`). [[readNgramIndexMeta]] rejects other
    * versions with an explicit rebuild-required error — a pre-v4
    * standing index used to surface as a bare AnalysisException from a
    * missing column (r11 ADVICE). */
  private[graft] val NgramIndexFormatVersion = 5

  /** `_sets` stores (doc_id, set, n) hashed-shingle ARRAYS — xxhash64
    * values, i.e. uniform-random longs that no codec compresses (the
    * r14 probe: zstd 97.0 → 97.0 MB, sorted-delta 92.3 MB). */
  private[textops] val SetsLayoutArrays = "arrays"

  /** `_sets` stores (doc_id, text) instead and probes RE-SHINGLE their
    * candidates' pruned partitions under the frozen dictionary
    * ([[readCorpusSets]]) — text compresses where hashes cannot (r14
    * probe: 97.0 → 32.3 MB zstd, the index's dominant table cut 3×),
    * at a bounded re-shingle CPU cost per probe. Row membership, the
    * dbucket/epoch partition keys, and the recomputed (set, n) values
    * are identical to the arrays layout by construction. */
  private[textops] val SetsLayoutTexts = "texts"

  /** zstd for the texts `_sets` writes: measured 53.5 (snappy) vs
    * 32.3 MB (zstd) on the probe corpus — the only index table where
    * codec choice moves the footprint, because only it stores text. */
  private val SetsTextsWriteOptions = Map("compression" -> "zstd")

  /** The posting index's table group, in promote order (meta last-read
    * first-promoted is NOT required — the marker makes order
    * irrelevant to readers; this fixed order just keeps replays
    * deterministic). */
  private def ngramIndexTables(table: String): Seq[String] =
    Seq(s"${table}_meta", s"${table}_freq", s"${table}_post",
      s"${table}_sets")

  /** The posting index's frozen build parameters + layout flags, read
    * back by every probe so index and probe can never skew.
    *
    * Consistency scope: the meta collect and the subsequent table scans
    * are individually serialized against swaps, but not jointly — a
    * rebuild that CHANGES build parameters landing between a probe's
    * meta read and its table reads would shingle the batch under the
    * old parameters against the new tables. That window is accepted
    * and documented rather than locked: all index maintenance runs on
    * the single ingest driver (re-parameterization is an operator
    * action, not a concurrent code path), and holding a group lock
    * across probe PLAN construction would serialize every probe behind
    * every compaction. Same-parameter rebuilds (compaction, the
    * statistics re-freeze) are unaffected — any mix of old/new
    * generation scans is row-identical by construction. */
  private[textops] final case class NgramMeta(shingleK: Int, maxFreq: Int,
      nPostBuckets: Int, nSetBuckets: Int, containment: Boolean,
      tMin: Double, setsLayout: String)

  private def readNgramIndexMeta(spark: org.apache.spark.sql.SparkSession,
      wh: graft.etl.Warehouse, layer: String, table: String): NgramMeta = {
    // every probe/append/staleness path reads meta first, so this is
    // THE resume point: a rebuild that crashed between table swaps
    // finishes promoting here, before anything trusts the group
    wh.resumePending(layer, table, ngramIndexTables(table))
    val df = wh.read(spark, layer, s"${table}_meta")
    val ver =
      if (df.columns.contains("format_version"))
        df.select("format_version").head().getInt(0)
      else 1 // pre-versioned layouts carry no marker at all
    if (ver != NgramIndexFormatVersion)
      throw new IllegalStateException(
        s"posting index $layer/$table has on-disk format v$ver; this " +
        s"build reads v$NgramIndexFormatVersion — rebuild the index " +
        "with Dedup.ngramIndexPersist over the durable corpus")
    val m = df.select("shingle_k", "max_freq", "n_post_buckets",
      "n_set_buckets", "containment", "t_min", "sets_layout").head()
    NgramMeta(m.getInt(0), m.getInt(1), m.getInt(2), m.getInt(3),
      m.getBoolean(4), m.getDouble(5), m.getString(6))
  }

  /** The shared probe-side pipeline: the batch's capped, positioned
    * postings under the index's FROZEN statistics. Returns
    * (postings: doc_id, sh, __pos, __n, sbucket — persisted;
    *  sets: doc_id, set, n — persisted). Frequencies come from a
    * bucket-pruned `_freq` join (coalesce to 0 for corpus-unseen
    * shingles: rarest, always kept), so the batch and the index share
    * ONE total order (freq, sh) and the prefix/positional theorems hold
    * across the corpus↔batch join exactly as within the batch. */
  /** The corpus-side verification sets (doc_id, set, n), pruned by
    * `rowFilter` (candidate dbucket membership + replayed-epoch
    * exclusion). Arrays layout: the stored arrays, selected. Texts
    * layout: the candidates' pruned TEXT partitions re-shingled under
    * the frozen dictionary with EXACTLY the ingest-side arithmetic
    * ([[batchPostings]]' left-join + coalesce-0 + cap over the same
    * [[frozenFreqJoin]] scan shape), so the recomputed (set, n) equal
    * what the arrays layout stored, for base and appended epochs alike
    * (base-build shingles are all in the frozen dictionary, so its
    * inner join ≡ this left join there; appended docs were capped with
    * coalesce-0 at ingest — the same expression). CPU is bounded by
    * the candidates' buckets; the dictionary scan stays bucket-range-
    * pruned and map-side below the broadcast limit. */
  private def readCorpusSets(spark: org.apache.spark.sql.SparkSession,
      wh: graft.etl.Warehouse, layer: String, table: String,
      meta: NgramMeta, rowFilter: Column,
      tracker: PersistTracker): DataFrame = {
    val raw = wh.read(spark, layer, s"${table}_sets").filter(rowFilter)
    if (meta.setsLayout == SetsLayoutTexts) {
      val shC = shingledHashed(raw, "doc_id", "text", meta.shingleK,
        carry = Seq("epoch"))
      // ONE texts pass, ONE dictionary scan, ONE snapshot: the final
      // recomputed sets are snapshotted ([[PersistTracker.snapshotted]]
      // — a bare noop-tracker persist would alias post-compaction
      // reads of the rewritten root path, and no snapshot re-runs the
      // whole pipeline per verify join: containment consumes it twice).
      // The dictionary join deliberately does NOT reuse the batch
      // path's [[frozenFreqJoin]]: its broadcast gating + per-bucket
      // range pruning each cost an extra evaluation of the shingle
      // frame (count + range collect), and the corpus-side candidate
      // slice — unlike a small batch — spans most shingle buckets, so
      // the pruning buys little; checkpointing the shingle frame to
      // avoid the re-evaluations materializes every (doc, shingle) row
      // (measured SLOWER than the r14 triple-scan at sf0.1). `_freq`
      // is the skinny derivative; one shuffle join against it per
      // probe is the cheapest shape at every scale.
      val freq = wh.read(spark, layer, s"${table}_freq")
        .select("sh", "freq")
      // grouped by (doc_id, epoch), NOT doc_id: the arrays layout
      // stores one row per (doc_id, epoch), so a doc_id appended in two
      // epochs must verify per-version here too, not as a merged union
      // set (the layouts would otherwise diverge on that corpus)
      tracker.snapshotted(
        shC.join(freq, Seq("sh"), "left")
          .withColumn("freq", coalesce(col("freq"), lit(0)))
          .filter(col("freq") <= meta.maxFreq)
          .groupBy("doc_id", "epoch")
          .agg(collect_list(col("sh")).as("set"),
            count(lit(1)).cast("int").as("n"))
          .select("doc_id", "set", "n"))
    } else raw.select("doc_id", "set", "n")
  }

  private def batchPostings(batch: DataFrame, idCol: String,
      textCol: String, wh: graft.etl.Warehouse, layer: String,
      table: String, meta: NgramMeta, tracker: PersistTracker,
      broadcastShingleLimit: Long = 2000000L): (DataFrame, DataFrame) = {
    val shB = tracker.add(
      shingledHashed(batch, idCol, textCol, meta.shingleK)
        .withColumn("sbucket",
          pmod(col("sh"), lit(meta.nPostBuckets.toLong)).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // The dictionary join is the small-batch floor: a shuffle join
    // exchanges the (pruned) dictionary even when the batch has a few
    // thousand shingles. Below the limit, keep the dictionary scan
    // MAP-SIDE: a broadcast left-semi prunes it to exactly the batch's
    // shingles (no exchange of dictionary rows), and the now-tiny
    // survivor set broadcasts back into the left join — and the scan
    // itself shrinks to the batch's per-bucket key RANGES
    // ([[rangesToFilter]]): index files are sorted by `sh` within
    // each bucket, so parquet row-group stats skip the dictionary
    // pages outside them (the measured 28 MB small-batch floor).
    // Above the limit the plain shuffle join over isin-pruned buckets
    // is the right shape (both sides large).
    val cappedB = frozenFreqJoin(shB, wh, layer, table,
        broadcastShingleLimit)
      .withColumn("freq", coalesce(col("freq"), lit(0)))
      .filter(col("freq") <= meta.maxFreq)
    val rareFirst = Window.partitionBy("doc_id").orderBy("freq", "sh")
    // snapshotted (scans `_freq` through the dictionary join, which a
    // statistics rebuild rewrites) — see [[incrementCrossPairs]]' cross
    val postB = tracker.snapshotted(cappedB
      .withColumn("__pos", row_number().over(rareFirst))
      .withColumn("__n", count(lit(1)).over(rareFirst.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)).cast("int"))
      .select("doc_id", "sh", "__pos", "__n", "sbucket"))
    val setsB = tracker.add(postB.groupBy("doc_id")
      .agg(collect_list(col("sh")).as("set"),
        count(lit(1)).cast("int").as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    (postB, setsB)
  }

  /** Batch shingles ⟕ frozen `_freq` dictionary — the ONE scan shape
    * shared by the probe's posting construction and the staleness
    * signal (they must measure through the same join or the signal
    * diverges from what probes actually pay). Below the broadcast
    * limit the dictionary scan stays map-side: per-bucket key ranges
    * ([[rangesToFilter]] — row-group skipping over sh-sorted bucket
    * files), a broadcast left-semi pruning to exactly the batch's
    * shingles, and the now-tiny survivor set broadcast back. Above it,
    * isin bucket pruning + shuffle join (both sides large). */
  private def frozenFreqJoin(shB: DataFrame, wh: graft.etl.Warehouse,
      layer: String, table: String,
      broadcastShingleLimit: Long): DataFrame = {
    val spark = shB.sparkSession
    // one aggregate job yields the broadcast-gate count AND the pruning
    // ranges (this was a count job + a ranges job over the same frame)
    val (n, ranges) = bucketStats(shB, "sbucket", "sh")
    if (n <= broadcastShingleLimit) {
      val freq = wh.read(spark, layer, s"${table}_freq")
        .filter(rangesToFilter(ranges, "sbucket", "sh"))
        .select("sh", "freq")
      val freqB = freq.join(broadcast(shB.select("sh").distinct()),
        Seq("sh"), "left_semi")
      shB.join(broadcast(freqB), Seq("sh"), "left")
    } else {
      val bs = ranges.map(_._1)
      val freq = wh.read(spark, layer, s"${table}_freq")
        .filter(if (bs.isEmpty) lit(false)
                else col("sbucket").isin(bs.map(Int.box): _*))
        .select("sh", "freq")
      shB.join(freq, Seq("sh"), "left")
    }
  }

  /** ONE bounded aggregate job returning (total row count, per-bucket
    * (bucket, min key, max key) ranges): every probe needs both a
    * broadcast-gate count AND a pruning predicate over the same frame,
    * and paying two jobs for them is pure per-job fixed cost at
    * micro-batch sizes (§1.5 — the 8-core bench ran the probe entries
    * ~2× faster than 32 cores, the fixed-cost signature). */
  private def bucketStats(df: DataFrame, bucketCol: String,
      keyCol: String): (Long, Array[(Int, Long, Long)]) = {
    val rows = df.groupBy(bucketCol)
      .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"),
        count(lit(1)).as("c"))
      .collect()
    (rows.map(_.getLong(3)).sum,
      rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1))
  }

  /** Per-bucket probe-key range predicate: (bucket, min key, max key)
    * of the batch's rows — a bounded collect, ≤ nPostBuckets rows by
    * construction — becomes one OR-of-conjunctions filter. The bucket
    * equalities prune PARTITIONS (each disjunct's partition conjunct
    * survives Catalyst's extraction); the BETWEEN terms reach parquet
    * as pushed filters, and because index files are sorted by the key
    * within each bucket partition, row-group min/max stats skip
    * everything outside the batch's ranges — data skipping with no
    * table format. An empty batch prunes the whole scan. */
  private def rangesToFilter(ranges: Array[(Int, Long, Long)],
      bucketCol: String, keyCol: String): Column =
    ranges.map { case (b, lo, hi) =>
      col(bucketCol) === lit(b) && col(keyCol).between(lit(lo), lit(hi))
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** Prefix row-filter at probe threshold `t` over positioned postings
    * — same 1e-9 ceil slack as [[ngramJaccardPairs]] (err toward a
    * longer prefix: extra candidates, never lost recall). */
  private def prefixRows(p: DataFrame, t: Double): DataFrame =
    p.filter(col("__pos") <=
      col("__n") - ceil(col("__n") * lit(t) - lit(1e-9)) + 1)

  /** Append new docs to a persisted posting index WITHOUT refreshing
    * statistics: the batch's postings are positioned under the FROZEN
    * (freq, sh) order (exactly the probe's own pipeline —
    * [[batchPostings]]), so rows land in their `sbucket`/`dbucket`
    * partitions fully consistent with every existing row and every
    * future probe. `_freq` is deliberately untouched: appended content
    * does not move the frozen order (a probe of old and new docs stays
    * one total order), at the stated cost that a shingle turning into
    * boilerplate POST-build keeps escaping the cap until the next
    * rebuild ([[ngramIndexPersist]] over the accumulated corpus — the
    * statistics-refresh cadence a production deployment schedules).
    * Caller contract: ids disjoint from indexed docs — typically a
    * batch's survivors.
    *
    * `epoch` ≥ 0 makes the append IDEMPOTENT, exactly as on the MinHash
    * twin [[nearDedupIndexAppend]]: rows land keyed by (bucket, epoch)
    * via dynamic partition overwrite, so a replay of the same epoch (a
    * streaming retry) replaces its own partitions instead of
    * double-appending — which previously emitted duplicate candidates
    * and wrong set sizes on retry (r10 verdict/ADVICE). The default −1
    * is a plain partitioned append into the base epoch (one-shot batch
    * maintenance, where the caller owns retry semantics). */
  def ngramIndexAppend(df: DataFrame, idCol: String, textCol: String,
      wh: graft.etl.Warehouse, layer: String, table: String,
      epoch: Long = -1L): Unit = {
    val meta = readNgramIndexMeta(df.sparkSession, wh, layer, table)
    val tracker = PersistTracker.live()
    try {
      val (postB, setsB) = batchPostings(df, idCol, textCol, wh, layer,
        table, meta, tracker)
      writeNgramIndexRows(
        postB.select("sh", "doc_id", "__pos", "__n", "sbucket"),
        setsB.withColumn("dbucket",
          pmod(col("doc_id"), lit(meta.nSetBuckets.toLong))),
        df.select(col(idCol).cast(LongType).as("doc_id"),
            col(textCol).as("text"))
          .join(setsB.select("doc_id"), Seq("doc_id"), "left_semi")
          .withColumn("dbucket",
            pmod(col("doc_id"), lit(meta.nSetBuckets.toLong))),
        wh, layer, table, epoch, meta)
    } finally tracker.unpersistAll()
  }

  /** The index-write half of [[ngramIndexAppend]]: `post` carries
    * `sbucket`, `sets` carries `dbucket`; epoch ≥ 0 → idempotent
    * dynamic partition overwrite, −1 → plain append into the base
    * epoch. Shared with the ingest loop, whose rows come from the keep
    * probe's cached frames instead of a recomputation. A Jaccard-only
    * index stores only the `t_min`-prefix posting rows, exactly as the
    * base build does; a texts-layout index stores `docsTexts`
    * ((doc_id, text, dbucket) — by-name, only evaluated then) in
    * `_sets` instead of the arrays, zstd-compressed as at build. */
  private def writeNgramIndexRows(post0: DataFrame, sets: DataFrame,
      docsTexts: => DataFrame,
      wh: graft.etl.Warehouse, layer: String, table: String,
      epoch: Long, meta: NgramMeta): Unit = {
    val post = if (meta.containment) post0 else prefixRows(post0, meta.tMin)
    val p = clusterFor(post.withColumn("epoch", lit(epoch)),
      "sbucket", "sh", "doc_id")
    val texts = meta.setsLayout == SetsLayoutTexts
    val setsRows = if (texts) docsTexts else sets
    val sOpts = if (texts) SetsTextsWriteOptions
                else Map.empty[String, String]
    val s = clusterFor(setsRows.withColumn("epoch", lit(epoch)),
      "dbucket", "doc_id")
    if (epoch >= 0L) overlapped(
      () => wh.overwritePartitionsDynamic(p, layer, s"${table}_post",
        Seq("sbucket", "epoch")),
      () => wh.overwritePartitionsDynamic(s, layer, s"${table}_sets",
        Seq("dbucket", "epoch"), sOpts))
    else overlapped(
      () => wh.appendPartitioned(p, layer, s"${table}_post",
        Seq("sbucket", "epoch")),
      () => wh.appendPartitioned(s, layer, s"${table}_sets",
        Seq("dbucket", "epoch"), sOpts))
  }

  /** Compact a persisted posting index in place — the
    * [[nearDedupIndexCompact]] twin for the prefix-filter family:
    * rewrites `_post`/`_sets` partition-preserving (atomic rebuild,
    * coalesced within partitions; probes row-identical before and
    * after), and `foldEpochsBelow` folds committed epoch sub-partitions
    * into the base epoch (−1) so directory count stays bounded across a
    * long-running ingest. The ingest loop passes its CURRENT epoch:
    * only the last uncommitted batch can replay under Structured
    * Streaming, and its partitions are never folded. `_freq` is not
    * rewritten — appends never touch it, so it has no small-file
    * accumulation to compact. */
  def ngramIndexCompact(spark: org.apache.spark.sql.SparkSession,
      wh: graft.etl.Warehouse, layer: String, table: String,
      foldEpochsBelow: Long = Long.MinValue): Unit = {
    // the meta read resumes a crashed group promotion before this
    // writes into the shared `._tmp` namespace — see
    // [[nearDedupIndexCompact]]; it also tells us whether `_sets`
    // holds texts (whose rewrite must keep the zstd codec — a snappy
    // compaction would silently grow the table 1.7×)
    val meta = readNgramIndexMeta(spark, wh, layer, table)
    def rewrite(t: String, partCol: String,
                options: Map[String, String], sortCols: String*): Unit =
      wh.rebuildPartitioned(
        clusterFor(wh.read(spark, layer, t)
          .withColumn("epoch",
            when(col("epoch") < lit(foldEpochsBelow), lit(-1L))
              .otherwise(col("epoch").cast(LongType))),
          partCol, sortCols: _*),
        layer, t, Seq(partCol, "epoch"), options)
    rewrite(s"${table}_post", "sbucket", Map.empty, "sh", "doc_id")
    rewrite(s"${table}_sets", "dbucket",
      if (meta.setsLayout == SetsLayoutTexts) SetsTextsWriteOptions
      else Map.empty,
      "doc_id")
    foldKeptSink(spark, wh, layer, table, foldEpochsBelow)
  }

  /** STALENESS SIGNAL for the frozen statistics — the posting-index
    * analog of [[Similarity.ivfPqDriftSignal]]: as the corpus drifts
    * from the build snapshot, a growing share of incoming shingle mass
    * is UNSEEN by the frozen dictionary (frequency 0 — always kept,
    * always "rarest"), which erodes both the boilerplate cap (new
    * boilerplate can never cap out) and the rare-first order's
    * selectivity (unseen mass crowds the prefixes). Returns one row:
    * (n_postings, n_unseen, unseen_frac, n_capped, capped_frac) for
    * the batch under the frozen dictionary — one batch-sized aggregate
    * with the same bucket-pruned map-side dictionary join as a probe.
    * At build time unseen_frac is 0 by definition, so the number IS
    * the drift. */
  def ngramIndexStaleness(batch: DataFrame, idCol: String,
      textCol: String, wh: graft.etl.Warehouse, layer: String,
      table: String,
      broadcastShingleLimit: Long = 2000000L): DataFrame = {
    val spark = batch.sparkSession
    val meta = readNgramIndexMeta(spark, wh, layer, table)
    val shB = shingledHashed(batch, idCol, textCol, meta.shingleK)
      .withColumn("sbucket",
        pmod(col("sh"), lit(meta.nPostBuckets.toLong)).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // same scan shape as a probe, by construction: the one shared
      // [[frozenFreqJoin]] — the staleness signal must measure through
      // exactly the dictionary join the probe runs
      val joined = frozenFreqJoin(shB, wh, layer, table,
        broadcastShingleLimit)
      joined.agg(
        count(lit(1)).as("n_postings"),
        sum(when(col("freq").isNull, 1L).otherwise(0L)).as("n_unseen"),
        (sum(when(col("freq").isNull, 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double")).as("unseen_frac"),
        sum(when(col("freq") > meta.maxFreq, 1L).otherwise(0L))
          .as("n_capped"),
        (sum(when(col("freq") > meta.maxFreq, 1L).otherwise(0L))
          .cast("double")
          / count(lit(1)).cast("double")).as("capped_frac"))
    } finally shB.unpersist()
  }

  /** Statistics-refresh policy around [[ngramIndexStaleness]]: if the
    * batch's unseen shingle-mass fraction exceeds `unseenThreshold`,
    * REBUILD the index over the accumulated corpus (the caller owns the
    * durable text — the index is its derivative), re-freezing
    * frequencies, cap, and order at the new snapshot; otherwise append
    * the batch through the frozen statistics ([[ngramIndexAppend]]).
    * Returns true when a rebuild happened — the IDF-dictionary refresh
    * cadence as a one-call policy. */
  def ngramRebuildIfStale(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, wh: graft.etl.Warehouse,
      layer: String, table: String,
      unseenThreshold: Double = 0.5): Boolean = {
    val row = ngramIndexStaleness(batch, idCol, textCol, wh, layer, table)
      .head()
    val frac = if (row.isNullAt(2)) 0.0 else row.getDouble(2)
    if (frac > unseenThreshold) {
      val m = readNgramIndexMeta(batch.sparkSession, wh, layer, table)
      // the rebuild preserves ALL layout flags: a Jaccard-only index
      // re-freezes as Jaccard-only at the same floor, and a texts-
      // layout `_sets` re-freezes as texts (an omitted setsAsTexts here
      // silently reverted the footprint win on first rebuild — r14
      // ADVICE, spec-pinned in PostingIndexSpec)
      ngramIndexPersist(corpus.unionByName(batch), idCol, textCol,
        wh, layer, table, m.shingleK, m.maxFreq, m.nPostBuckets,
        m.nSetBuckets, m.containment, m.tMin,
        setsAsTexts = m.setsLayout == SetsLayoutTexts)
      true
    } else {
      ngramIndexAppend(batch, idCol, textCol, wh, layer, table)
      false
    }
  }

  /** Incremental exact n-gram Jaccard: every pair a full
    * [[ngramJaccardPairs]] rebuild over corpus ∪ batch would emit that
    * touches a batch id — under the index's frozen statistics (see the
    * section comment) — without re-shingling the corpus. Batch↔corpus
    * candidates join the batch's prefix rows against the bucket-pruned
    * `_post` scan (both sides prefix-filtered, PPJoin positional bound);
    * batch↔batch candidates self-join the batch prefix. Both verify
    * exactly against the capped sets with [[joinVerify]]'s arithmetic
    * — bit-identical scores to a rebuild. Returns (id_a, id_b, jaccard)
    * with id_a < id_b. */
  def ngramJaccardIncrementPairs(batch: DataFrame, idCol: String,
      textCol: String, wh: graft.etl.Warehouse, layer: String,
      table: String, threshold: Double = 0.5,
      broadcastDocLimit: Long = 200000L,
      maxComponentShingles: Long = 1000000L,
      broadcastShingleLimit: Long = 2000000L): DataFrame = {
    val (cross, internal, _, _) = ngramIncrementParts(batch, idCol,
      textCol, wh, layer, table, threshold, broadcastDocLimit,
      maxComponentShingles, broadcastShingleLimit)
    internal.unionByName(cross
      .select(least(col("__cid"), col("__bid")).as("id_a"),
        greatest(col("__cid"), col("__bid")).as("id_b"), col("jaccard"))
      .distinct())
  }

  /** The shared probe body: (cross: __cid, __bid, jaccard — directed
    * corpus→batch; internal: id_a, id_b, jaccard — batch-internal,
    * id_a < id_b; plus the batch's persisted positioned postings and
    * set arrays, both per-doc under the FROZEN statistics, so the
    * ingest loop can derive its survivors' index rows as a row subset
    * — [[ngramIngestBatch]]). `excludeEpoch` drops that epoch's own
    * index rows from the `_post` and `_sets` scans — how a REPLAYED
    * streaming epoch recomputes against exactly the pre-epoch corpus
    * instead of matching its first attempt's survivors (same contract
    * as [[incrementCrossPairs]]). */
  private def ngramIncrementParts(batch: DataFrame, idCol: String,
      textCol: String, wh: graft.etl.Warehouse, layer: String,
      table: String, threshold: Double, broadcastDocLimit: Long,
      maxComponentShingles: Long, broadcastShingleLimit: Long,
      tracker: PersistTracker = PersistTracker.noop,
      excludeEpoch: Long = Long.MinValue)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val meta = readNgramIndexMeta(spark, wh, layer, table)
    require(meta.containment || threshold >= meta.tMin - 1e-12,
      s"Jaccard probe at threshold $threshold against a Jaccard-only " +
      s"index with prefix floor t_min=${meta.tMin}: stored postings " +
      "cannot guarantee recall below the floor — rebuild the index " +
      "with a lower tMinJaccard (or containment = true)")
    val nSetBuckets = meta.nSetBuckets
    label(batch, "ng-probe: batch postings")
    val (postB, setsB) = batchPostings(batch, idCol, textCol, wh, layer,
      table, meta, tracker, broadcastShingleLimit)
    val prefB = tracker.add(prefixRows(postB, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the `_post` scan prunes to exactly the partitions the batch's
    // prefixes hash into — and, below the broadcast limit, to the
    // batch's per-bucket key RANGES (row-group skipping over the
    // sh-sorted bucket files, as on the dictionary scan). One aggregate
    // job yields gate count + ranges (was two jobs — §1.5)
    val (nPref, prefRanges) = bucketStats(prefB, "sbucket", "sh")
    val small = nPref <= broadcastShingleLimit
    val postPrune =
      if (small) rangesToFilter(prefRanges, "sbucket", "sh")
      else if (prefRanges.isEmpty) lit(false)
      else col("sbucket").isin(prefRanges.map(r => Int.box(r._1)): _*)
    val postC = prefixRows(
      wh.read(spark, layer, s"${table}_post")
        .filter(postPrune && col("epoch") =!= lit(excludeEpoch)),
      threshold)
    def alpha = ceil((col("x.__n") + col("y.__n"))
      * lit(threshold / (1 + threshold)) - lit(1e-9))
    def posOk = least(col("x.__n") - col("x.__pos"),
      col("y.__n") - col("y.__pos")) + 1 >= alpha
    // a small batch BROADCASTS into the corpus-posting join: the pruned
    // `_post` scan streams map-side instead of shuffling millions of
    // corpus posting rows against a few thousand batch rows — the other
    // half of the small-batch floor (with the dictionary semi-join)
    val prefBr = if (small) broadcast(prefB) else prefB
    // snapshotted (scans `_post`) — see [[incrementCrossPairs]]' cross
    label(batch, "ng-probe: pruned postings join")
    val crossCands = tracker.snapshotted(
      postC.as("x").join(prefBr.as("y"), Seq("sh"))
      .filter(col("x.doc_id") =!= col("y.doc_id") && posOk)
      .select(col("x.doc_id").as("__cid"), col("y.doc_id").as("__bid"))
      .distinct())
    // bounded collect: ≤ nSetBuckets → `_sets` scan prunes to the
    // candidates' buckets; the same job carries the broadcast-gate
    // count (was a distinct-collect + a count — §1.5)
    val dbRows = crossCands
      .groupBy(pmod(col("__cid"), lit(nSetBuckets.toLong)).cast("int").as("db"))
      .agg(count(lit(1)).as("c")).collect()
    val dbs = dbRows.map(_.getInt(0)).sorted
    val nCands = dbRows.map(_.getLong(1)).sum
    label(batch, "ng-probe: corpus sets verify")
    val setsC = readCorpusSets(spark, wh, layer, table, meta,
      col("dbucket").isin(dbs.map(Int.box): _*) &&
        col("epoch") =!= lit(excludeEpoch),
      tracker)
    // candidate pairs broadcast into the corpus-sets join when small:
    // the alternative shuffles the fat set ARRAYS — the most expensive
    // bytes in the index — to co-locate with a few thousand pair rows
    val crossCandsB =
      if (nCands <= broadcastShingleLimit) broadcast(crossCands)
      else crossCands
    val cross = crossCandsB
      .join(setsC.select(col("doc_id").as("__cid"), col("set").as("set_a"),
        col("n").as("n_a")), "__cid")
      .join(setsB.select(col("doc_id").as("__bid"), col("set").as("set_b"),
        col("n").as("n_b")), "__bid")
      .withColumn("__i", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("__i").cast("double")
        / (col("n_a") + col("n_b") - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("__cid", "__bid", "jaccard")
    val selfCands = prefB.as("x").join(prefB.as("y"), Seq("sh"))
      .filter(col("x.doc_id") < col("y.doc_id") && posOk)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    val internal =
      if (setsB.count() <= broadcastDocLimit)
        joinVerify(selfCands, broadcast(setsB), broadcast(setsB), threshold)
      else
        verifyJaccardByComponent(selfCands, setsB, threshold,
          maxComponentShingles, useComponents = false)
    (cross, internal, postB, setsB)
  }

  /** Incremental exact-dedup KEEP — the ingest policy over the posting
    * index, the exact-family twin of [[nearDedupIncrementKeep]]: a
    * batch cluster (connected component of batch-internal verified
    * pairs) is dropped ENTIRELY if any member pairs with an indexed
    * corpus doc; otherwise its min-id member survives with the cluster
    * size. Docs with no pairs (including shingle-less ones) survive as
    * singletons. Same stated divergence from a full rebuild as the
    * MinHash twin: the corpus always wins. Returns
    * (doc_id, cluster_size). */
  def ngramJaccardIncrementKeep(batch: DataFrame, idCol: String,
      textCol: String, wh: graft.etl.Warehouse, layer: String,
      table: String, threshold: Double = 0.5,
      broadcastDocLimit: Long = 200000L,
      maxComponentShingles: Long = 1000000L,
      broadcastShingleLimit: Long = 2000000L): DataFrame =
    ngramJaccardIncrementKeepTracked(batch, idCol, textCol, wh, layer,
      table, threshold, broadcastDocLimit, maxComponentShingles,
      broadcastShingleLimit, PersistTracker.noop)

  /** [[ngramJaccardIncrementKeep]] with a persist tracker and an
    * own-epoch exclusion — the posting-index ingest loop's entry point,
    * mirroring [[nearDedupIncrementKeepTracked]]. */
  private[textops] def ngramJaccardIncrementKeepTracked(batch: DataFrame,
      idCol: String, textCol: String, wh: graft.etl.Warehouse,
      layer: String, table: String, threshold: Double,
      broadcastDocLimit: Long, maxComponentShingles: Long,
      broadcastShingleLimit: Long, tracker: PersistTracker,
      excludeEpoch: Long = Long.MinValue): DataFrame =
    ngramJaccardIncrementKeepParts(batch, idCol, textCol, wh, layer,
      table, threshold, broadcastDocLimit, maxComponentShingles,
      broadcastShingleLimit, tracker, excludeEpoch)._1

  /** [[ngramJaccardIncrementKeepTracked]] also returning the batch's
    * persisted postings/sets so the ingest loop can derive the
    * survivors' index rows as a row subset instead of re-shingling
    * them. */
  private def ngramJaccardIncrementKeepParts(batch: DataFrame,
      idCol: String, textCol: String, wh: graft.etl.Warehouse,
      layer: String, table: String, threshold: Double,
      broadcastDocLimit: Long, maxComponentShingles: Long,
      broadcastShingleLimit: Long, tracker: PersistTracker,
      excludeEpoch: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val (cross, internal, postB, setsB) = ngramIncrementParts(batch,
      idCol, textCol, wh, layer, table, threshold, broadcastDocLimit,
      maxComponentShingles, broadcastShingleLimit, tracker, excludeEpoch)
    val matched = cross.select(col("__bid").as(idCol)).distinct()
    // checkpoint-before-iteration, as every keep operator: the verify
    // plan must not be re-evaluated per contraction round
    val pairs = internal.select("id_a", "id_b").localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val comp = graft.operators.ConnectedComponents
      .componentsStarContraction(pairs, "id_a", "id_b")
      .select(col("id").as(idCol), col("comp"))
    val withComp = batch
      .select(col(idCol).cast(LongType).as(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("__comp"))
    val matchedComps = withComp.join(matched, Seq(idCol), "left_semi")
      .select("__comp").distinct()
    val kept = withComp.join(matchedComps, Seq("__comp"), "left_anti")
      .groupBy(col("__comp").as("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("cluster_size"))
    (kept, postB, setsB)
  }

  /** The streaming ingest LOOP for the POSTING index — the exact-family
    * twin of [[nearDedupIngestStream]], closing the r10 lifecycle
    * asymmetry between the two index families: each micro-batch
    * exact-dedups against the persisted posting index
    * ([[ngramJaccardIncrementKeep]], corpus wins), its survivors append
    * their postings and sets epoch-keyed (the write half of
    * [[ngramIndexAppend]], over the keep probe's cached per-doc rows —
    * survivors are a row subset, never re-shingled) and land in
    * `<table>_kept` — so batch N+1 dedups against everything batch N
    * kept, with zero recall loss (the exact family's reason to exist)
    * and without corpus-side recomputation.
    *
    * Delivery is effectively EXACTLY-ONCE over plain parquet, by the
    * same argument as the MinHash loop: every write is epoch-keyed
    * dynamic partition overwrite and the keep probe EXCLUDES its own
    * epoch's index rows, so a replayed epoch recomputes the identical
    * survivor set against the identical pre-epoch corpus
    * (kill-and-replay spec-enforced, PostingIndexSpec). `compactEvery`
    * folds committed epochs into the base partition on cadence
    * ([[ngramIndexCompact]]).
    *
    * `rebuildCheckEvery` > 0 additionally folds the FROZEN-STATISTICS
    * refresh policy into the loop: every that-many epochs, the batch's
    * unseen-shingle-mass fraction under the frozen dictionary
    * ([[ngramIndexStaleness]]) is measured AT EPOCH START, and past
    * `unseenThreshold` the index is REBUILT — re-freezing frequencies,
    * cap, and rare-first order — over `baseCorpus` ∪ the text of every
    * KEPT epoch other than the current one (read back from `_kept`,
    * which stores survivor text for exactly this purpose). Checking
    * before the keep, over a replay-invariant source, keeps the epoch
    * idempotent: a replayed epoch re-runs the identical rebuild (or
    * skips it — either way the index state its probe sees is
    * byte-identical to the first attempt's), then recomputes the same
    * survivors. The rebuild folds committed epochs into the base
    * partition, same forfeit as compaction. */
  def ngramIngestStream(batches: DataFrame, idCol: String,
      textCol: String, wh: graft.etl.Warehouse, layer: String,
      table: String, threshold: Double, checkpointDir: String,
      broadcastDocLimit: Long = 200000L,
      maxComponentShingles: Long = 1000000L,
      broadcastShingleLimit: Long = 2000000L,
      compactEvery: Int = 0, rebuildCheckEvery: Int = 0,
      unseenThreshold: Double = 0.5,
      baseCorpus: Option[DataFrame] = None,
      compactMinRatio: Double = 0.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       epoch: Long) =>
        ngramIngestBatch(b.toDF(), epoch, idCol, textCol, wh, layer,
          table, threshold, broadcastDocLimit, maxComponentShingles,
          broadcastShingleLimit, compactEvery, rebuildCheckEvery,
          unseenThreshold, baseCorpus, compactMinRatio)
        ()
      }
      .start()

  /** One epoch of the posting-index ingest loop — extracted so
    * kill-and-replay and the mid-stream rebuild are directly testable.
    * Returns the epoch's kept-doc count from the checkpointed frame
    * (never read back from the sink — an all-dropped epoch writes no
    * partition). See [[ngramIngestStream]] for the exactly-once and
    * statistics-refresh arguments. */
  private[textops] def ngramIngestBatch(b: DataFrame, epoch: Long,
      idCol: String, textCol: String, wh: graft.etl.Warehouse,
      layer: String, table: String, threshold: Double,
      broadcastDocLimit: Long = 200000L,
      maxComponentShingles: Long = 1000000L,
      broadcastShingleLimit: Long = 2000000L,
      compactEvery: Int = 0, rebuildCheckEvery: Int = 0,
      unseenThreshold: Double = 0.5,
      baseCorpus: Option[DataFrame] = None,
      compactMinRatio: Double = 0.0): Long = {
    val spark = b.sparkSession
    val tracker = PersistTracker.live()
    val batch = b.select(col(idCol).cast(LongType).as(idCol),
      col(textCol)).persist()
    try {
      if (rebuildCheckEvery > 0 && epoch > 0 &&
          epoch % rebuildCheckEvery == 0) {
        val row = ngramIndexStaleness(batch, idCol, textCol, wh, layer,
          table, broadcastShingleLimit).head()
        val frac = if (row.isNullAt(2)) 0.0 else row.getDouble(2)
        if (frac > unseenThreshold) {
          // rebuild source = base corpus ∪ kept survivors of COMMITTED
          // epochs: excluding the current epoch makes the source — and
          // with it the rebuilt index — replay-invariant, so a replayed
          // epoch probes byte-identical statistics
          val keptPrev =
            if (wh.exists(layer, s"${table}_kept"))
              Some(wh.read(spark, layer, s"${table}_kept")
                .filter(col("epoch") =!= lit(epoch))
                .select(col(idCol), col(textCol)))
            else None
          val src = (baseCorpus.map(_.select(col(idCol), col(textCol)))
            .toSeq ++ keptPrev.toSeq)
            .reduceOption(_ unionByName _)
          src.foreach { corpus =>
            val m = readNgramIndexMeta(spark, wh, layer, table)
            // the re-freeze preserves ALL layout flags (a Jaccard-only
            // index stays Jaccard-only at its floor; a texts-layout
            // `_sets` stays texts — r14 ADVICE) and lands as one
            // marker-gated staged-group swap — atomic under a crash at
            // any point between table promotions (r11 ADVICE)
            ngramIndexPersist(corpus, idCol, textCol, wh, layer, table,
              m.shingleK, m.maxFreq, m.nPostBuckets, m.nSetBuckets,
              m.containment, m.tMin,
              setsAsTexts = m.setsLayout == SetsLayoutTexts)
          }
        }
      }
      val (kept, postB, setsB) = ngramJaccardIncrementKeepParts(batch,
        idCol, textCol, wh, layer, table, threshold, broadcastDocLimit,
        maxComponentShingles, broadcastShingleLimit, tracker,
        excludeEpoch = epoch)
      // eager checkpoint BEFORE the first index mutation — the same
      // freeze-the-survivors discipline as [[nearDedupIngestBatch]]
      label(batch, "ng-ingest: survivor rows + index append")
      val keptDocs = batch
        .join(kept.withColumnRenamed("doc_id", idCol), idCol)
        .localCheckpoint(true)
      // the survivors' index rows are a ROW SUBSET of the probe's
      // cached postings/sets (per-doc under the frozen statistics) —
      // filter by survivor id instead of re-shingling and re-positioning
      // the survivors; writes run before the tracker releases so the
      // subset comes from the cached frames
      val meta = readNgramIndexMeta(spark, wh, layer, table)
      // count-gated broadcast, as on the MinHash twin (r11 ADVICE);
      // one count job serves the gate and the return value (§1.5)
      val nKept = keptDocs.count()
      val keptIds0 = keptDocs.select(col(idCol).as("doc_id"))
      val keptIds =
        if (nKept <= KeptIdsBroadcastLimit) broadcast(keptIds0) else keptIds0
      writeNgramIndexRows(
        postB.join(keptIds, Seq("doc_id"), "left_semi")
          .select("sh", "doc_id", "__pos", "__n", "sbucket"),
        setsB.join(keptIds, Seq("doc_id"), "left_semi")
          .withColumn("dbucket",
            pmod(col("doc_id"), lit(meta.nSetBuckets.toLong))),
        keptDocs.select(col(idCol).cast(LongType).as("doc_id"),
            col(textCol).as("text"))
          .join(setsB.select("doc_id"), Seq("doc_id"), "left_semi")
          .withColumn("dbucket",
            pmod(col("doc_id"), lit(meta.nSetBuckets.toLong))),
        wh, layer, table, epoch, meta)
      tracker.unpersistAll()
      // epoch = data, pepoch = fold-able partition key ([[foldKeptSink]])
      migratePepochLayout(spark, wh, layer, s"${table}_kept")
      wh.overwritePartitionsDynamic(
        keptDocs.withColumn("epoch", lit(epoch))
          .withColumn("pepoch", lit(epoch)),
        layer, s"${table}_kept", Seq("pepoch"))
      if (compactEvery > 0 && epoch > 0 && epoch % compactEvery == 0)
        ngramIndexCompact(spark, wh, layer, table, foldEpochsBelow = epoch)
      else if (compactMinRatio > 0.0 && epoch > 0)
        ngramIndexCompactIfDue(spark, wh, layer, table, epoch,
          compactMinRatio)
      nKept
    } finally {
      tracker.unpersistAll()
      batch.unpersist()
    }
  }

  /** Incremental directed containment — the [[containmentPairs]] twin
    * of [[ngramJaccardIncrementPairs]]: every C(src→dst) ≥ t pair a
    * full rebuild over corpus ∪ batch would emit that touches a batch
    * id, under frozen statistics. Three candidate joins, each
    * prefix-on-the-SOURCE side only (containment's asymmetric filter):
    * batch-src × corpus full postings, corpus-prefix × batch full
    * postings, batch-prefix × batch full postings — the full corpus
    * postings come from the same `_post` table the Jaccard probe
    * prefix-filters, which is why the index stores them whole. */
  def containmentIncrementPairs(batch: DataFrame, idCol: String,
      textCol: String, wh: graft.etl.Warehouse, layer: String,
      table: String, threshold: Double = 0.8,
      broadcastShingleLimit: Long = 2000000L,
      excludeEpoch: Long = Long.MinValue): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val meta = readNgramIndexMeta(spark, wh, layer, table)
    require(meta.containment,
      s"containment probe against a Jaccard-only index (prefix floor " +
      s"t_min=${meta.tMin}): destination-side postings were not stored " +
      "— rebuild the index with containment = true")
    val nSetBuckets = meta.nSetBuckets
    val (postB, setsB) = batchPostings(batch, idCol, textCol, wh, layer,
      table, meta, PersistTracker.noop, broadcastShingleLimit)
    // a small batch broadcasts into every corpus-posting join (see
    // [[ngramJaccardIncrementPairs]]); one aggregate job yields the
    // gate count AND the pruning ranges (was two jobs — §1.5)
    val (nPost, postRanges) = bucketStats(postB, "sbucket", "sh")
    val bSmall = nPost <= broadcastShingleLimit
    def maybeB(df: DataFrame): DataFrame = if (bSmall) broadcast(df) else df
    val prefB = prefixRows(postB, threshold)
    // the batch's FULL buckets bound every corpus-side scan (a corpus
    // posting can only candidate-match through a shingle the batch
    // has); small batches add per-bucket key ranges — row-group
    // skipping over the sh-sorted bucket files
    val postPrune =
      if (bSmall) rangesToFilter(postRanges, "sbucket", "sh")
      else if (postRanges.isEmpty) lit(false)
      else col("sbucket").isin(postRanges.map(r => Int.box(r._1)): _*)
    val postC = wh.read(spark, layer, s"${table}_post")
      .filter(postPrune && col("epoch") =!= lit(excludeEpoch))
    val prefC = prefixRows(postC, threshold)
    // directed positional bound, exactly [[containmentPairs]]': overlap
    // from a shared shingle at (pos_s, pos_d) is ≤ min(n_s−pos_s,
    // n_d−pos_d)+1 and must reach ⌈t·n_s⌉
    def posOk = least(col("x.__n") - col("x.__pos"),
      col("y.__n") - col("y.__pos")) + 1 >=
      ceil(col("x.__n") * lit(threshold) - lit(1e-9))
    def cands(src: DataFrame, dst: DataFrame): DataFrame =
      src.as("x").join(dst.as("y"), Seq("sh"))
        .filter(col("x.doc_id") =!= col("y.doc_id") && posOk)
        .select(col("x.doc_id").as("id_src"), col("y.doc_id").as("id_dst"))
    // eager localCheckpoint, not persist: this one-shot probe scans
    // `_post`, and a cache entry nobody releases outlives compaction
    // swaps (root-path aliasing — see [[incrementCrossPairs]]' cross);
    // the snapshot also stops the three downstream consumers (the dbs
    // collect + both set joins) re-evaluating the candidate join
    val all = (cands(maybeB(prefB), postC)         // batch → corpus
      .unionByName(cands(prefC, maybeB(postB)))    // corpus → batch
      .unionByName(cands(prefB, postB))            // batch → batch
      .distinct())
      .localCheckpoint(true)
    val dbs = all
      .select(pmod(col("id_src"), lit(nSetBuckets.toLong)).cast("int").as("d"))
      .unionByName(all.select(
        pmod(col("id_dst"), lit(nSetBuckets.toLong)).cast("int").as("d")))
      .distinct().as[Int].collect().sorted
    val setsC = readCorpusSets(spark, wh, layer, table, meta,
      col("dbucket").isin(dbs.map(Int.box): _*) &&
        col("epoch") =!= lit(excludeEpoch),
      PersistTracker.noop)
    // either endpoint may be corpus or batch: resolve each side against
    // the union of the pruned corpus sets and the batch sets
    val sets = setsC.unionByName(setsB)
    all
      .join(sets.select(col("doc_id").as("id_src"), col("set").as("set_s"),
        col("n").as("n_s")), "id_src")
      .join(sets.select(col("doc_id").as("id_dst"),
        col("set").as("set_d")), "id_dst")
      .withColumn("containment",
        size(array_intersect(col("set_s"), col("set_d"))).cast("double")
          / col("n_s").cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_src", "id_dst", "containment")
      .distinct()
  }

  /** Exact-duplicate collapse — the stage every production near-dup
    * pipeline runs FIRST (a 100-TB crawl's dominant redundancy is exact
    * boilerplate copies). Partitions the corpus into identical-
    * normalized-text classes; the expensive candidate machinery then
    * runs over one REPRESENTATIVE per class, and pairs expand back to
    * members afterward ([[expandPairs]]). Without this, k exact copies
    * of a document put C(k,2) pairs × their whole shared prefix through
    * the candidate join — the 100× probe's 2.5-billion-row cliff; with
    * it the same corpus costs one class. Semantics are EXACT, not
    * approximate: identical texts have identical shingle sets, so every
    * intra-class pair scores exactly 1.0 ≥ any threshold, and every
    * cross-class member pair scores what its reps score.
    *
    * Returns (reps: idCol, textCol, __csize; members: __rep, __mid) —
    * ids as Long, rep = min member id, one corpus-wide exchange each.
    */
  private def collapseExact(df: DataFrame, idCol: String, textCol: String,
      tracker: PersistTracker = PersistTracker.noop)
      : (DataFrame, DataFrame) = {
    val w = Window.partitionBy(normText(col(textCol)))
    val tagged = df
      .select(col(idCol).cast(LongType).as("__mid"), col(textCol))
      .withColumn("__rep", min(col("__mid")).over(w))
      .withColumn("__csize", count(lit(1)).over(w))
    val members = tracker.add(tagged.select(col("__rep"), col("__mid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // NOTE (r15 A/B): reps is consumed twice downstream, but pinning it
    // measured 1.04-1.10x SLOWER across the d_* family at bench SF —
    // the text column is fat and the duplicated window pass is cheaper
    // than materializing it. Left unpinned deliberately.
    val reps = tagged.filter(col("__mid") === col("__rep"))
      .select(col("__mid").as(idCol), col(textCol), col("__csize"))
    (reps, members)
  }

  /** Expand rep-level pairs to member level. Intra-class pairs carry
    * score exactly 1.0 (identical sets) and are emitted only for
    * classes with a non-empty index (`nonEmptyDocs`) — a class whose
    * text yields no (surviving) shingles produces no pairs in the
    * uncollapsed plan either. Cross-class pairs inherit the rep score;
    * undirected output re-orders each member pair least/greatest to
    * keep the id_a < id_b convention. Both joins are output-sized. */
  private def expandPairs(repPairs: DataFrame, members: DataFrame,
                          nonEmptyDocs: DataFrame, scoreCol: String,
                          directed: Boolean): DataFrame = {
    val (aCol, bCol) =
      if (directed) ("id_src", "id_dst") else ("id_a", "id_b")
    val live = members.join(
      nonEmptyDocs.select(col("doc_id").as("__rep")), Seq("__rep"), "left_semi")
    val intra = live.select(col("__rep"), col("__mid").as("__a"))
      .join(live.select(col("__rep"), col("__mid").as("__b")), "__rep")
      .filter(if (directed) col("__a") =!= col("__b")
              else col("__a") < col("__b"))
      .select(col("__a").as(aCol), col("__b").as(bCol),
        lit(1.0).as(scoreCol))
    val cross = repPairs
      .join(members.select(col("__rep").as(aCol), col("__mid").as("__a")), aCol)
      .join(members.select(col("__rep").as(bCol), col("__mid").as("__b")), bCol)
    val crossOut =
      if (directed)
        cross.select(col("__a").as(aCol), col("__b").as(bCol), col(scoreCol))
      else
        cross.select(least(col("__a"), col("__b")).as(aCol),
          greatest(col("__a"), col("__b")).as(bCol), col(scoreCol))
    intra.unionByName(crossOut)
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs (dupes
    * allowed) against the shingle index. The per-doc shingle-array table
    * is one row per doc (~8·|d| bytes), so for corpora up to
    * `broadcastDocLimit` docs it broadcasts: candidates stream past it
    * map-side, each pair costs one codegen'd array_intersect, survivors
    * (true near-dups — few by definition) dedupe at the end. That keeps
    * the heavy candidate stream out of any array-payload shuffle — the
    * difference between a 1.6 GB and a 16 GB exchange at 50k docs / 40M
    * candidates. Beyond the limit it falls back to dedupe-first + shuffle
    * joins (arrays move once per *distinct* pair).
    *
    * NOTE: choosing the strategy takes a `sets.count()` — so the verified
    * dedup operators MATERIALIZE the shingle pipeline when the plan is
    * built (an AQE-style runtime statistic), and they pin their index
    * DataFrames MEMORY_AND_DISK for the session (LRU-evictable; batch
    * callers scoring many corpora should spark.catalog.clearCache()). */
  private def verifyJaccard(cands: DataFrame, sh: DataFrame, threshold: Double,
                            broadcastDocLimit: Long,
                            tracker: PersistTracker)
      : DataFrame = {
    val sets = tracker.add(sh.groupBy("doc_id")
      .agg(collect_list(col("sh")).as("set"), count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    if (sets.count() <= broadcastDocLimit)
      joinVerify(cands, broadcast(sets), broadcast(sets), threshold)
    else
      verifyJaccardByComponent(cands, sets, threshold, tracker = tracker)
  }

  /** Pair-at-a-time exact verification: each candidate row joins both
    * endpoint sets and scores one `array_intersect`. With broadcast
    * sides this is map-side and cheap; with shuffled sides every pair
    * drags an array payload through an exchange — which is why the
    * large-corpus path below only uses it for oversized components. */
  private def joinVerify(pairs: DataFrame, setsA: DataFrame,
                         setsB: DataFrame, threshold: Double): DataFrame =
    pairs
      .join(setsA.select(col("doc_id").as("id_a"), col("set").as("set_a"),
        col("n").as("n_a")), "id_a")
      .join(setsB.select(col("doc_id").as("id_b"), col("set").as("set_b"),
        col("n").as("n_b")), "id_b")
      .withColumn("__i", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("__i").cast("double")
        / (col("n_a") + col("n_b") - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .distinct()

  /** Component+block-grouped exact verification — the
    * >broadcastDocLimit path. The r7 probe showed the pair-join form's
    * cost is NOT the intersections but the exchange hauling a ~4 KB set
    * array once per PAIR (~27 GB at 250k docs): near-dup candidates are
    * cliques-ish, so the same arrays ship over and over. Grouping by
    * connected component of the CANDIDATE GRAPH (star contraction,
    * O(log) rounds over 16-byte edges) lets every doc's set move ONCE
    * into its component's task, where a sorted-merge intersect scores
    * all of the component's pairs locally: exchange volume drops from
    * O(pairs·|set|) to O(docs·|set|) — input-sized.
    *
    * Components whose shingle mass exceeds `maxComponentShingles`
    * (~8 MB of longs at the default — a boilerplate cluster or a
    * banding/organic-edge chain, like the r8 ngram probe's 241k-doc
    * component) do NOT fall back to the pair-join: grouping needs
    * CO-LOCATION, not connectivity, so any partition of the pair list
    * is semantically valid as long as each group ships the sets of its
    * own pairs' endpoints. Oversized components therefore SUBDIVIDE by
    * id-range blocks of the left endpoint. Near-dup cluster members
    * have correlated ids in practice (versions and re-crawls land near
    * each other — and every replication-style probe's construction),
    * so id-range blocks keep cluster locality where a hash would
    * scatter it; the worst case (uncorrelated ids inside an oversized
    * component) degrades to ≤ pair-level shipping on the right
    * endpoint only — the old fallback's cost floor — never a single
    * fat task.
    *
    * Grouping is a compute partition, not a semantic one: each listed
    * pair is scored exactly once (its group is a function of the
    * pair), with the same intersect/size arithmetic as the broadcast
    * path (one IEEE division), so output is row-identical to
    * [[joinVerify]] / [[containmentJoinVerify]] (spec-enforced).
    *
    * `useComponents = false` skips the candidate-graph clustering
    * entirely and keys EVERY pair by its left-endpoint id-range block —
    * the right mode when the candidate graph is known to chain (the
    * prefix-filter family): see the block comment inside. */
  private def groupedPairVerify(cands: DataFrame, sets: DataFrame,
      aCol: String, bCol: String, directed: Boolean, threshold: Double,
      outCol: String, maxComponentShingles: Long,
      useComponents: Boolean,
      tracker: PersistTracker = PersistTracker.noop): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val pairs = tracker.add(cands.distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // bounded stats over the already-materialized sets index: average
    // set size prices the id-range width so a block's LEFT-endpoint
    // mass lands near maxComponentShingles — but the width is ALSO
    // capped so oversized mass splits into at least ~4 blocks per core
    // (the r9 probe's lesson: mass-only sizing cut a 241k-doc component
    // into 14 blocks and starved 32 cores; blocks are nearly free to
    // multiply, since cluster ids are correlated and a clique's sets
    // stay within its own block either way)
    val stats = sets.agg(coalesce(sum(col("n")), lit(0L)),
      count(lit(1))).head()
    val avgN = math.max(1L, stats.getLong(0) / math.max(1L, stats.getLong(1)))
    val range = pairs.agg(min(col(aCol)), max(col(aCol))).head()
    val idSpan =
      if (range.isNullAt(0)) 1L else range.getLong(1) - range.getLong(0) + 1L
    val parBlocks = spark.sessionState.conf.numShufflePartitions * 4L
    val idsPerBlock = math.max(1L, math.min(maxComponentShingles / avgN,
      (idSpan + parBlocks - 1L) / parBlocks))
    def blockOf(c: String): Column =
      lit(-1L) - expr(s"CAST($c AS BIGINT) div ${idsPerBlock}L")
    val (keyed, setsG) = if (useComponents) {
      val comp = tracker.add(graft.operators.ConnectedComponents
        .componentsStarContraction(pairs, aCol, bCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val setsC = sets.join(comp.select(col("id").as("doc_id"), col("comp")),
        "doc_id")
      val big = tracker.add(setsC.groupBy("comp").agg(sum(col("n")).as("__tot"))
        .filter(col("__tot") > maxComponentShingles)
        .select("comp")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // group key: the component for right-sized components; an id-range
      // block of the LEFT endpoint inside oversized ones. Block keys sit
      // below -1 so they cannot collide with component keys (a component
      // id is a min member id, ≥ 0 for every corpus here); a collision
      // would only merge two groups — still correct, just lumpier tasks.
      val gkey = when(col("__big").isNotNull, blockOf(aCol))
        .otherwise(col("comp"))
      val k = tracker.add(pairs
        .join(comp.select(col("id").as(aCol), col("comp")), aCol)
        .join(big.withColumn("__big", lit(true)), Seq("comp"), "left")
        .select(gkey.as("__g"), col(aCol), col(bCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // each group needs exactly its own pairs' endpoint sets: a left
      // endpoint ships once (its block is fixed by its id), a right
      // endpoint once per distinct group its partners pull it into
      val need = k.select(col("__g"), col(aCol).as("doc_id"))
        .unionByName(k.select(col("__g"), col(bCol).as("doc_id")))
        .distinct()
      (k, sets.join(need, "doc_id").select("__g", "doc_id", "set"))
    } else {
      // BLOCK-ONLY grouping — the prefix-filter family's path. Its
      // candidate graphs chain into one giant component through organic
      // sub-threshold co-occurrences (measured at 250k distinct docs:
      // 297M candidate pairs, 6.8M true — one 241k-doc component), so
      // star contraction is O(log) ROUNDS of shuffle over the full
      // candidate edge set that buys nothing. Blocks need no graph at
      // all: the group key is a projection of the left id, left sets
      // map straight to their own block (no join), and only right
      // endpoints take a distinct — the candidate stream crosses the
      // wire twice total (dedup + cogroup) instead of CC-rounds + 4.
      val k = pairs.select(blockOf(aCol).as("__g"), col(aCol), col(bCol))
      // right endpoints outside their partner's block ship per distinct
      // (group, id); a right endpoint inside its own block is already
      // covered by the left mapping
      val needR = k.filter(col("__g") =!= blockOf(bCol))
        .select(col("__g"), col(bCol).as("doc_id"))
        .distinct()
      val setsLeft = sets.select(blockOf("doc_id").as("__g"),
        col("doc_id"), col("set"))
      val setsAll = setsLeft.unionByName(
        sets.join(needR, "doc_id").select("__g", "doc_id", "set"))
      (k, setsAll)
    }
    val pk = keyed.as[(Long, Long, Long)].groupByKey(_._1)
    val sk = setsG.select(col("__g"), col("doc_id"), col("set"))
      .as[(Long, Long, Array[Long])].groupByKey(_._1)
    pk.cogroup(sk) { case (_, ps, ss) =>
      val m = new java.util.HashMap[Long, Array[Long]]()
      ss.foreach { case (_, id, set) =>
        java.util.Arrays.sort(set); m.put(id, set)
      }
      ps.flatMap { case (_, a, b) =>
        val sa = m.get(a); val sb = m.get(b)
        // a candidate may reference a doc with no row in `sets` (no
        // surviving shingles): the broadcast path's inner joins drop
        // such pairs, so skip — never NPE — to match exactly
        if (sa == null || sb == null) Iterator.empty
        else {
          var i = 0; var j = 0; var c = 0
          while (i < sa.length && j < sb.length) {
            if (sa(i) < sb(j)) i += 1
            else if (sa(i) > sb(j)) j += 1
            else { c += 1; i += 1; j += 1 }
          }
          // same arithmetic as the broadcast verifiers: int sizes →
          // double, one IEEE division (by the union for Jaccard, by
          // |src| for containment)
          val score =
            if (directed) c.toDouble / sa.length.toDouble
            else c.toDouble / (sa.length + sb.length - c).toDouble
          if (score >= threshold) Iterator.single((a, b, score))
          else Iterator.empty
        }
      }
    }.toDF(aCol, bCol, outCol)
  }

  private[textops] def verifyJaccardByComponent(cands: DataFrame, sets: DataFrame,
      threshold: Double, maxComponentShingles: Long = 1000000L,
      useComponents: Boolean = true,
      tracker: PersistTracker = PersistTracker.noop): DataFrame =
    groupedPairVerify(cands, sets, "id_a", "id_b", directed = false,
      threshold, "jaccard", maxComponentShingles, useComponents, tracker)

  /** Exact n-gram Jaccard pairs via an AllPairs-style prefix-filtered
    * inverted index (Bayardo, Ma & Srikant, "Scaling Up All Pairs
    * Similarity Search", WWW'07).
    *
    * Under a global shingle order (ascending document frequency, then
    * hash), any pair with Jaccard ≥ t must share a shingle inside both
    * docs' first |d| − ⌈t·|d|⌉ + 1 shingles — so only those prefixes are
    * indexed for the self-join, and the quadratic bucket cost runs over
    * the rarest fraction of postings with zero recall loss. Candidates
    * are then verified exactly against the full sets ([[verifyJaccard]]).
    *
    * `maxShingleFreq` additionally drops shingles present in more than
    * that many docs — the guard against boilerplate shingles (at 100 TB a
    * stopword shingle would otherwise pair everything); sizes are computed
    * from the same capped index so exact duplicates still score 1.0.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, threshold: Double = 0.5,
                        maxShingleFreq: Int = 1000,
                        broadcastDocLimit: Long = 200000L,
                        maxComponentShingles: Long = 1000000L): DataFrame = {
    val (repPairs, members, live) = ngramVerifiedParts(df, idCol, textCol,
      shingleK, threshold, maxShingleFreq, broadcastDocLimit,
      maxComponentShingles)
    expandPairs(repPairs, members, live, "jaccard", directed = false)
  }

  /** Corpus → KEPT corpus dedup over the EXACT prefix-filter pipeline —
    * the zero-recall-loss twin of [[nearDedupKeep]] (same keep policy,
    * [[keepFromParts]]; the pair base is [[ngramJaccardPairs]]' exact
    * candidates instead of banding-verified ones). The batch-build
    * stage of an exact-family curation pipeline
    * ([[CurationStream]] with the exact family). Returns
    * (doc_id, cluster_size); semantics match the transitive closure of
    * [[ngramJaccardPairs]]' pair set (the DuckDB oracle replays that
    * closure), shingle-less docs survive as singletons. */
  def ngramJaccardKeep(df: DataFrame, idCol: String, textCol: String,
                       shingleK: Int = 3, threshold: Double = 0.5,
                       maxShingleFreq: Int = 1000,
                       broadcastDocLimit: Long = 200000L,
                       maxComponentShingles: Long = 1000000L): DataFrame = {
    val (repPairs, members, live) = ngramVerifiedParts(df, idCol, textCol,
      shingleK, threshold, maxShingleFreq, broadcastDocLimit,
      maxComponentShingles)
    keepFromParts(repPairs, members, live)
  }

  /** Dedup-quality cross-validation over ONE shared scan: the verified
    * MinHash+LSH pair set against the exact prefix-filter Jaccard join
    * at the same threshold, both pipelines fed by a single
    * exact-collapse + shingle stage (the r13 plan audit's finding: the
    * composed `d_dedup_recall_eval` entry re-shingled the same docs
    * twice — the second-most-expensive entry in the suite, ~30–40% of
    * it the duplicated stage). Semantics are EXACTLY composing
    * [[minhashLshVerified]] and [[ngramJaccardPairs]] with the same
    * arguments — both pipelines' first two stages are identical by
    * construction, so sharing them cannot change either pair set.
    * Returns (nExact, nCommon): the exact pair count and the size of
    * the intersection with the sketch pairs — recall = nCommon/nExact.
    * Eager (it must manage the shared frame's persist lifecycle). */
  def dedupRecallCounts(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, numHashes: Int = 32,
                        bands: Int = 16, threshold: Double = 0.5,
                        maxShingleFreq: Int = 1000,
                        broadcastDocLimit: Long = 200000L,
                        maxComponentShingles: Long = 1000000L): (Long, Long) = {
    val tracker = PersistTracker.live()
    try {
      val (reps, members) = collapseExact(df, idCol, textCol, tracker)
      val sh = tracker.add(shingledHashed(reps, idCol, textCol, shingleK)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val (mhRep, mhMem, mhLive) = minhashVerifiedFromShingles(sh, members,
        numHashes, bands, threshold, broadcastDocLimit, tracker)
      val mh = expandPairs(mhRep, mhMem, mhLive, "jaccard",
        directed = false).select("id_a", "id_b")
      val csize = reps.select(col(idCol).cast(LongType).as("doc_id"),
        col("__csize"))
      val (exRep, exMem, exLive) = ngramVerifiedFromShingles(
        sh.join(csize, "doc_id"), members, threshold, maxShingleFreq,
        broadcastDocLimit, maxComponentShingles)
      val exact = expandPairs(exRep, exMem, exLive, "jaccard",
        directed = false).select("id_a", "id_b")
      // ONE aggregate job computes both counts (was: materialize-and-
      // count the exact pairs, then a second full job joining the mh
      // pipeline against the persisted frame — §1.5; this entry's
      // 8-core/32-core ratio was 0.56, the fixed-cost signature).
      // Sound because both pair sets are duplicate-free by
      // construction (expandPairs: intra and cross pairs are disjoint,
      // a member pair maps to exactly one rep pair, verify ends in
      // distinct()), so the left join preserves exact's row count and
      // count(__m) is exactly the inner-join count the oracle replays.
      val r = exact
        .join(mh.withColumn("__m", lit(1)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("__m")).as("n_common"))
        .head()
      (r.getLong(0), r.getLong(1))
    } finally tracker.unpersistAll()
  }

  /** The rep-level core of [[ngramJaccardPairs]] — exact-dup collapse,
    * capped/positioned index, prefix+positional candidates, exact
    * verification — everything up to (but not including) the member
    * expansion; the prefix-filter analog of [[minhashVerifiedParts]].
    * Returns (repPairs (id_a, id_b, jaccard); members (__rep, __mid);
    * live (doc_id) — reps with ≥1 surviving shingle). */
  private def ngramVerifiedParts(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, threshold: Double,
      maxShingleFreq: Int, broadcastDocLimit: Long,
      maxComponentShingles: Long): (DataFrame, DataFrame, DataFrame) = {
    // exact-duplicate classes first ([[collapseExact]]): the index and
    // the quadratic candidate join see one representative per distinct
    // text; member pairs are rebuilt at the end. __csize rides along so
    // shingle DOC frequency still counts members — the cap keeps its
    // original semantics exactly.
    val (reps, members) = collapseExact(df, idCol, textCol)
    val csize = reps.select(col(idCol).cast(LongType).as("doc_id"),
      col("__csize"))
    // sh has exactly one consumer (capped) — persisting it would only
    // force an extra materialization; capped is the reused index.
    val sh = shingledHashed(reps, idCol, textCol, shingleK).join(csize, "doc_id")
    ngramVerifiedFromShingles(sh, members, threshold, maxShingleFreq,
      broadcastDocLimit, maxComponentShingles)
  }

  /** [[ngramVerifiedParts]] from a precomputed shingle frame (already
    * joined with each rep's `__csize`) — the exact-pipeline half of the
    * shared-stage split; see [[minhashVerifiedFromShingles]]. */
  private def ngramVerifiedFromShingles(sh: DataFrame, members: DataFrame,
      threshold: Double, maxShingleFreq: Int, broadcastDocLimit: Long,
      maxComponentShingles: Long): (DataFrame, DataFrame, DataFrame) = {
    // global frequency + cap as ONE window count over the sh partition:
    // a single exchange of the posting stream, where a groupBy+join pair
    // would shuffle the big side twice (once into the aggregate, once as
    // the probe).
    val capped = sh
      .withColumn("freq", sum(col("__csize")).over(Window.partitionBy("sh")))
      .filter(col("freq") <= maxShingleFreq)
      .select("doc_id", "sh", "freq")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // __pos and __n share one sorted window (same partition + ordering,
    // whole-partition frame for the count) → a single WindowExec pass
    val rareFirst = Window.partitionBy("doc_id").orderBy("freq", "sh")
    val indexed = capped
      .withColumn("__pos", row_number().over(rareFirst))
      .withColumn("__n", count(lit(1)).over(
        rareFirst.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // ceil over a FP product can round UP past the exact ⌈t·n⌉ (e.g.
    // 500·0.87 = 435.00000000000006) which would SHORTEN the prefix and
    // lose recall; the 1e-9 slack errs toward a one-longer prefix (extra
    // candidates, never missed pairs).
    val prefix = indexed.filter(
      col("__pos") <= col("__n") - ceil(col("__n") * lit(threshold) - lit(1e-9)) + 1)
    // raw co-occurrence rows go straight to verification — dedup happens
    // on the survivor side (see verifyJaccard), not on the 10×-larger
    // candidate stream. The PPJoin positional filter (Xiao et al.,
    // WWW'08) drops occurrences that cannot certify a qualifying pair:
    // all common shingles lie in the suffixes from this occurrence on,
    // so min(suffix_x, suffix_y)+1 must reach the Jaccard overlap bound
    // α = ⌈t/(1+t)·(n_x+n_y)⌉. A true pair's FIRST common shingle always
    // passes (its suffixes contain the whole overlap), so recall is
    // untouched while typical low-similarity co-occurrences die here,
    // before the verify join. (Same 1e-9 slack: err toward keeping.)
    def pairwiseCands(p: DataFrame): DataFrame = {
      val alpha = ceil(
        (col("x.__n") + col("y.__n")) * lit(threshold / (1 + threshold)) - lit(1e-9))
      p.as("x").join(p.as("y"), Seq("sh"))
        .filter(col("x.doc_id") < col("y.doc_id"))
        .filter(least(col("x.__n") - col("x.__pos"), col("y.__n") - col("y.__pos")) + 1 >= alpha)
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    }
    val sets = capped.groupBy("doc_id")
      .agg(collect_list(col("sh")).as("set"), count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repPairs =
      if (sets.count() <= broadcastDocLimit)
        joinVerify(pairwiseCands(prefix), broadcast(sets), broadcast(sets),
          threshold)
      else
        // block-only grouping (no CC): prefix-filter candidate graphs
        // chain into one giant component via organic sub-threshold
        // co-occurrences (measured: 297M candidates / 6.8M true at 250k
        // distinct docs), so star contraction over the candidate edge
        // set is pure overhead here — see groupedPairVerify
        verifyJaccardByComponent(pairwiseCands(prefix), sets, threshold,
          maxComponentShingles, useComponents = false)
    (repPairs, members, capped.select("doc_id").distinct())
  }

  /** Directed containment pairs: C(src → dst) = |src ∩ dst| / |src| ≥
    * `threshold` over the (capped) shingle sets — the asymmetric twin of
    * Jaccard that catches a small document quoted inside a large one,
    * which symmetric near-dup misses (the union term drowns the overlap).
    *
    * Prefix filtering adapts to the directed score: under the global
    * rare-first shingle order, C(src→dst) ≥ t forces a shared shingle
    * inside src's first |src| − ⌈t·|src|⌉ + 1 rarest shingles (else the
    * overlap tops out at ⌈t·|src|⌉ − 1) — so only the SOURCE side is
    * prefix-indexed while the destination side joins its full capped
    * postings. Exact verification against the sets follows, as in
    * [[ngramJaccardPairs]]; recall is exact, no banding escape. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleK: Int = 3, threshold: Double = 0.8,
                       maxShingleFreq: Int = 1000,
                       broadcastDocLimit: Long = 200000L,
                       maxComponentShingles: Long = 1000000L): DataFrame = {
    // exact-dup classes + member-weighted doc frequency, exactly as in
    // ngramJaccardPairs (see comments there)
    val (reps, members) = collapseExact(df, idCol, textCol)
    val csize = reps.select(col(idCol).cast(LongType).as("doc_id"),
      col("__csize"))
    val sh = shingledHashed(reps, idCol, textCol, shingleK).join(csize, "doc_id")
    // same single-exchange freq/cap + single-pass window as
    // ngramJaccardPairs (see comments there)
    val capped = sh
      .withColumn("freq", sum(col("__csize")).over(Window.partitionBy("sh")))
      .filter(col("freq") <= maxShingleFreq)
      .select("doc_id", "sh", "freq")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rareFirst = Window.partitionBy("doc_id").orderBy("freq", "sh")
    val indexed = capped
      .withColumn("__pos", row_number().over(rareFirst))
      .withColumn("__n", count(lit(1)).over(
        rareFirst.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // same 1e-9 ceil slack as ngramJaccardPairs: err toward a longer
    // prefix (extra candidates), never a shorter one (lost recall)
    val prefix = indexed.filter(
      col("__pos") <= col("__n") - ceil(col("__n") * lit(threshold) - lit(1e-9)) + 1)
    // directed positional filter (the PPJoin bound adapted to
    // containment): from a shared shingle at rare-first positions
    // (pos_s, pos_d), the remaining overlap is at most
    // min(n_s − pos_s, n_d − pos_d) + 1, which must reach ⌈t·n_s⌉ for
    // C(src→dst) ≥ t. A true pair's FIRST common shingle always passes
    // (the whole overlap lies at or after it in both orders), so recall
    // is exact; same 1e-9 ceil slack, erring toward keeping.
    def pairwiseCands(px: DataFrame, iy: DataFrame): DataFrame =
      px.as("x").join(iy.as("y"), Seq("sh"))
        .filter(col("x.doc_id") =!= col("y.doc_id"))
        .filter(least(col("x.__n") - col("x.__pos"),
            col("y.__n") - col("y.__pos")) + 1 >=
          ceil(col("x.__n") * lit(threshold) - lit(1e-9)))
        .select(col("x.doc_id").as("id_src"), col("y.doc_id").as("id_dst"))
    val sets = capped.groupBy("doc_id")
      .agg(collect_list(col("sh")).as("set"), count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val repPairs =
      if (sets.count() <= broadcastDocLimit)
        containmentJoinVerify(pairwiseCands(prefix, indexed),
          broadcast(sets), broadcast(sets), threshold)
      else
        // block-only grouping, same rationale as ngramJaccardPairs
        verifyDirectedByComponent(pairwiseCands(prefix, indexed), sets,
          threshold, maxComponentShingles, useComponents = false)
    expandPairs(repPairs, members, capped.select("doc_id").distinct(),
      "containment", directed = true)
  }

  /** Pair-at-a-time containment verification — the directed twin of
    * [[joinVerify]] (score divides by the SOURCE size only). */
  private def containmentJoinVerify(pairs: DataFrame, setsS: DataFrame,
      setsD: DataFrame, threshold: Double): DataFrame =
    pairs
      .join(setsS.select(col("doc_id").as("id_src"), col("set").as("set_s"),
        col("n").as("n_s")), "id_src")
      .join(setsD.select(col("doc_id").as("id_dst"), col("set").as("set_d")), "id_dst")
      .withColumn("containment",
        size(array_intersect(col("set_s"), col("set_d"))).cast("double")
          / col("n_s").cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_src", "id_dst", "containment")
      .distinct()

  /** Directed analog of [[verifyJaccardByComponent]]: identical
    * component+block grouping over the (undirected view of the)
    * candidate edges, but each LISTED (src, dst) pair scores
    * overlap/|src| — containment's asymmetric score. Only listed pairs
    * are emitted, so output is row-identical to
    * [[containmentJoinVerify]] over the same candidates. */
  private[textops] def verifyDirectedByComponent(cands: DataFrame,
      sets: DataFrame, threshold: Double,
      maxComponentShingles: Long = 1000000L,
      useComponents: Boolean = true): DataFrame =
    groupedPairVerify(cands, sets, "id_src", "id_dst", directed = true,
      threshold, "containment", maxComponentShingles, useComponents)

  /** 64-bit SimHash over word shingles: bit i is the sign of the weighted
    * sum of shingle-hash bits. Column-level convenience for tests; the
    * pipeline path is [[simhashSignatures]]. */
  def simhash64(shinglesCol: Column): Column = {
    val hashes = transform(shinglesCol, s => md5Hash64(s))
    val bits = (0 until 64).map { i =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, i).bitwiseAND(1L) * 2L - 1L))
      when(vote > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** SimHash fingerprints via the explode → groupBy shape, with the 64
    * bit-votes packed 4-per-long into 16-bit lanes: aggregation is 16
    * lane-packed sums + one count instead of 64 scalar sums (4× less
    * aggregate codegen, same shuffle). Lane j of sum k holds the
    * ones-count of bit (k + 16·j); the sign test `2·ones > n` is exactly
    * the ±1 vote sign. Lanes are 16-bit, so per-doc distinct shingle
    * counts must stay below 65 536 — far beyond any real document (a
    * 65k-word doc); the bound is ENFORCED (assert_true inside the sign
    * expression, so pruning can't drop it — a lane carry would silently
    * corrupt neighboring bits). Larger inputs should pre-truncate or
    * chunk upstream. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int): DataFrame = {
    val sh = shingledHashedPortable(df, idCol, textCol, shingleK)
    val packedSums = (0 until 16).map { k =>
      sum((0 until 4).map { j =>
        shiftleft(shiftrightunsigned(col("sh"), k + 16 * j).bitwiseAND(1L), 16 * j)
      }.reduce(_ + _)).as(s"p$k")
    }
    val votes = sh.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), packedSums: _*)
    // assert_true yields null on success, so the `when` wrapper both
    // forces its evaluation (no pruning) and passes the sim through
    val guard = assert_true(col("n") < 65536L,
      concat(lit("simhashSignatures: doc "), col("doc_id"),
        lit(" has >= 65536 distinct shingles; chunk or truncate upstream")))
    val sim = (0 until 64).map { i =>
      val k = i % 16; val j = i / 16
      val ones = shiftrightunsigned(col(s"p$k"), 16 * j).bitwiseAND(0xFFFFL)
      when(ones * 2 > col("n"), shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    votes.select(col("doc_id"), when(guard.isNull, sim).as("sim"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming` (≤ 3):
    * pigeonhole on the four 16-bit chunks — any pair within distance 3
    * agrees on at least one chunk — then verify with bit_count(xor).
    * Larger radii would need more/overlapping chunks, so they are
    * rejected rather than silently under-recalled. */
  def simhashNearPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleK: Int = 3, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-chunk pigeonhole only guarantees recall for distance <= 3, got $maxHamming")
    val sigs = simhashSignatures(df, idCol, textCol, shingleK)
    val chunked = sigs.select(col("doc_id"), col("sim"),
      posexplode(array((0 until 4).map { c =>
        shiftrightunsigned(col("sim"), c * 16).bitwiseAND(0xFFFFL)
      }: _*)).as(Seq("chunk_idx", "chunk")))
    val a = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("id_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("id_b"), col("sim").as("sim_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sim_a", "sim_b").distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Embedding cosine near-duplicates via seeded random-hyperplane LSH:
    * `numPlanes` sign bits form the bucket key; exact cosine verifies
    * within buckets. Planes come from a fixed seed → reproducible. */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, numPlanes: Int = 12,
                        threshold: Double = 0.95): DataFrame = {
    val planes = Similarity.hyperplanes(dim, numPlanes, seed = 42L)
    val bucketed = df.select(col(idCol).cast(LongType).as("doc_id"),
      col(vecCol).as("vec"),
      Similarity.bucketSignature(col(vecCol), planes).as("bucket"))
    val a = bucketed.select(col("bucket"), col("doc_id").as("id_a"), col("vec").as("vec_a"))
    val b = bucketed.select(col("bucket"), col("doc_id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}

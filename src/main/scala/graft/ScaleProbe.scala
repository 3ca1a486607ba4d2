package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.textops.Dedup

/** Dev harness: stress the heavy operator families at ~10x sf0.1, built
  * by replicating the base tables with shifted ids — perf probe only,
  * not a correctness input. `runMain graft.ScaleProbe [dedup,events]`
  * picks families (default: dedup, events, ann, graph, behavior) and
  * runs on `SPARK_GRAFT_CPUS` cores, 32 when unset. Every family here
  * has numbers cited in SURVEY or the OPTIMIZATION notes; a family
  * whose numbers nothing cites is deleted, not kept "just in case".
  *
  *  - dedup: 50k docs (worst case — every doc exactly replicated 10x);
  *  - events: 1M events over 15k users (10x users, same per-user series
  *    length — the realistic growth axis), driving the window/as-of
  *    family: hourly agg, 30-min-gap sessionization, LOCF fill, as-of
  *    join of clicks to their latest prior error.
  */
object ScaleProbe {
  /** `copies` versions of every document of `base`, ids `doc_id * copies
    * + rep` and text suffixed " v<rep>": near-duplicates of each other,
    * never exact ones. */
  private def distinctCopies(base: DataFrame, copies: Long): DataFrame =
    base.select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), lit(copies - 1L))).as("rep"))
      .select((col("doc_id") * copies + col("rep")).as("doc_id"),
        concat(col("text"), lit(" v"), col("rep")).as("text"))

  /** The byte probes' corpus, written to `gold/docs_kb` and read back:
    * ~3 KB docs with UNIQUE content per base doc (the real ~50-word text
    * + 450 doc-keyed hashed filler words — repeated-segment padding
    * would parquet-compress 16× and fake the byte story), 5 near-dup
    * variants per group (one appended token, J ≈ 0.998). */
  private def kbCorpus(spark: SparkSession, base: DataFrame,
                       wh: graft.etl.Warehouse): DataFrame = {
    val kb = base.select(col("doc_id"), concat(col("text"), lit(" "),
        expr("array_join(transform(sequence(0, 449), " +
          "i -> concat('w', abs(xxhash64(doc_id, i)) % 30000)), ' ')"))
        .as("text"))
    wh.overwrite(distinctCopies(kb, 5), "gold", "docs_kb")
    wh.read(spark, "gold", "docs_kb")
  }

  /** An ingest batch over the first `n` corpus docs, persisted: a third
    * exact re-ingests, a third near-dup versions, a third reversed text
    * (genuinely new). */
  private def ingestBatch(corpus: DataFrame, n: Long): DataFrame =
    corpus.filter(col("doc_id") < n)
      .select((col("doc_id") + 100000000L).as("doc_id"),
        when(col("doc_id") % 3 === 0, col("text"))
          .when(col("doc_id") % 3 === 1, concat(col("text"), lit(" vnew")))
          .otherwise(concat_ws(" ", reverse(split(col("text"), " "))))
          .as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Ten copies of the sf0.1 events with shifted event and user ids:
    * 10× users at the same per-user series length (the realistic growth
    * axis). */
  private def events10x(base: DataFrame): DataFrame =
    (0 until 10).map(i =>
      base.select((col("event_id") + lit(i * 10000000L)).as("event_id"),
        (col("user_id") + lit(i * 100000L)).as("user_id"),
        col("ts"), col("event_type"), col("value")))
      .reduce(_ unionByName _)

  /** Megabytes on disk under `p`. */
  private def dirMb(p: String): Double = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
    val s = try w.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally w.close()
    s / 1048576.0
  }

  private def mb(mb: Double): String = f"$mb%9.1f MB"

  /** Task-level InputMetrics.bytesRead (public listener API) of every
    * job from now on; `apply` prints what one block read. */
  private final class BytesRead(spark: SparkSession) {
    private val read = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            read.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      })
    // listener events are async: settle = poll until two reads agree
    private def settled(): Long = {
      var prev = -1L; var cur = read.get()
      while (cur != prev) { Thread.sleep(300); prev = cur; cur = read.get() }
      cur
    }
    def apply(n: String)(b: => Long): Unit = {
      val b0 = settled(); val t0 = System.nanoTime(); val r = b
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"BYTES $n%-26s ${mb((settled() - b0) / 1048576.0)} $dt%8.2f s rows=$r")
    }
  }

  def main(args: Array[String]): Unit = {
    val families: Set[String] =
      if (args.nonEmpty) args(0).split(",").toSet
      else Set("dedup", "events", "ann", "graph", "behavior")
    val spark = Sessions.build(Sessions.cpus(32))
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def time(n: String)(b: => Long): Unit = {
      val t0 = System.nanoTime(); val r = b
      println(f"PROBE $n%-22s ${(System.nanoTime()-t0)/1e9}%8.2f s rows=$r")
    }

    if (families("dedup")) {
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = (0 until 10).map(i =>
        base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
        .reduce(_ unionByName _)
      val cached = big.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"docs: ${cached.count()}")
      time("exact_dedup")(Dedup.exactDedup(cached, "doc_id", "text").count())
      time("minhash_lsh")(Dedup.minhashLsh(cached, "doc_id", "text",
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5).count())
      time("minhash_verified")(Dedup.minhashLshVerified(cached, "doc_id", "text",
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5).count())
      time("simhash")(Dedup.simhashNearPairs(cached, "doc_id", "text").count())
      time("ngram_jaccard")(Dedup.ngramJaccardPairs(cached, "doc_id", "text",
        shingleK = 3, threshold = 0.5).count())
      time("containment")(Dedup.containmentPairs(cached, "doc_id", "text",
        shingleK = 3, threshold = 0.8).count())
    }

    // 100x headroom probe for the quadratic-prone families only: 500k
    // docs, every base doc replicated 100x (same exact-recall
    // construction as the 10x probe — replicas are exact dups, so the
    // true-pair set is known by construction and grows as C(100,2)/
    // C(10,2) = 110x; sub-quadratic wall-clock growth relative to THAT
    // output ratio is the pass bar). explode(sequence) replication keeps
    // it one scan instead of a 100-branch union. Crosses the
    // broadcastDocLimit (200k), so this also exercises the non-broadcast
    // shuffle-verify path the 10x probe never reaches.
    if (families("dedup100")) {
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = base
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L), lit(99L))).as("rep"))
        .select((col("doc_id") * 100L + col("rep")).as("doc_id"), col("text"))
      val cached = big.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"docs100: ${cached.count()}")
      time("ngram_jaccard_100x")(Dedup.ngramJaccardPairs(cached, "doc_id",
        "text", shingleK = 3, threshold = 0.5).count())
      time("containment_100x")(Dedup.containmentPairs(cached, "doc_id",
        "text", shingleK = 3, threshold = 0.8).count())
      time("minhash_verified_100x")(Dedup.minhashLshVerified(cached,
        "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8,
        threshold = 0.5).count())
      // corpus→corpus: output must be the SURVIVING DOCS (≤ 500k rows,
      // linear), while the pair form above emits 27M+ rows — the proof
      // that nearDedupKeep never materializes intra-cluster pairs
      time("near_dedup_keep_100x")(Dedup.nearDedupKeep(cached,
        "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8,
        threshold = 0.5).count())
      cached.unpersist()
    }

    // DISTINCT-text headroom probe: 50 copies per doc, each with ONE
    // appended version token — every text is distinct so the exact-dup
    // collapse is a no-op, yet all 50 copies stay pairwise near-dups
    // (k=3 shingles: one unique shingle per copy, J ≈ n/(n+2) >> 0.5).
    // 250k distinct docs crosses broadcastDocLimit (200k), so this
    // drives the SHUFFLE-verify path — dedupe-first + array joins —
    // under true quadratic-cluster load (C(50,2)·5000 ≈ 6.1M real
    // pairs), which the replicated probe can no longer reach. More
    // shuffle partitions here: the verify exchange carries array
    // payloads, so per-task working sets must shrink as data grows —
    // the same knob a 1000-executor cluster turns.
    if (families("dedupdistinct")) {
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = distinctCopies(base, 50)
      val cached = big.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"docsDistinct: ${cached.count()}")
      time("ngram_jaccard_distinct50")(Dedup.ngramJaccardPairs(cached,
        "doc_id", "text", shingleK = 3, threshold = 0.5).count())
      time("minhash_verified_distinct50")(Dedup.minhashLshVerified(cached,
        "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8,
        threshold = 0.5).count())
      cached.unpersist()
      spark.conf.set("spark.sql.shuffle.partitions", "64")
    }

    // dev iteration harness for the component-grouped verify path:
    // SMALLER distinct-text corpus (copies via arg-free default 10 →
    // 50k distinct docs) with broadcastDocLimit forced to 0 so the
    // grouped path runs regardless of corpus size; same construction
    // as dedupdistinct otherwise.
    if (families.exists(_.startsWith("distgroup"))) {
      val copies = families.find(_.startsWith("distgroup"))
        .get.stripPrefix("distgroup").toIntOption.getOrElse(10)
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = distinctCopies(base, copies)
      val cached = big.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"docsDistinctGrouped: ${cached.count()}")
      val forced = !families.contains("distbroad")
      val only = families.collectFirst {
        case f if f.startsWith("only") => f.stripPrefix("only") }
      def want(op: String) = only.forall(_ == op)
      val lim = if (forced) 0L else 10000000L
      if (want("ngram"))
        time(s"ngram_${if (forced) "grouped" else "broadcast"}_${copies}x")(
          Dedup.ngramJaccardPairs(cached,
          "doc_id", "text", shingleK = 3, threshold = 0.5,
          broadcastDocLimit = lim).count())
      spark.catalog.clearCache()
      cached.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached.count() // rewarm the corpus outside the timer
      if (want("minhash"))
        time(s"minhash_${if (forced) "grouped" else "broadcast"}_${copies}x")(
          Dedup.minhashLshVerified(cached,
          "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8,
          threshold = 0.5, broadcastDocLimit = lim).count())
      spark.catalog.clearCache()
      cached.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached.count()
      if (want("containment"))
        time(s"containment_${if (forced) "grouped" else "broadcast"}_${copies}x")(
          Dedup.containmentPairs(cached,
          "doc_id", "text", shingleK = 3, threshold = 0.8,
          broadcastDocLimit = lim).count())
      if (want("keep"))
        time(s"near_dedup_keep_dist_${copies}x")(
          Dedup.nearDedupKeep(cached,
          "doc_id", "text", shingleK = 3, numHashes = 32, bands = 8,
          threshold = 0.5, broadcastDocLimit = lim).count())
      cached.unpersist()
      spark.conf.set("spark.sql.shuffle.partitions", "64")
    }

    // Incremental near-dedup probe — the daily-ingest cost model. The
    // 250k-DISTINCT corpus (dedupdistinct construction) persists its
    // band index ONCE (corpus-sized, the amortized build); a 1% batch
    // (2,500 docs: a third exact re-ingests, a third near-dup versions,
    // a third reversed = genuinely new) then probes it. Pass bar: the
    // increment costs ~batch-sized work — an order of magnitude under
    // the corpus-sized verified near-dedup it replaces (the
    // minhash_verified_distinct50 number, ~100 s on this box).
    if (families("increment")) {
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = distinctCopies(base, 50)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"docsIncrement: ${big.count()}")
      val wh = graft.etl.Warehouse(java.nio.file.Files
        .createTempDirectory("graft_probe_ndidx").toString)
      time("nd_index_build_250k") {
        Dedup.nearDedupIndexPersist(big, "doc_id", "text", wh, "gold", "nd",
          shingleK = 3, numHashes = 32, bands = 8)
        spark.read.parquet(wh.path("gold", "nd_bands")).count()
      }
      // the daily job sizes its shuffle to the BATCH, not the corpus
      // (AQE coalesces, but the explicit knob removes the tail): the
      // corpus never re-shingles — only its skinny index rows scan
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      def mkBatch(n: Long) = ingestBatch(big, n)
      val batch = mkBatch(2500)
      println(s"batch: ${batch.count()}")
      time("nd_increment_pairs_1pct") {
        Dedup.nearDedupIncrementPairs(batch, "doc_id", "text",
          wh, "gold", "nd", threshold = 0.5).count()
      }
      time("nd_increment_keep_1pct") {
        Dedup.nearDedupIncrementKeep(batch, "doc_id", "text",
          wh, "gold", "nd", threshold = 0.5).count()
      }
      val batchS = mkBatch(250)
      println(s"batchS: ${batchS.count()}")
      time("nd_increment_pairs_01pct") {
        Dedup.nearDedupIncrementPairs(batchS, "doc_id", "text",
          wh, "gold", "nd", threshold = 0.5).count()
      }
      big.unpersist(); batch.unpersist(); batchS.unpersist()
      spark.conf.set("spark.sql.shuffle.partitions", "64")
    }

    // dev-only: one stream-shaped batch through the BATCH keep API
    // against a fresh index — isolates data effects from foreachBatch
    // KB+-document byte-ratio probe: the r9 SURVEY argued the band
    // index's bytes-skipped win "only kicks in for realistic KB+
    // documents" — this MEASURES it instead. 25k docs of ~3 KB (10
    // distinct segments per base text; 5 near-dup variants per group)
    // are written to parquet, the MinHash index is built from the
    // parquet table, and task-level InputMetrics.bytesRead (public
    // listener API) is recorded for the 1%/0.1% increment probes vs
    // the corpus-rebuild job they replace. Also prints on-disk sizes
    // of the corpus vs each index table.
    if (families("byteratio")) {
      val bytesOf = new BytesRead(spark)
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      val wh = graft.etl.Warehouse(java.nio.file.Files
        .createTempDirectory("graft_probe_bytes").toString)
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val corpus = kbCorpus(spark, base, wh)
      println(s"docsKb: ${corpus.count()} " +
        s"avgBytes=${corpus.agg(avg(length(col("text")))).head().getDouble(0).toInt}")
      bytesOf("kb_index_build") {
        Dedup.nearDedupIndexPersist(corpus, "doc_id", "text",
          wh, "gold", "nd", shingleK = 3, numHashes = 32, bands = 8)
        spark.read.parquet(wh.path("gold", "nd_bands")).count()
      }
      println(s"  corpus parquet ${mb(dirMb(wh.path("gold", "docs_kb")))}  " +
        s"bands ${mb(dirMb(wh.path("gold", "nd_bands")))}  " +
        s"sets ${mb(dirMb(wh.path("gold", "nd_sets")))}")
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      def mkBatch(n: Long) = ingestBatch(corpus, n)
      val batch = mkBatch(250); println(s"batch: ${batch.count()}")
      bytesOf("kb_increment_pairs_1pct") {
        Dedup.nearDedupIncrementPairs(batch, "doc_id", "text",
          wh, "gold", "nd", threshold = 0.5).count()
      }
      bytesOf("kb_increment_keep_1pct") {
        Dedup.nearDedupIncrementKeep(batch, "doc_id", "text",
          wh, "gold", "nd", threshold = 0.5).count()
      }
      val batchS = mkBatch(25); println(s"batchS: ${batchS.count()}")
      bytesOf("kb_increment_pairs_01pct") {
        Dedup.nearDedupIncrementPairs(batchS, "doc_id", "text",
          wh, "gold", "nd", threshold = 0.5).count()
      }
      // the alternative the increment replaces: full corpus∪batch rebuild
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      spark.catalog.clearCache()
      batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      batch.count()
      bytesOf("kb_rebuild_union") {
        Dedup.minhashLshVerified(corpus.unionByName(batch), "doc_id",
          "text", shingleK = 3, numHashes = 32, bands = 8,
          threshold = 0.5).count()
      }
      batch.unpersist(); batchS.unpersist()
    }

    // Byte-ratio probe for the POSTING index (the r10 verdict's item 3):
    // the same KB+-document corpus and InputMetrics measurement as
    // `byteratio`, applied to the exact prefix-filter family — bytes
    // read by the 1%/0.1% increment probes and the keep, vs the
    // corpus∪batch ngramJaccardPairs rebuild they replace, plus on-disk
    // sizes of _freq/_post/_sets vs the corpus parquet (the stated
    // "_sets is ~6× the corpus" caveat, measured here for THIS family,
    // and the dictionary-scan small-batch floor made visible as the
    // 0.1% batch's byte count).
    if (families("ngbyteratio")) {
      val bytesOf = new BytesRead(spark)
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      val wh = graft.etl.Warehouse(java.nio.file.Files
        .createTempDirectory("graft_probe_ngbytes").toString)
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val corpus = kbCorpus(spark, base, wh)
      println(s"docsKb: ${corpus.count()} " +
        s"avgBytes=${corpus.agg(avg(length(col("text")))).head().getDouble(0).toInt}")
      bytesOf("ng_index_build") {
        Dedup.ngramIndexPersist(corpus, "doc_id", "text",
          wh, "gold", "ng", shingleK = 3, maxShingleFreq = 1000)
        spark.read.parquet(wh.path("gold", "ng_post")).count()
      }
      println(s"  corpus parquet ${mb(dirMb(wh.path("gold", "docs_kb")))}  " +
        s"freq ${mb(dirMb(wh.path("gold", "ng_freq")))}  " +
        s"post ${mb(dirMb(wh.path("gold", "ng_post")))}  " +
        s"sets ${mb(dirMb(wh.path("gold", "ng_sets")))}")
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      def mkBatch(n: Long) = ingestBatch(corpus, n)
      val batch = mkBatch(250); println(s"batch: ${batch.count()}")
      bytesOf("ng_increment_pairs_1pct") {
        Dedup.ngramJaccardIncrementPairs(batch, "doc_id", "text",
          wh, "gold", "ng", threshold = 0.5).count()
      }
      bytesOf("ng_increment_keep_1pct") {
        Dedup.ngramJaccardIncrementKeep(batch, "doc_id", "text",
          wh, "gold", "ng", threshold = 0.5).count()
      }
      bytesOf("ct_increment_pairs_1pct") {
        Dedup.containmentIncrementPairs(batch, "doc_id", "text",
          wh, "gold", "ng", threshold = 0.8).count()
      }
      val batchS = mkBatch(25); println(s"batchS: ${batchS.count()}")
      bytesOf("ng_increment_pairs_01pct") {
        Dedup.ngramJaccardIncrementPairs(batchS, "doc_id", "text",
          wh, "gold", "ng", threshold = 0.5).count()
      }
      // the alternative the increment replaces: full corpus∪batch rebuild
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      spark.catalog.clearCache()
      batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      batch.count()
      bytesOf("ng_rebuild_union") {
        Dedup.ngramJaccardPairs(corpus.unionByName(batch), "doc_id",
          "text", shingleK = 3, threshold = 0.5).count()
      }
      // The v4 Jaccard-only layout at the same probe threshold: _post
      // keeps only each doc's prefix rows at the t=0.5 floor. Sizes and
      // probe bytes printed side by side with the full layout above —
      // the footprint-cut evidence for the r11/r12 carried ask.
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      bytesOf("ngf_floor_index_build") {
        Dedup.ngramIndexPersist(corpus, "doc_id", "text",
          wh, "gold", "ngf", shingleK = 3, maxShingleFreq = 1000,
          containment = false, tMinJaccard = 0.5)
        spark.read.parquet(wh.path("gold", "ngf_post")).count()
      }
      println(s"  floor:  freq ${mb(dirMb(wh.path("gold", "ngf_freq")))}  " +
        s"post ${mb(dirMb(wh.path("gold", "ngf_post")))}  " +
        s"sets ${mb(dirMb(wh.path("gold", "ngf_sets")))}")
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      bytesOf("ngf_increment_pairs_1pct") {
        Dedup.ngramJaccardIncrementPairs(batch, "doc_id", "text",
          wh, "gold", "ngf", threshold = 0.5).count()
      }
      bytesOf("ngf_increment_pairs_01pct") {
        Dedup.ngramJaccardIncrementPairs(batchS, "doc_id", "text",
          wh, "gold", "ngf", threshold = 0.5).count()
      }
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      batch.unpersist(); batchS.unpersist()
    }

    // `_sets` storage-option pricing (the r13 verdict's item 2): with
    // `_post` floored, the exact-verification table dominates the
    // posting index at 5.7× the compressed corpus — and its payload is
    // arrays of xxhash64 values, i.e. uniform-random 64-bit longs that
    // NO byte-level codec can compress much (the information-theoretic
    // bound is ~64−log2(set size) bits/element). Candidates measured
    // side by side on the same KB+-doc corpus as `ngbyteratio`:
    //   a) arrays + zstd          — codec-only, exact-layout unchanged
    //   b) sorted-delta arrays    — gaps of sorted uniform 64-bit
    //      hashes carry ~(64−log2 n) significant bits; parquet stores
    //      8 bytes either way, so the win is only what snappy/zstd
    //      recover from the zeroed high bytes (~10–15% predicted)
    //   c) texts                  — store (doc_id, text) instead of the
    //      hashed arrays and RE-SHINGLE candidates at verify time under
    //      the frozen dictionary: storage falls to ~1× compressed
    //      corpus BY CONSTRUCTION (text compresses; hashes don't), at a
    //      bounded re-shingle CPU cost over only the candidates'
    //      pruned dbucket partitions.
    if (families("setsprobe")) {
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      val wh = graft.etl.Warehouse(java.nio.file.Files
        .createTempDirectory("graft_probe_sets").toString)
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val corpus = kbCorpus(spark, base, wh)
      println(s"docsKb: ${corpus.count()}")
      Dedup.ngramIndexPersist(corpus, "doc_id", "text", wh, "gold", "ng",
        shingleK = 3, maxShingleFreq = 1000)
      val sets = spark.read.parquet(wh.path("gold", "ng_sets"))
      val out = java.nio.file.Files
        .createTempDirectory("graft_probe_sets_var").toString
      def writeVar(name: String, df: org.apache.spark.sql.DataFrame,
                   codec: String): Unit = {
        df.write.mode("overwrite").partitionBy("dbucket", "epoch")
          .option("compression", codec).parquet(s"$out/$name")
        println(f"SETSVAR $name%-22s ${dirMb(s"$out/$name")}%9.1f MB")
      }
      println(f"SETSVAR corpus_parquet        ${dirMb(wh.path("gold", "docs_kb"))}%9.1f MB")
      println(f"SETSVAR arrays_snappy_base    ${dirMb(wh.path("gold", "ng_sets"))}%9.1f MB")
      writeVar("arrays_zstd", sets, "zstd")
      // sorted-delta arrays: d[0]=s[0], d[i]=s[i]−s[i−1] — reversible
      val delta = sets.withColumn("sset", sort_array(col("set")))
        .withColumn("dset", zip_with(col("sset"),
          concat(array(lit(0L)),
            slice(col("sset"), lit(1), size(col("sset")) - 1)),
          (a, b) => a - b))
        .select("doc_id", "dset", "n", "dbucket", "epoch")
      writeVar("delta_snappy", delta, "snappy")
      writeVar("delta_zstd", delta, "zstd")
      // texts: exactly the docs holding ≥1 capped shingle (the _sets
      // row-membership), with the same partition keys
      val texts = corpus
        .join(sets.select("doc_id").distinct(), "doc_id")
        .withColumn("dbucket", pmod(col("doc_id"), lit(64L)).cast("int"))
        .withColumn("epoch", lit(-1L))
      writeVar("texts_snappy", texts, "snappy")
      writeVar("texts_zstd", texts, "zstd")
    }

    // MinHash twin of `setsprobe` (r15 verdict #1's measured row): the
    // band index's `_sets` holds the SAME incompressible xxhash64
    // shingle arrays the posting index's did — measure the v2 texts
    // layout's cut on the same unique-content ~3 KB corpus, plus the
    // `_bands` table (identical across layouts) for the whole-index
    // ratio.
    if (families("ndsetsprobe")) {
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      val wh = graft.etl.Warehouse(java.nio.file.Files
        .createTempDirectory("graft_probe_ndsets").toString)
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val corpus = kbCorpus(spark, base, wh)
      println(s"docsKb: ${corpus.count()}")
      println(f"NDSETS corpus_parquet        ${dirMb(wh.path("gold", "docs_kb"))}%9.1f MB")
      for ((tag, texts) <- Seq(("arrays", false), ("texts", true))) {
        Dedup.nearDedupIndexPersist(corpus, "doc_id", "text", wh, "gold",
          s"nd_$tag", shingleK = 3, numHashes = 32, bands = 8,
          setsAsTexts = texts)
        println(f"NDSETS ${s"${tag}_sets"}%-22s ${dirMb(wh.path("gold", s"nd_${tag}_sets"))}%9.1f MB")
        println(f"NDSETS ${s"${tag}_bands"}%-22s ${dirMb(wh.path("gold", s"nd_${tag}_bands"))}%9.1f MB")
      }
    }

    // Incremental EXACT dedup probe (the prefix-filter family) — the
    // posting-index analog of "increment": the 250k-DISTINCT corpus
    // persists its capped/positioned posting index ONCE, then 1% and
    // 0.1% batches probe it for Jaccard pairs and containment pairs.
    // Pass bar: the daily batch costs a small fraction of the
    // corpus-sized jobs it replaces (ngram_jaccard_distinct50 ≈ 204 s,
    // containment ≈ 216 s on this box).
    if (families("ngramincrement")) {
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = distinctCopies(base, 50)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"docsNgramIncrement: ${big.count()}")
      val wh = graft.etl.Warehouse(java.nio.file.Files
        .createTempDirectory("graft_probe_ngidx").toString)
      time("ng_index_build_250k") {
        Dedup.ngramIndexPersist(big, "doc_id", "text", wh, "gold", "ng",
          shingleK = 3, maxShingleFreq = 1000)
        spark.read.parquet(wh.path("gold", "ng_post")).count()
      }
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      def mkBatch(n: Long) = ingestBatch(big, n)
      val batch = mkBatch(2500)
      println(s"batch: ${batch.count()}")
      time("ng_increment_pairs_1pct") {
        Dedup.ngramJaccardIncrementPairs(batch, "doc_id", "text",
          wh, "gold", "ng", threshold = 0.5).count()
      }
      time("ct_increment_pairs_1pct") {
        Dedup.containmentIncrementPairs(batch, "doc_id", "text",
          wh, "gold", "ng", threshold = 0.8).count()
      }
      time("ng_increment_keep_1pct") {
        Dedup.ngramJaccardIncrementKeep(batch, "doc_id", "text",
          wh, "gold", "ng", threshold = 0.5).count()
      }
      spark.catalog.clearCache()
      big.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val batchS = mkBatch(250)
      println(s"batchS: ${batchS.count()}")
      time("ng_increment_pairs_01pct") {
        Dedup.ngramJaccardIncrementPairs(batchS, "doc_id", "text",
          wh, "gold", "ng", threshold = 0.5).count()
      }
      big.unpersist(); batch.unpersist(); batchS.unpersist()
      spark.conf.set("spark.sql.shuffle.partitions", "64")
    }

    // The streaming ingest LOOP against the 250k index: 5 micro-batches
    // of 2,500 docs drain through nearDedupIngestStream (file source,
    // one file per trigger). Each batch is a third exact corpus dups, a
    // third near-dup versions, a third reversed-text docs that are
    // near-dups of EVERY batch's reversed third — so exactly one
    // batch's reversed docs survive and the rest die against index
    // rows that were APPENDED mid-stream. Pass bar: per-batch cost flat
    // (the single-increment probe's ~batch-sized work, not growing with
    // the kept history), and the cross-batch drop counts proving the
    // loop actually feeds itself.
    if (families("ingeststream")) {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = distinctCopies(base, 50)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"docsIngest: ${big.count()}")
      val wh = graft.etl.Warehouse(java.nio.file.Files
        .createTempDirectory("graft_probe_ingestidx").toString)
      time("ingest_index_build_250k") {
        Dedup.nearDedupIndexPersist(big, "doc_id", "text", wh, "gold", "nd",
          shingleK = 3, numHashes = 32, bands = 8)
        spark.read.parquet(wh.path("gold", "nd_bands")).count()
      }
      val stageDir = java.nio.file.Files
        .createTempDirectory("graft_probe_ingest").toString
      (0 until 5).foreach { k =>
        big.filter(col("doc_id") < 2500)
          .select((col("doc_id") + 100000000L + k * 10000L).as("doc_id"),
            when(col("doc_id") % 3 === 0, col("text"))
              .when(col("doc_id") % 3 === 1,
                concat(col("text"), lit(s" vnew$k")))
              .otherwise(concat_ws(" ",
                reverse(split(concat(col("text"), lit(s" b$k")), " "))))
              .as("text"))
          .coalesce(1).write.mode("append").parquet(stageDir)
      }
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_probe_ingest_ckpt").toString
      time("ingest_stream_5x2500") {
        val src = spark.readStream
          .schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1")
          .parquet(stageDir)
        val q = Dedup.nearDedupIngestStream(src, "doc_id", "text",
          wh, "gold", "nd", threshold = 0.5, ckpt)
        q.processAllAvailable(); q.stop()
        spark.read.parquet(wh.path("gold", "nd_kept")).count()
      }
      spark.read.parquet(wh.path("gold", "nd_kept"))
        .groupBy("epoch").count().orderBy("epoch").collect()
        .foreach(r => println(s"INGEST epoch ${r.getLong(0)}: kept ${r.getLong(1)}"))
      big.unpersist()
      spark.conf.set("spark.sql.shuffle.partitions", "64")
    }

    // Compaction-policy probe (r14 verdict next-round #4): the fixed
    // every-K-epochs fold rewrites the O(corpus) base on a schedule —
    // total rewrite work quadratic in corpus size — while the
    // ratio-triggered (geometric) policy folds only when committed
    // delta bytes reach f x base bytes, bounding write amplification
    // at (1+f)/f per ingested byte with folds geometrically rarer.
    // This lane RUNS both policies over the same 30-epoch append
    // stream and prints the measured series: per-fold cost, (base,
    // delta) bytes at each decision, and each policy's cumulative
    // rewritten bytes — the numbers behind SURVEY's amortization math.
    if (families("foldpolicy")) {
      // regime matters: the base must DWARF the per-epoch delta (the
      // 100 TB shape — a daily batch is a fraction of a percent of the
      // standing corpus), or per-file parquet overhead at toy scale
      // makes every epoch trip the ratio. 50k-doc base, 250-doc epochs
      // (0.5%/epoch).
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = (0 until 10).map(i =>
          base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            concat(col("text"), lit(" r"), lit(i)).as("text")))
        .reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"docsFold: ${big.count()}")
      def freshIdx(tag: String): graft.etl.Warehouse = {
        val wh = graft.etl.Warehouse(java.nio.file.Files
          .createTempDirectory(s"graft_probe_fold$tag").toString)
        Dedup.nearDedupIndexPersist(big, "doc_id", "text", wh, "gold",
          "nd", shingleK = 3, numHashes = 32, bands = 8)
        wh
      }
      def batchAt(e: Long) = big.filter(col("doc_id") % 200 === e % 200)
        .select((col("doc_id") + 100000000L + e * 1000000L).as("doc_id"),
          concat(col("text"), lit(" e"), lit(e)).as("text"))
      def tableBytes(wh: graft.etl.Warehouse): Long =
        Seq("nd_bands", "nd_sets").map { t =>
          val (b, d) = Dedup.epochFootprint(wh.path("gold", t), -999L)
          b + d
        }.sum
      for ((policy, every, ratio) <- Seq(("cadence5", 5, 0.0),
                                          ("ratio25", 0, 0.25))) {
        val wh = freshIdx(policy)
        var rewritten = 0L
        var ingested = 0L
        val pre0 = tableBytes(wh)
        (1L to 30L).foreach { e =>
          val preAppend = tableBytes(wh)
          Dedup.nearDedupIndexAppend(batchAt(e), "doc_id", "text",
            wh, "gold", "nd", epoch = e)
          ingested += tableBytes(wh) - preAppend
          val t0 = System.nanoTime()
          val folded =
            if (every > 0 && e % every == 0) {
              Dedup.nearDedupIndexCompact(spark, wh, "gold", "nd",
                foldEpochsBelow = e); true
            } else if (ratio > 0.0)
              Dedup.nearDedupIndexCompactIfDue(spark, wh, "gold", "nd",
                e, ratio)
            else false
          if (folded) {
            val size = tableBytes(wh)
            rewritten += size
            println(f"FOLD $policy%-9s e=$e%-3d cost=${(System.nanoTime()-t0)/1e9}%6.2f s " +
              f"size=${size / 1048576.0}%7.1f MB cumRewritten=${rewritten / 1048576.0}%8.1f MB " +
              f"cumIngested=${ingested / 1048576.0}%7.1f MB")
          }
        }
        println(f"FOLDTOTAL $policy%-9s base0=${pre0 / 1048576.0}%7.1f MB " +
          f"ingested=${ingested / 1048576.0}%7.1f MB " +
          f"rewritten=${rewritten / 1048576.0}%8.1f MB " +
          f"amplification=${rewritten.toDouble / math.max(ingested, 1L)}%6.2f x-of-ingested")
      }
      big.unpersist()
    }

    // The curation pipeline as a CONTINUOUS STREAM over the same 500k
    // input as curation100: bootstrap = reps 0-29 (150k docs) through
    // the batch build (gates → nearDedupKeep → index persist), then 7
    // micro-batches of 50k docs (reps 30-99, id-ordered) drain through
    // CurationStream.curationIngestStream — gates → incremental
    // near-dedup against the growing index → exactly-once kept/funnel
    // sinks. Pass bars: per-epoch duration flat across epochs (the
    // daily cost must not grow with kept history), and the stream's
    // total funnel (lang/quality/kept) EQUAL to the batch pipeline's
    // over the same input (exact-replica clusters + id-ordered epochs
    // make the kept sets identical by the min-id argument).
    // `curationstream` = the MinHash family (the r10 probe);
    // `curationexact` = the same probe on the EXACT posting-index
    // family (CurationStream.ExactNgramFamily) — same pass bars, plus
    // the zero-recall-loss dedup stage. The batch baseline uses the
    // matching family's batch keep.
    Seq(("curationstream", graft.textops.CurationStream.MinHashFamily),
        ("curationexact", graft.textops.CurationStream.ExactNgramFamily))
      .foreach { case (fam, family) => if (families(fam)) {
      val tag = if (fam == "curationexact") "CUREXACT" else "CURSTREAM"
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      def slice(lo: Long, hi: Long) = base
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(lo), lit(hi))).as("rep"))
        .select((col("doc_id") * 100L + col("rep")).as("doc_id"), col("text"))
      val wh = graft.etl.Warehouse(java.nio.file.Files
        .createTempDirectory(s"graft_probe_$fam").toString)
      time(s"${fam}_bootstrap_150k") {
        graft.textops.CurationStream.curationBootstrap(slice(0L, 29L),
          "doc_id", "text", wh, "gold", "cur", threshold = 0.5, bands = 8,
          family = family)
        wh.read(spark, "gold", "cur_kept").count()
      }
      val stageDir = java.nio.file.Files
        .createTempDirectory(s"graft_probe_${fam}_stage").toString
      (0 until 7).foreach { k =>
        slice(30L + k * 10L, 39L + k * 10L)
          .coalesce(1).write.mode("append").parquet(stageDir)
      }
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_probe_${fam}_ckpt").toString
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      var progress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress] = Array()
      time(s"${fam}_7x50k") {
        val q = graft.textops.CurationStream.curationIngestStream(
          spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", "1").parquet(stageDir),
          "doc_id", "text", wh, "gold", "cur", threshold = 0.5, ckpt,
          family = family)
        q.processAllAvailable()
        progress = q.recentProgress
        q.stop()
        wh.read(spark, "gold", "cur_kept").count()
      }
      progress.filter(_.numInputRows > 0).foreach(p =>
        println(f"$tag epoch ${p.batchId} ${p.numInputRows} rows " +
          f"${p.durationMs.get("triggerExecution") / 1000.0}%.1f s"))
      val funnel = wh.read(spark, "gold", "cur_funnel")
        .agg(sum("n_in"), sum("n_lang"), sum("n_quality"), sum("n_kept"))
        .head()
      println(s"$tag funnel in=${funnel.getLong(0)} " +
        s"lang=${funnel.getLong(1)} qual=${funnel.getLong(2)} " +
        s"kept=${funnel.getLong(3)}")
      // the matching family's batch pipeline over the same input —
      // counts must MATCH
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      val all = slice(0L, 99L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nIn = all.count()
      val lG = all.filter(graft.textops.TextFunctions.langId(col("text")) === "en")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nLang = lG.count()
      val qG = lG.filter(
          graft.textops.TextFunctions.qualityScore(col("text")) >= 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nQual = qG.count()
      val nKept = family match {
        case graft.textops.CurationStream.MinHashFamily =>
          Dedup.nearDedupKeep(qG, "doc_id", "text", shingleK = 3,
            numHashes = 32, bands = 8, threshold = 0.5).count()
        case graft.textops.CurationStream.ExactNgramFamily =>
          Dedup.ngramJaccardKeep(qG, "doc_id", "text", shingleK = 3,
            threshold = 0.5).count()
      }
      println(s"$tag batch   in=$nIn lang=$nLang qual=$nQual kept=$nKept")
      println(s"$tag equal=${funnel.getLong(0) == nIn &&
        funnel.getLong(1) == nLang && funnel.getLong(2) == nQual &&
        funnel.getLong(3) == nKept}")
      all.unpersist(); lG.unpersist(); qG.unpersist()
      spark.conf.set("spark.sql.shuffle.partitions", "64")
    }}

    // LONG-HORIZON ingest: 20 epochs × 50k docs through each family's
    // raw ingest stream with the full maintenance lifecycle active —
    // compactEvery = 5 (index + _kept fold on cadence) and, exact
    // family, rebuildCheckEvery = 5 (one deliberate drift epoch trips a
    // visible mid-stream statistics re-freeze). Pass bars: per-epoch
    // wall time FLAT outside the maintenance epochs (daily cost must
    // not grow with kept history), index AND sink file/dir counts
    // BOUNDED across the run (the r11 sink-fold ask's evidence), and
    // exactly one _freq dictionary jump at the drift epoch.
    // Epoch construction: every sf0.1 doc × 10 replica ids, text = the
    // doc's first 60% of words + epoch-keyed hashed filler — within an
    // epoch the 10 replicas are exact dups (collapse exercises), across
    // epochs and against the bootstrap J ≈ 0.6/1.4 < 0.5 (all kept —
    // the conservative, fastest-growing-index case) and unseen shingle
    // mass ≈ 0.4 < 0.5 (no spurious rebuild). Epoch 10's text is fully
    // hashed (unseen ≈ 1.0) — the drift that must trip the check.
    // The third lane is the CONTROL for the adversarial lanes' growth:
    // same 20×50k all-kept ingest, but every epoch fully hashed — kept
    // history grows identically while cross-epoch J ≈ 0, so band
    // collisions (and the _sets verification fetch they gate) stay at
    // the batch's own floor. Flat wall here + growth in the adversarial
    // lane pins the growth to candidate density (a data property any
    // LSH+verify system pays per candidate), not to kept history.
    // the fourth lane drives BOTH round-15 mechanisms together at the
    // long horizon — texts _sets layout + ratio-triggered fold — so the
    // flat-wall / bounded-dirs / bounded-bytes evidence covers the
    // shipped 100 TB configuration, not just the r14 arrays+cadence one
    Seq(("longminhash", "nd", false, false, 0.0),
        ("longexact", "ng", false, false, 0.0),
        ("longminhashdiv", "nd", true, false, 0.0),
        ("longminhashratio", "nd", false, true, 0.25)).foreach {
      case (fam, idx, driftAll, textsLayout, foldRatio) =>
        if (families("longingest") || families(fam)) {
      val tag = fam.toUpperCase
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select("doc_id", "text")
      def epochDocs(k: Int, drift: Boolean) = base
        .withColumn("rep", explode(sequence(lit(0L), lit(9L))))
        .withColumn("ws", split(col("text"), " "))
        .withColumn("keepw",
          if (drift) lit(0) else (size(col("ws")) * lit(0.6)).cast("int"))
        .withColumn("nf", size(col("ws")) - col("keepw"))
        .withColumn("filler", array_join(transform(
          sequence(lit(1), greatest(col("nf"), lit(1))),
          i => concat(lit("zz"),
            pmod(abs(xxhash64(col("doc_id"), lit(k), i)), lit(50000L)))), " "))
        .select(
          (lit(1000000L * (k + 1)) + col("doc_id") * 10 + col("rep"))
            .as("doc_id"),
          concat(array_join(slice(col("ws"), lit(1), greatest(col("keepw"),
            lit(1))), " "), lit(" "), col("filler")).as("text"))
      val wh = graft.etl.Warehouse(java.nio.file.Files
        .createTempDirectory(s"graft_probe_$fam").toString)
      val bootstrap = base
        .withColumn("rep", explode(sequence(lit(0L), lit(9L))))
        .select((col("doc_id") * 10 + col("rep")).as("doc_id"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"$tag bootstrap docs: ${bootstrap.count()}")
      time(s"${fam}_index_build") {
        if (idx == "ng") {
          Dedup.ngramIndexPersist(bootstrap, "doc_id", "text", wh, "gold",
            idx, shingleK = 3, maxShingleFreq = 1000)
          spark.read.parquet(wh.path("gold", s"${idx}_post")).count()
        } else {
          Dedup.nearDedupIndexPersist(bootstrap, "doc_id", "text", wh,
            "gold", idx, shingleK = 3, numHashes = 32, bands = 8,
            setsAsTexts = textsLayout)
          spark.read.parquet(wh.path("gold", s"${idx}_bands")).count()
        }
      }
      // (parquet files, dirs, parquet bytes): the ratio lane's pass bar
      // is BYTES bounded between folds, not just file/dir counts
      def fsStats(t: String): (Int, Int, Long) = {
        def walk(f: java.io.File): (Int, Int, Long) =
          if (!f.exists) (0, 0, 0L)
          else if (f.isDirectory) {
            val kids = f.listFiles().map(walk)
            (kids.map(_._1).sum, kids.map(_._2).sum + 1,
              kids.map(_._3).sum)
          } else if (f.getName.endsWith(".parquet")) (1, 0, f.length)
          else (0, 0, 0L)
        walk(new java.io.File(wh.path("gold", t)))
      }
      val tables =
        if (idx == "ng") Seq(s"${idx}_post", s"${idx}_sets", s"${idx}_kept")
        else Seq(s"${idx}_bands", s"${idx}_sets", s"${idx}_kept")
      val stageDir = java.nio.file.Files
        .createTempDirectory(s"graft_probe_${fam}_stage").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_probe_${fam}_ckpt").toString
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val src = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
      val q =
        if (idx == "ng")
          Dedup.ngramIngestStream(src, "doc_id", "text", wh, "gold", idx,
            threshold = 0.5, ckpt, compactEvery = 5,
            rebuildCheckEvery = 5, unseenThreshold = 0.5,
            baseCorpus = Some(bootstrap))
        else
          Dedup.nearDedupIngestStream(src, "doc_id", "text", wh, "gold",
            idx, threshold = 0.5, ckpt,
            compactEvery = if (foldRatio > 0.0) 0 else 5,
            compactMinRatio = foldRatio)
      // horizon knob (r13 verdict item 3): the adversarial lane's mild
      // per-epoch drift needed a >= 50-epoch series to either plateau
      // or be priced per candidate — LONGINGEST_EPOCHS=50 runs it
      val nEpochs = sys.env.getOrElse("LONGINGEST_EPOCHS", "20").toInt
      (0 until nEpochs).foreach { k =>
        epochDocs(k, drift = driftAll || (idx == "ng" && k == 10))
          .coalesce(1).write.mode("append").parquet(stageDir)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val dt = (System.nanoTime() - t0) / 1e9
        val st = tables.map(t => t -> fsStats(t))
        val freqN =
          if (idx == "ng")
            s" freq=${spark.read.parquet(wh.path("gold", s"${idx}_freq")).count()}"
          else ""
        // candidate-density series (minhash lanes): rep-level band-key
        // collisions of THIS epoch's batch against the pre-epoch index
        // — the quantity the LSH+verify engine pays per epoch. Measured
        // OUTSIDE the timed window (the epoch's own wall seconds are
        // printed first).
        val candN =
          if (idx == "nd") {
            val reps = epochDocs(k, drift = driftAll)
              .dropDuplicates("text")
            val bk = Dedup.bandKeysFor(reps, "doc_id", "text",
              shingleK = 3, numHashes = 32, bands = 8)
            val n = bk.join(
                spark.read.parquet(wh.path("gold", s"${idx}_bands"))
                  .filter(col("doc_id") < lit(1000000L * (k + 1)))
                  .select(col("band"), col("band_hash"),
                    col("doc_id").as("cid")),
                Seq("band", "band_hash"))
              .select("doc_id", "cid").distinct().count()
            s" cands=$n"
          } else ""
        println(f"$tag epoch $k%2d ${dt}%7.2f s  " +
          st.map { case (t, (nf, nd, bytes)) =>
            f"${t.stripPrefix(s"${idx}_")}=[$nf f/$nd d/${bytes / 1e6}%.1f MB]"
          }.mkString(" ") + freqN + candN)
      }
      q.stop()
      val keptN = spark.read.parquet(wh.path("gold", s"${idx}_kept")).count()
      println(s"$tag kept total: $keptN")
      bootstrap.unpersist()
      spark.conf.set("spark.sql.shuffle.partitions", "64")
    }}

    // End-to-end curation pipeline at 100×: 500k docs (every sf0.1 doc
    // exactly replicated 100× — the crawl's dominant redundancy shape)
    // through lang gate (heuristic langId, not the label) → quality
    // gate → exact-dup collapse → verified near-dedup keep → real-BPE
    // token sharding. Per-stage attrition + wall-clock so a cliff in
    // ANY stage is attributable; the funnel must shrink work
    // monotonically (gates scan 500k, near-dedup sees only distinct
    // survivors, the packer only kept docs).
    if (families("curation100")) {
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = base
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          explode(sequence(lit(0L), lit(99L))).as("rep"))
        .select((col("doc_id") * 100L + col("rep")).as("doc_id"),
          col("lang"), col("source"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n0 = big.count()
      println(s"curation docs: $n0")
      val tAll0 = System.nanoTime()
      val langGated = big
        .filter(graft.textops.TextFunctions.langId(col("text")) === "en")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("cur_lang_gate_500k")(langGated.count())
      val qualGated = langGated
        .filter(graft.textops.TextFunctions.qualityScore(col("text")) >= 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("cur_quality_gate")(qualGated.count())
      val exact = Dedup.exactDedup(qualGated, "doc_id", "text")
        .select(col("keep_id").as("doc_id"), col("n_copies"))
        .join(qualGated.select(col("doc_id"), col("source"), col("text")),
          "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("cur_exact_collapse")(exact.count())
      val kept = Dedup.nearDedupKeep(exact, "doc_id", "text",
          shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
        .join(exact.select(col("doc_id"), col("source"), col("text")),
          "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("cur_near_dedup_keep")(kept.count())
      time("cur_bpe_token_shards") {
        val toks = kept.select(col("source"), col("doc_id"),
            explode(split(graft.textops.TextFunctions.normText(col("text")),
              " ")).as("w"))
          .filter(length(col("w")) > 0)
          .withColumn("seg", graft.functions.BpeMerges.bpe_segment(col("w")))
          .groupBy("source", "doc_id")
          .agg(sum(size(split(col("seg"), " ")).cast("long")).as("tok"))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        toks.withColumn("cum", sum(col("tok")).over(w))
          .withColumn("shard",
            floor((col("cum") - col("tok")).cast("double") / 2000.0))
          .groupBy("source", "shard").count().count()
      }
      val totalS = (System.nanoTime() - tAll0) / 1e9
      println(f"CURATION total ${totalS}%.2f s for $n0 docs = " +
        f"${n0 / totalS}%.0f docs/s end-to-end")
      big.unpersist()
      spark.conf.set("spark.sql.shuffle.partitions", "64")
    }

    if (families("events")) {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.load(spark, "/root/testdata/sf0.1", "events")
      val big = events10x(base)
      val ev = big.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"events: ${ev.count()}")
      time("hourly_agg") {
        ev.select(Tables.eventTs("ts").as("t"), col("event_type"), col("value"))
          .groupBy(date_trunc("hour", col("t")), col("event_type"))
          .agg(count(lit(1)), sum(col("value"))).count()
      }
      time("sessionization") {
        val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        ev.select(col("user_id"), col("event_id"),
            expr("ts div 1000000000").as("sec"))
          .withColumn("new_session",
            when(lag(col("sec"), 1).over(w).isNull ||
                 col("sec") - lag(col("sec"), 1).over(w) > 1800, 1).otherwise(0))
          .withColumn("session_id", sum(col("new_session")).over(w))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)), max(col("sec")) - min(col("sec"))).count()
      }
      time("locf_fill") {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // filter on the window output so column pruning can't drop it
        ev.select(col("event_id"), col("user_id"), col("ts"),
            when(col("event_type") === "purchase", col("value")).as("pv"))
          .withColumn("last_pv",
            coalesce(last(col("pv"), ignoreNulls = true).over(w), lit(-1.0)))
          .filter(col("last_pv") > -2.0)
          .count()
      }
      time("asof_join") {
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("error_id"), col("user_id"), col("ts"))
        graft.operators.AsOfJoin.asOf(clicks, errors, key = "user_id", time = "ts")
          .count()
      }
    }
    if (families("graph")) {
      // 10x lineitem via replicated orders (shifted order/part ids keep
      // per-basket geometry): drives the pair join, triangle wedges and
      // 3-round PageRank at ~6M line rows / ~20k parts
      val base = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
      val big = (0 until 10).map(i =>
        base.select((col("l_orderkey") + lit(i * 10000000L)).as("l_orderkey"),
          (col("l_partkey") + lit((i % 2) * 100000L)).as("l_partkey")))
        .reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"lineitems: ${big.count()}")
      time("basket_affinity") {
        graft.analytics.BehaviorQueries.basketAffinity(
          big, "l_orderkey", "l_partkey", minBoth = 2L).count()
      }
      val op = big.distinct()
      val a = op.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = op.select(col("l_orderkey"), col("l_partkey").as("pb"))
      val e0 = a.join(b, "l_orderkey").filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_both"))
        .filter(col("n_both") >= 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"edges: ${e0.count()}")
      time("triangles") {
        graft.operators.Triangles.stats(
          e0.select(col("pa"), col("pb")), "pa", "pb")
          .collect().head.getLong(2)
      }
      time("pagerank_3") {
        val edges = e0.select(col("pa").as("s"), col("pb").as("d"))
          .unionAll(e0.select(col("pb").as("s"), col("pa").as("d")))
        graft.operators.PageRank.ranks(edges, "s", "d", iterations = 3).count()
      }
    }
    if (families("behavior")) {
      // 10x users, same per-user history: funnel + retention scale on the
      // user axis (their joins/aggs all hash on user_id)
      val base = Tables.load(spark, "/root/testdata/sf0.1", "events")
      val big = (0 until 10).map(i =>
        base.select((col("user_id") + lit(i * 100000L)).as("user_id"),
          col("event_type"), col("ts")))
        .reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"events: ${big.count()}")
      time("funnel") {
        graft.analytics.BehaviorQueries.funnelStages(
          big.select(col("user_id"), col("event_type"),
            expr("ts div 1000000000").as("sec")),
          Seq("signup", "click", "purchase"), horizonS = 604800L).count()
      }
      time("retention") {
        graft.analytics.BehaviorQueries.retentionMatrix(
          big.select(col("user_id"), col("event_type"),
            expr("(ts div 1000000000) div 86400").as("day")),
          cohortType = "signup").count()
      }
    }
    if (families("ann")) {
      import graft.textops.{Dedup, Similarity}
      val base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      // 10x corpus: replicas keep their geometry (same vectors, shifted
      // ids) — adversarial for LSH/IVF bucket balance, like real
      // near-duplicate embedding mass
      val big = (0 until 10).map(i =>
        base.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
          col("embedding")))
        .reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"vectors: ${big.count()}")
      val q = base.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      time("ann_brute_force") {
        Similarity.bruteForceTopK(big, "vec_id", "embedding", q, k = 10).count()
      }
      time("ann_lsh") {
        Similarity.lshTopK(big, "vec_id", "embedding", q, k = 10, dim = 64,
          bands = 6, planesPerBand = 4).count()
      }
      time("ann_ivf_train_probe") {
        val cents = Similarity.ivfTrain(big, "vec_id", "embedding",
          dim = 64, nlist = 16, iterations = 1)
        Similarity.ivfTopK(big, "vec_id", "embedding", q, k = 10,
          cents, nprobe = 4).count()
      }
      time("embedding_dup") {
        Dedup.embeddingDupPairs(big, "vec_id", "embedding",
          dim = 64, numPlanes = 14, threshold = 0.99).count()
      }
      time("semantic_dup") {
        Similarity.semanticDupPairs(big, "vec_id", "embedding",
          dim = 64, nlist = 16, iterations = 1, threshold = 0.99).count()
      }
      time("pq_train_encode_probe") {
        val books = Similarity.pqTrain(big, "vec_id", "embedding",
          dim = 64, m = 4, k = 16, iterations = 1)
        Similarity.pqTopK(big, "vec_id", "embedding", q, k = 10, books).count()
      }
      time("sq8_train_probe") {
        val (mn, mx) = Similarity.sq8Train(big, "embedding")
        Similarity.sq8TopK(big, "vec_id", "embedding", q, k = 10,
          mn, mx).count()
      }
      time("multiprobe_lsh") {
        Similarity.lshMultiprobeTopK(big, "vec_id", "embedding", q,
          k = 10, dim = 64, bands = 3, planesPerBand = 6).count()
      }
      time("ivf_pq_train_probe") {
        val cents = Similarity.ivfTrain(big, "vec_id", "embedding",
          dim = 64, nlist = 16, iterations = 1)
        val books = Similarity.pqTrain(big, "vec_id", "embedding",
          dim = 64, m = 4, k = 16, iterations = 1)
        Similarity.ivfPqTopK(big, "vec_id", "embedding", q, k = 10,
          cents, books, nprobe = 4).count()
      }
    }
    if (families("prefix")) {
      // 10x lineitem: global cumulative revenue share over ~200k parts
      val base = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      val big = (0 until 10).map(i =>
        base.select((col("l_partkey") + lit(i * 10000000L)).as("l_partkey"),
          col("l_extendedprice")))
        .reduce(_ unionByName _)
      time("prefix_sum_pareto") {
        import org.apache.spark.sql.types.DecimalType
        val rev = big.groupBy("l_partkey")
          .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4))).as("rev"))
        graft.operators.PrefixSum.withRunningSum(rev,
          Seq(col("rev").desc, col("l_partkey")), col("rev"), "cum").count()
      }
    }
    if (families("topk")) {
      // adversarial hot group: 6M rows, ONE group — the case where the
      // window form funnels everything through one sort task while the
      // native operator's partial pass caps the shuffle at k rows per
      // input partition
      import org.apache.spark.sql.expressions.Window
      val base = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      val big = (0 until 10).map(_ =>
        base.select(col("l_orderkey"), col("l_extendedprice")))
        .reduce(_ unionByName _)
        .withColumn("g", lit("hot"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"topk rows: ${big.count()}")
      time("native_topk_hot") {
        graft.plans.TopKPerGroup.topK(big, Seq("g"),
          Seq(("l_extendedprice", true), ("l_orderkey", false)), 10).count()
      }
      time("window_topk_hot") {
        val w = Window.partitionBy("g")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"))
        big.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10).count()
      }
      big.unpersist()
    }
    if (families("behavior2")) {
      // 10x users (the realistic growth axis) through the newest
      // event-family shapes: explode-based trailing distinct, trigram
      // path mining, per-user TWAP, transition matrix
      import org.apache.spark.sql.expressions.Window
      val base = Tables.load(spark, "/root/testdata/sf0.1", "events")
      val big = events10x(base)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"events10x: ${big.count()}")
      time("dau_wau_10x") {
        val ud = big.select(col("user_id"),
          expr("ts div 1000 div 86400000000").as("day")).distinct()
        val days = ud.select(col("day").as("d")).distinct()
        ud.withColumn("off", explode(expr("sequence(0L, 6L)")))
          .select(col("user_id"), (col("day") + col("off")).as("d"))
          .join(days, Seq("d"), "left_semi")
          .groupBy("d").agg(countDistinct(col("user_id")).as("wau"))
          .count()
      }
      time("path_trigrams_10x") {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        big.withColumn("e2", lead(col("event_type"), 1).over(w))
          .withColumn("e3", lead(col("event_type"), 2).over(w))
          .filter(col("e3").isNotNull)
          .groupBy("event_type", "e2", "e3").count().count()
      }
      time("twap_10x") {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        big.withColumn("nxt", lead(expr("ts div 1000"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy("user_id")
          .agg(sum(col("value") * (col("nxt") - expr("ts div 1000"))))
          .count()
      }
      big.unpersist()
    }
    if (families("stats")) {
      // 10x lineitem (6M rows), duplicated prices — worst case for the
      // two-phase median (each price bucket 10x heavier) and for the
      // Spearman rank maps (tie runs 10x longer)
      import org.apache.spark.sql.types.DecimalType
      val base = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      val big = (0 until 10).map(i =>
        base.select(col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice")))
        .reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"lineitem10x: ${big.count()}")
      time("weighted_median") {
        val b2 = big.select(col("l_returnflag").as("f"),
          col("l_extendedprice").cast(DecimalType(18, 2)).as("p"),
          col("l_quantity").cast("long").as("w"))
          .withColumn("bkt", expr("cast(floor(p / 1000) as bigint)"))
        // same two-phase shape as a16, inlined over the big frame
        val w = org.apache.spark.sql.expressions.Window
        val wB = w.partitionBy("f").orderBy("bkt")
          .rowsBetween(Long.MinValue, 0)
        val b1 = b2.groupBy(col("f"), col("bkt")).agg(sum("w").as("bw"))
          .withColumn("cumb", sum(col("bw")).over(wB))
          .withColumn("tot", sum(col("bw")).over(w.partitionBy("f")))
        val med = b1.filter(col("cumb") * 2 >= col("tot"))
          .groupBy(col("f").as("mf")).agg(min(col("bkt")).as("mb"))
        b2.join(broadcast(med), col("f") === col("mf")
            && col("bkt") === col("mb")).count()
      }
      time("geo_radius_10x") {
        // 10x customers (150k points) against 10x suppliers (10k)
        val c = (0 until 10).map(i =>
          spark.read.parquet("/root/testdata/sf0.1/customer.parquet")
            .select((col("c_custkey") + lit(i * 1000000L)).as("cid")))
          .reduce(_ unionByName _)
          .select(col("cid"), expr("(cid * 37 + 11) % 1000").as("cx"),
                  expr("(cid * 73 + 29) % 1000").as("cy"))
        val su = (0 until 10).map(i =>
          spark.read.parquet("/root/testdata/sf0.1/supplier.parquet")
            .select((col("s_suppkey") + lit(i * 1000000L)).as("sid")))
          .reduce(_ unionByName _)
          .select(col("sid"), expr("(sid * 53 + 17) % 1000").as("sx"),
                  expr("(sid * 97 + 43) % 1000").as("sy"))
          .withColumn("cellx", expr("sx div 8"))
          .withColumn("celly", expr("sy div 8"))
        val cells = c
          .withColumn("dx", explode(expr("array(-1L, 0L, 1L)")))
          .withColumn("dy", explode(expr("array(-1L, 0L, 1L)")))
          .withColumn("cellx", expr("cx div 8") + col("dx"))
          .withColumn("celly", expr("cy div 8") + col("dy"))
        cells.join(su, Seq("cellx", "celly"))
          .filter((col("cx") - col("sx")) * (col("cx") - col("sx"))
                + (col("cy") - col("sy")) * (col("cy") - col("sy")) <= 64)
          .count()
      }
    }

    // TRUE streaming drain at 10x (1M events / 150k users), distinct from
    // the batch `events` family: this runs the state-store path — file
    // source split into 10 parquet files (maxFilesPerTrigger=4 → 3
    // micro-batches), RocksDB-free HDFS state on 16 shuffle partitions
    // (the knob a real cluster sizes to state volume), AvailableNow
    // drain to a memory sink. Probes the three state shapes: windowed
    // agg (state = window×type domain), session windows (state = one
    // open session per active user — the user-scaled axis), and the
    // flatMapGroupsWithState custom sessionizer (same axis, arbitrary
    // state). Pass bar: wall-clock scales with data, not with state
    // resets; no memory cliff at 150k concurrent keys.
    if (families("streaming")) {
      val base = Tables.load(spark, "/root/testdata/sf0.1", "events")
      val big = events10x(base)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_probe_stream").toString
      big.repartition(10).write.mode("overwrite").parquet(dir)
      println(s"staged streaming events: ${spark.read.parquet(dir).count()}")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "16")
      def drainCount(df: org.apache.spark.sql.DataFrame, name: String,
                     mode: org.apache.spark.sql.streaming.OutputMode): Long = {
        graft.streaming.EventStream.runToMemory(df, name, mode)
        spark.table(name).count()
      }
      import org.apache.spark.sql.streaming.OutputMode
      try {
        time("st_windowed_10x") {
          val ev = graft.streaming.EventStream.readEvents(spark, dir)
          drainCount(graft.streaming.EventStream.windowedCounts(ev),
            "probe_st_win", OutputMode.Complete())
        }
        time("st_sessions_10x") {
          val ev = graft.streaming.EventStream.readEvents(spark, dir)
          drainCount(graft.streaming.EventStream.sessionCounts(ev),
            "probe_st_sess", OutputMode.Complete())
        }
        time("st_fmgws_10x") {
          val ev = graft.streaming.EventStream.readEvents(spark, dir)
          drainCount(
            graft.streaming.EventStream.closedSessions(spark, ev).toDF(),
            "probe_st_fmgws", OutputMode.Append())
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

    // 100× streaming drain on ROCKSDB state: 10M events / 1.5M users —
    // ten times the r7 drain probe, on the state-store backend a real
    // cluster runs once state outgrows the HDFS-backed in-memory maps.
    // 40 staged files at maxFilesPerTrigger=4 → 10 micro-batches, so
    // state persists/restores across 10 commits per query; 32 shuffle
    // partitions (state-store instances) is the knob a cluster sizes to
    // state volume. Pass bar: linear in data vs the 10× numbers, no
    // memory cliff at 1.5M concurrent user keys.
    if (families("streaming100")) {
      val base = Tables.load(spark, "/root/testdata/sf0.1", "events")
      val big = base
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"),
          explode(sequence(lit(0L), lit(99L))).as("rep"))
        .select((col("event_id") + col("rep") * 10000000L).as("event_id"),
          (col("user_id") + col("rep") * 100000L).as("user_id"),
          col("ts"), col("event_type"), col("value"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_probe_stream100").toString
      // range-partition by event time so the path-ordered file feed
      // replays roughly time-ordered, like a real stream: a hash-staged
      // feed lets batch 1 drag the watermark to max(ts)−delay and
      // silently drops ~80% of later files' rows as late — a drop
      // probe, not a state probe
      big.repartitionByRange(40, col("ts")).write.mode("overwrite").parquet(dir)
      println(s"staged streaming100 events: ${spark.read.parquet(dir).count()}")
      val prevPart = spark.conf.get("spark.sql.shuffle.partitions")
      val prevProv = spark.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      def drainCount(df: org.apache.spark.sql.DataFrame, name: String,
                     mode: org.apache.spark.sql.streaming.OutputMode): Long = {
        graft.streaming.EventStream.runToMemory(df, name, mode)
        spark.table(name).count()
      }
      import org.apache.spark.sql.streaming.OutputMode
      try {
        time("st_windowed_100x_rocksdb") {
          val ev = graft.streaming.EventStream.readEvents(spark, dir)
          drainCount(graft.streaming.EventStream.windowedCounts(ev),
            "probe_st_win100", OutputMode.Complete())
        }
        time("st_sessions_100x_rocksdb") {
          val ev = graft.streaming.EventStream.readEvents(spark, dir)
          drainCount(graft.streaming.EventStream.sessionCounts(ev),
            "probe_st_sess100", OutputMode.Complete())
        }
        time("st_fmgws_100x_rocksdb") {
          val ev = graft.streaming.EventStream.readEvents(spark, dir)
          drainCount(
            graft.streaming.EventStream.closedSessions(spark, ev).toDF(),
            "probe_st_fmgws100", OutputMode.Append())
        }
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevPart)
        prevProv match {
          case Some(p) =>
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None =>
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
    spark.stop()
  }
}

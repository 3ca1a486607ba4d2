package graft.textops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.{TestSessions, WarehouseTestKit}
import CurationStream.MinHashFamily

/** Incremental near-dedup against a persisted band index: the probe must
  * (1) return exactly the corpus-rebuild pair set restricted to batch
  * ids, (2) read the index through partition-pruned scans (never the
  * corpus), and (3) keep probe-after-append byte-identical to a
  * from-scratch index over the union corpus.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  // corpus with exact dups (ids 0/1), near dups (2≈3), and distinct
  // docs; ids 100+ form the incoming batch: 100 = exact re-ingest of 0,
  // 101 = near dup of 4, 102/103 = a new near-dup cluster, 104 = novel,
  // 105 = too short to shingle (survives as a singleton by contract)
  private val corpusRows = Seq(
    (0L, "the quick brown fox jumps over the lazy dog in the warm morning sun"),
    (1L, "the quick brown fox jumps over the lazy dog in the warm morning sun"),
    (2L, "pack my box with five dozen liquor jugs before the long trip south"),
    (3L, "pack my box with five dozen liquor jugs before the long trip north"),
    (4L, "sphinx of black quartz judge my vow said the museum curator quietly"),
    (5L, "how vexingly quick daft zebras jump when the keeper opens the gate"))
  private val batchRows = Seq(
    (100L, "the quick brown fox jumps over the lazy dog in the warm morning sun"),
    (101L, "sphinx of black quartz judge my vow said the museum curator loudly"),
    (102L, "a completely fresh batch document about distributed query engines today"),
    (103L, "a completely fresh batch document about distributed query engines tonight"),
    (104L, "unrelated content with entirely different words nowhere near anything else"),
    (105L, "tiny doc"))
  private lazy val corpus = corpusRows.toDF("doc_id", "text")
  private lazy val batch = batchRows.toDF("doc_id", "text")

  /** Spark jobs of one ingest epoch of `batch` against the index over
    * `corpus`, in the test session: 79 with every index read planned
    * from its manifest; 83 when each read inferred its schema from a
    * Parquet footer; 91 when each epoch read the meta 3 times at 3 jobs
    * a read. */
  private val IngestEpochJobs = 79

  private def freshWh(tag: String) = graft.etl.Warehouse(
    org.apache.spark.ScratchDirs.create(s"graft_ndidx_$tag").toString)

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet

  test("increment pairs == rebuild pairs restricted to batch ids") {
    val wh = freshWh("pairs")
    Dedup.nearDedupIndexPersist(corpus, "doc_id", "text", wh, "gold", "nd",
      shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8, nSetBuckets = 4)
    val inc = pairSet(Dedup.nearDedupIncrementPairs(batch, "doc_id", "text",
      wh, "gold", "nd", threshold = 0.5))
    val rebuild = pairSet(Dedup.minhashLshVerified(
      corpus.unionByName(batch), "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5))
      .filter { case (a, b, _) => a >= 100L || b >= 100L }
    assert(inc === rebuild)
    // the batch finds its corpus dups: 100 matches the exact class {0,1}
    assert(inc.exists { case (a, b, j) => a == 0L && b == 100L && j == 1.0 })
    assert(inc.exists { case (a, b, j) => a == 1L && b == 100L && j == 1.0 })
    assert(inc.exists { case (a, b, j) => a == 4L && b == 101L && j >= 0.5 })
    // and its internal cluster, but never corpus↔corpus pairs
    assert(inc.exists { case (a, b, _) => a == 102L && b == 103L })
    assert(inc.forall { case (a, b, _) => a >= 100L || b >= 100L })
  }

  test("probe scans are partition-pruned and never touch the corpus") {
    val wh = freshWh("prune")
    Dedup.nearDedupIndexPersist(corpus, "doc_id", "text", wh, "gold", "nd",
      shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8, nSetBuckets = 4)
    // the probe's warehouse-scanning stages are snapshotted (eager
    // localCheckpoint — the r15 aliasing fix), so the pruned scans run
    // in the checkpoint jobs: capture every execution's plan
    val plans = graft.PlanCapture.plansDuring(spark) {
      Dedup.nearDedupIncrementPairs(batch, "doc_id", "text",
        wh, "gold", "nd", threshold = 0.5).collect()
    }
    // both index scans carry PartitionFilters on their bucket columns
    assert(graft.PlanCapture.prunedOn(plans, "pb"),
      "no PartitionFilters on pb in any executed plan")
    assert(graft.PlanCapture.prunedOn(plans, "dbucket"),
      "no PartitionFilters on dbucket in any executed plan")
  }

  test("keep: corpus wins, batch clusters collapse, shingle-less survive") {
    val wh = freshWh("keep")
    Dedup.nearDedupIndexPersist(corpus, "doc_id", "text", wh, "gold", "nd",
      shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8, nSetBuckets = 4)
    val kept = Dedup.nearDedupIncrementKeep(batch, "doc_id", "text",
      wh, "gold", "nd", threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    // 100 (exact corpus dup) and 101 (near corpus dup) are dropped;
    // the new cluster {102,103} keeps its min id with size 2; 104 is
    // novel; 105 has no shingles and survives as a singleton
    assert(kept === Map(102L -> 2L, 104L -> 1L, 105L -> 1L))
  }

  test("compaction: probes byte-identical before and after, fewer files") {
    val wh = freshWh("compact")
    Dedup.nearDedupIndexPersist(corpus, "doc_id", "text", wh, "gold", "nd",
      shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8, nSetBuckets = 4)
    // three appends pile files into the partitions
    Seq(50L, 60L, 70L).foreach { base =>
      val extra = Seq((base,
        s"fresh appended content number $base about storage compaction today"))
        .toDF("doc_id", "text")
      Dedup.indexAppend(MinHashFamily, extra, "doc_id", "text", wh, "gold", "nd")
    }
    val before = pairSet(Dedup.nearDedupIncrementPairs(batch, "doc_id",
      "text", wh, "gold", "nd", threshold = 0.5))
    def nFiles = Seq("nd_bands", "nd_sets")
      .map(WarehouseTestKit.files(wh, "gold", _).size).sum
    val filesBefore = nFiles
    Dedup.indexCompact(MinHashFamily, spark, wh, "gold", "nd")
    val after = pairSet(Dedup.nearDedupIncrementPairs(batch, "doc_id",
      "text", wh, "gold", "nd", threshold = 0.5))
    assert(after === before)
    assert(nFiles < filesBefore)
  }

  test("streaming ingest loop: each batch dedups against what earlier batches kept") {
    val wh = freshWh("stream")
    Dedup.nearDedupIndexPersist(corpus, "doc_id", "text", wh, "gold", "nd",
      shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8, nSetBuckets = 4)
    val ckpt = org.apache.spark.ScratchDirs.create("graft_ndstream_ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val src =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = Dedup.ingestStream(MinHashFamily,
      src.toDF().toDF("doc_id", "text"), "doc_id", "text",
      wh, "gold", "nd", threshold = 0.5, ckpt)
    // batch 1: 200 = exact dup of corpus doc 0 (dropped);
    //          201 = brand-new content (kept, appended to the index)
    src.addData(
      (200L, "the quick brown fox jumps over the lazy dog in the warm morning sun"),
      (201L, "streaming ingest pipelines deduplicate against their own history forever"))
    q.processAllAvailable()
    // batch 2: 202 = near dup of 201 — kept by the PREVIOUS batch, so
    //          the index must have grown mid-stream; 203 = new (kept);
    //          204/205 = an intra-batch near-dup CLUSTER of new content
    //          — the regression case for the eager-checkpoint fix: the
    //          keep pipeline reads the index the loop appends to, so a
    //          lazy survivor frame re-evaluated after the append sees
    //          205 matching the just-appended 204 and drops the whole
    //          cluster from the sink (204 must survive)
    src.addData(
      (202L, "streaming ingest pipelines deduplicate against their own history forever ok"),
      (203L, "entirely separate subject matter appears in the second micro batch"),
      (204L, "clustered novel documents arriving together inside a single micro batch here"),
      (205L, "clustered novel documents arriving together inside a single micro batch now"))
    q.processAllAvailable()
    q.stop()
    val kept = wh.read(spark, "gold", "nd_kept")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(201L, 203L, 204L))
    // and the index stayed CONSISTENT: every kept doc has band rows AND
    // a set row (the pre-fix failure left bands without sink rows)
    val bandDocs = wh.read(spark, "gold", "nd_bands")
      .select("doc_id").as[Long].collect().toSet
    val setDocs = wh.read(spark, "gold", "nd_sets")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.subsetOf(bandDocs) && kept.subsetOf(setDocs))
  }

  // one observable index/sink snapshot: kept rows, band rows, and set
  // rows with the set arrays SORTED (collect_list order is not
  // deterministic across runs; content is)
  private def ingestState(wh: graft.etl.Warehouse) = {
    val kept = wh.read(spark, "gold", "nd_kept")
      .select(col("doc_id"), col("epoch").cast("long"))
      .as[(Long, Long)].collect().toSet
    val bands = wh.read(spark, "gold", "nd_bands")
      .select(col("doc_id"), col("band"), col("band_hash"))
      .as[(Long, Int, Long)].collect().toSeq.sorted
    val sets = wh.read(spark, "gold", "nd_sets")
      .select(col("doc_id"), sort_array(col("set")), col("n"))
      .as[(Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    (kept, bands, sets)
  }

  test("kill-and-replay: a replayed epoch leaves sink and index unchanged") {
    val wh = freshWh("replay")
    Dedup.nearDedupIndexPersist(corpus, "doc_id", "text", wh, "gold", "nd",
      shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8, nSetBuckets = 4)
    Dedup.ingestBatch(MinHashFamily, batch, epoch = 0L, "doc_id", "text",
      wh, "gold", "nd", threshold = 0.5)
    val afterFirst = ingestState(wh)
    // full replay of the committed epoch (crash after all writes but
    // before the checkpoint commit): every write is epoch-keyed dynamic
    // overwrite and the keep pipeline excludes its own epoch's index
    // rows, so the second run recomputes the identical survivors and
    // overwrites its own partitions — nothing doubles, nothing vanishes
    Dedup.ingestBatch(MinHashFamily, batch, epoch = 0L, "doc_id", "text",
      wh, "gold", "nd", threshold = 0.5)
    assert(ingestState(wh) === afterFirst)
    // partial-failure replay: epoch 1 crashes after the index append
    // but before the sink write — simulated by running just the append
    // half — then the epoch replays in full
    val batch2 = Seq(
      (300L, "replayed epochs must not double count their own survivors ever"),
      (301L, "replayed epochs must not double count their own survivors once"))
      .toDF("doc_id", "text")
    val survivors2 = batch2.filter(col("doc_id") === 300L)
    Dedup.indexAppend(MinHashFamily, survivors2, "doc_id", "text",
      wh, "gold", "nd", epoch = 1L)
    Dedup.ingestBatch(MinHashFamily, batch2, epoch = 1L, "doc_id", "text",
      wh, "gold", "nd", threshold = 0.5)
    val replayed = ingestState(wh)
    // clean-path control: the same two epochs with no crash anywhere
    val whClean = freshWh("replayclean")
    Dedup.nearDedupIndexPersist(corpus, "doc_id", "text", whClean, "gold",
      "nd", shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8,
      nSetBuckets = 4)
    Dedup.ingestBatch(MinHashFamily, batch, epoch = 0L, "doc_id", "text",
      whClean, "gold", "nd", threshold = 0.5)
    Dedup.ingestBatch(MinHashFamily, batch2, epoch = 1L, "doc_id", "text",
      whClean, "gold", "nd", threshold = 0.5)
    assert(replayed === ingestState(whClean))
    // 300/301 are an intra-batch near-dup cluster: min id survives, and
    // the half-appended 300 did NOT make 301's cluster look like corpus
    assert(replayed._1.contains((300L, 1L)) && !replayed._1.exists(_._1 == 301L))
  }

  test("auto-compaction cadence: files bounded across epochs, probes identical") {
    val wh = freshWh("cadence")
    Dedup.nearDedupIndexPersist(corpus, "doc_id", "text", wh, "gold", "nd",
      shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8, nSetBuckets = 4)
    def nFiles = Seq("nd_bands", "nd_sets")
      .map(WarehouseTestKit.files(wh, "gold", _).size).sum
    // 6 epochs of novel docs, compacting every 2: epoch sub-partitions
    // fold into the base epoch on cadence, so the index never carries
    // more than compactEvery epochs' worth of small files
    val counts = (0 to 5).map { e =>
      val b = Seq((400L + e,
        s"novel cadence document number $e with its own distinct wording"))
        .toDF("doc_id", "text")
      Dedup.ingestBatch(MinHashFamily, b, epoch = e.toLong, "doc_id", "text",
        wh, "gold", "nd", threshold = 0.5, compactEvery = 2)
      nFiles
    }
    // after the last compaction (epoch 4) only epochs {-1, 4, 5} can
    // hold files: growth since then is bounded by the cadence, not the
    // epoch count
    val epochs = wh.read(spark, "gold", "nd_bands")
      .select(col("epoch").cast("long")).distinct().as[Long].collect().toSet
    assert(epochs.subsetOf(Set(-1L, 4L, 5L)))
    // a compaction must actually SHRINK the file count (epoch 4 folds
    // epochs −1..3), and post-compaction growth is one epoch's appends,
    // not the accumulated history
    assert(counts(4) < counts(3), s"file counts per epoch: $counts")
    assert(counts.last <= counts(4) + 16, s"file counts per epoch: $counts")
    // the index content survived the folds: a probe equals one against
    // a from-scratch index over corpus ∪ all six survivors
    val allDocs = corpus.unionByName((0 to 5).map { e =>
      Seq((400L + e,
        s"novel cadence document number $e with its own distinct wording"))
        .toDF("doc_id", "text")
    }.reduce(_ unionByName _))
    val whFull = freshWh("cadencefull")
    Dedup.nearDedupIndexPersist(allDocs, "doc_id", "text", whFull, "gold",
      "nd", shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8,
      nSetBuckets = 4)
    val probe = Seq((500L,
      "novel cadence document number 3 with its own distinct wording plus"))
      .toDF("doc_id", "text")
    val viaLoop = pairSet(Dedup.nearDedupIncrementPairs(probe, "doc_id",
      "text", wh, "gold", "nd", threshold = 0.5))
    val viaFull = pairSet(Dedup.nearDedupIncrementPairs(probe, "doc_id",
      "text", whFull, "gold", "nd", threshold = 0.5))
    assert(viaLoop === viaFull && viaLoop.nonEmpty)
  }

  test("append: probe after append == probe of a from-scratch union index") {
    val whInc = freshWh("appinc")
    Dedup.nearDedupIndexPersist(corpus, "doc_id", "text", whInc, "gold", "nd",
      shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8, nSetBuckets = 4)
    val survivors = batch.filter(col("doc_id").isin(102L, 104L, 105L))
    Dedup.indexAppend(MinHashFamily, survivors, "doc_id", "text",
      whInc, "gold", "nd")
    val whFull = freshWh("appfull")
    Dedup.nearDedupIndexPersist(corpus.unionByName(survivors), "doc_id",
      "text", whFull, "gold", "nd",
      shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8, nSetBuckets = 4)
    // a second batch that near-matches an appended doc must hit it
    val batch2 = Seq(
      (200L, "a completely fresh batch document about distributed query engines today ok"),
      (201L, "yet another brand new subject matter entirely on its own")
    ).toDF("doc_id", "text")
    val viaInc = pairSet(Dedup.nearDedupIncrementPairs(batch2, "doc_id",
      "text", whInc, "gold", "nd", threshold = 0.5))
    val viaFull = pairSet(Dedup.nearDedupIncrementPairs(batch2, "doc_id",
      "text", whFull, "gold", "nd", threshold = 0.5))
    assert(viaInc === viaFull)
    assert(viaInc.exists { case (a, b, _) => a == 102L && b == 200L })
  }

  test("texts _sets layout: probes identical to arrays across build, append, ingest, compact") {
    // MinHash-index twin of the posting index's v5 texts layout
    // (format v2): `_sets` stores (doc_id, text) zstd instead of the
    // incompressible hashed-shingle arrays, and probes re-shingle
    // their candidates' pruned partitions — every probe result must be
    // IDENTICAL to the arrays layout's through the whole lifecycle.
    def buildT(wh: graft.etl.Warehouse, texts: Boolean) =
      Dedup.nearDedupIndexPersist(corpus, "doc_id", "text", wh, "gold",
        "nd", shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8,
        nSetBuckets = 4, setsAsTexts = texts)
    val whT = freshWh("ndtexts"); buildT(whT, texts = true)
    val whA = freshWh("ndtextsref"); buildT(whA, texts = false)
    // the stored table holds text, not set arrays — and the SAME docs
    val colsT = whT.read(spark, "gold", "nd_sets").columns.toSet
    assert(colsT.contains("text") && !colsT.contains("set"))
    val idsT = whT.read(spark, "gold", "nd_sets")
      .select("doc_id").as[Long].collect().toSet
    val idsA = whA.read(spark, "gold", "nd_sets")
      .select("doc_id").as[Long].collect().toSet
    assert(idsT === idsA)
    def pairs(w: graft.etl.Warehouse, b: org.apache.spark.sql.DataFrame) =
      pairSet(Dedup.nearDedupIncrementPairs(b, "doc_id", "text",
        w, "gold", "nd", threshold = 0.5))
    def keep(w: graft.etl.Warehouse, b: org.apache.spark.sql.DataFrame) =
      Dedup.nearDedupIncrementKeep(b, "doc_id", "text", w, "gold", "nd",
        threshold = 0.5).as[(Long, Long)].collect().toSet
    assert(pairs(whT, batch) === pairs(whA, batch) &&
      pairs(whT, batch).nonEmpty)
    assert(keep(whT, batch) === keep(whA, batch))
    // the full ingest epoch (keep → epoch-keyed index append → sink)
    // writes texts rows for its survivors on the texts index
    assert(Dedup.ingestBatch(MinHashFamily, batch, epoch = 0L, "doc_id",
        "text", whT, "gold", "nd", threshold = 0.5) ===
      Dedup.ingestBatch(MinHashFamily, batch, epoch = 0L, "doc_id", "text",
        whA, "gold", "nd", threshold = 0.5))
    val colsIng = whT.read(spark, "gold", "nd_sets").columns.toSet
    assert(colsIng.contains("text") && !colsIng.contains("set"))
    // a doc_id spanning TWO epochs with different text verifies per
    // stored (doc_id, epoch) row in BOTH layouts (the texts reader
    // groups by epoch too — merged union sets would diverge here)
    def ep(id: Long, text: String) = Seq((id, text)).toDF("doc_id", "text")
    for (w <- Seq(whT, whA)) {
      Dedup.indexAppend(MinHashFamily,
        ep(300L, "two epoch versions of one document first variant body text"),
        "doc_id", "text", w, "gold", "nd", epoch = 1L)
      Dedup.indexAppend(MinHashFamily,
        ep(300L, "two epoch versions of one document second variant body text"),
        "doc_id", "text", w, "gold", "nd", epoch = 2L)
    }
    val b2 = ep(400L,
      "two epoch versions of one document first variant body text here")
    assert(pairs(whT, b2) === pairs(whA, b2) && pairs(whT, b2).nonEmpty)
    // compaction (fold epochs into base) preserves layout and results
    Dedup.indexCompact(MinHashFamily, spark, whT, "gold", "nd", foldEpochsBelow = 2L)
    Dedup.indexCompact(MinHashFamily, spark, whA, "gold", "nd", foldEpochsBelow = 2L)
    assert(pairs(whT, b2) === pairs(whA, b2))
    assert(pairs(whT, batch) === pairs(whA, batch))
    // and the compacted texts files stayed zstd (codec survives the
    // rewrite — a snappy compaction would silently grow the table)
    assert(WarehouseTestKit.files(whT, "gold", "nd_sets")
      .forall(_.path.contains("zstd")))
  }

  test("ratio-triggered compaction folds only when the delta earns its rewrite") {
    IndexLifecycle.ratioTriggeredCompaction(MinHashFamily, corpus, batch)
  }

  test("compaction after a crashed group commit sees the last version") {
    IndexLifecycle.crashedCommitCompaction(MinHashFamily, corpus, batch)
  }

  test("one ingest epoch: job count pinned, caller's job description restored") {
    val jobs = IndexLifecycle.ingestEpochJobs(MinHashFamily, corpus, batch)
    assert(jobs <= IngestEpochJobs, s"jobs: $jobs")
  }

  test("format_version: a pre-v2 minhash index fails with an explicit rebuild-required error") {
    val wh = freshWh("ndoldfmt")
    Dedup.nearDedupIndexPersist(corpus, "doc_id", "text", wh, "gold", "nd",
      shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8, nSetBuckets = 4)
    // regress the meta to the pre-versioned shape (no format_version
    // column) — what any standing index built before v2 looks like
    val legacy = Seq((3, 32, 8, 8, 4))
      .toDF("shingle_k", "num_hashes", "bands", "n_buckets", "n_set_buckets")
    wh.overwrite(legacy, "gold", "nd_meta")
    val e = intercept[IllegalStateException] {
      Dedup.nearDedupIncrementPairs(batch, "doc_id", "text",
        wh, "gold", "nd", threshold = 0.5).collect()
    }
    assert(e.getMessage.contains("rebuild") &&
      e.getMessage.contains("format"))
  }
}

package graft.textops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.{TestSessions, WarehouseTestKit}
import CurationStream.ExactNgramFamily

/** Incremental exact-similarity dedup (the prefix-filter family) against
  * the persisted posting index: the probe must (1) return exactly the
  * frozen-statistics rebuild's pairs restricted to batch ids — which,
  * when the boilerplate cap never binds, is exactly the full
  * [[Dedup.ngramJaccardPairs]] / [[Dedup.containmentPairs]] rebuild over
  * corpus ∪ batch — (2) read the index through partition-pruned scans,
  * and (3) honor the FROZEN-statistics contract: frequencies and the cap
  * are the build-time corpus's, not the union's.
  */
class PostingIndexSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  // corpus: exact dups (0/1), near dups (2≈3), distinct docs. Batch:
  // 100 = exact re-ingest of 0, 101 = near dup of 4, 102/103 = a new
  // batch-internal near-dup cluster, 104 = novel, 105 = shingle-less
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
    * `corpus`, in the test session: 65 with every index read planned
    * from its manifest; 69 when each read inferred its schema from a
    * Parquet footer; 73 when each epoch read the meta 2 times at 3 jobs
    * a read. */
  private val IngestEpochJobs = 65

  /** Spark jobs of one [[Dedup.ngramRebuildIfStale]] decision on an
    * in-distribution batch (staleness, then the append), in the test
    * session: 25 with the staleness row computed while the batch's
    * shingles are pinned and every index read planned from its
    * manifest; 29 when the `_meta` and `_freq` reads inferred schemas
    * from Parquet footers and the staleness aggregate re-shingled the
    * batch after releasing it. */
  private val RebuildIfStaleJobs = 25

  private def freshWh(tag: String) = graft.etl.Warehouse(
    org.apache.spark.ScratchDirs.create(s"graft_ngidx_$tag").toString)

  private def build(wh: graft.etl.Warehouse, cap: Int = 1000): Unit =
    Dedup.ngramIndexPersist(corpus, "doc_id", "text", wh, "gold", "ng",
      shingleK = 3, maxShingleFreq = cap, nPostBuckets = 8, nSetBuckets = 4)

  private def pairSet(df: org.apache.spark.sql.DataFrame,
                      cols: (String, String, String)) =
    df.select(cols._1, cols._2, cols._3)
      .as[(Long, Long, Double)].collect().toSet

  test("jaccard increment == full rebuild restricted to batch ids") {
    val wh = freshWh("jpairs")
    build(wh) // cap never binds on this corpus → frozen == union stats
    val inc = pairSet(Dedup.ngramJaccardIncrementPairs(batch, "doc_id",
      "text", wh, "gold", "ng", threshold = 0.5),
      ("id_a", "id_b", "jaccard"))
    val rebuild = pairSet(Dedup.ngramJaccardPairs(
      corpus.unionByName(batch), "doc_id", "text",
      shingleK = 3, threshold = 0.5), ("id_a", "id_b", "jaccard"))
      .filter { case (a, b, _) => a >= 100L || b >= 100L }
    assert(inc === rebuild)
    assert(inc.exists { case (a, b, j) => a == 0L && b == 100L && j == 1.0 })
    assert(inc.exists { case (a, b, j) => a == 4L && b == 101L && j >= 0.5 })
    assert(inc.exists { case (a, b, _) => a == 102L && b == 103L })
    assert(inc.forall { case (a, b, _) => a >= 100L || b >= 100L })
  }

  test("containment increment == full rebuild restricted to batch ids") {
    val wh = freshWh("cpairs")
    build(wh)
    val inc = pairSet(Dedup.containmentIncrementPairs(batch, "doc_id",
      "text", wh, "gold", "ng", threshold = 0.8),
      ("id_src", "id_dst", "containment"))
    val rebuild = pairSet(Dedup.containmentPairs(
      corpus.unionByName(batch), "doc_id", "text",
      shingleK = 3, threshold = 0.8), ("id_src", "id_dst", "containment"))
      .filter { case (a, b, _) => a >= 100L || b >= 100L }
    assert(inc === rebuild)
    // exact re-ingest: containment 1.0 BOTH directions
    assert(inc.exists { case (s, d, c) => s == 0L && d == 100L && c == 1.0 })
    assert(inc.exists { case (s, d, c) => s == 100L && d == 0L && c == 1.0 })
    assert(inc.forall { case (s, d, _) => s >= 100L || d >= 100L })
  }

  test("probe scans are partition-pruned on sbucket/dbucket with pushed sh ranges") {
    val wh = freshWh("prune")
    build(wh)
    // the probe's warehouse-scanning stages are snapshotted (eager
    // localCheckpoint — the r15 aliasing fix), so the pruned scans run
    // in the checkpoint jobs: capture every execution's plan
    val plans = graft.PlanCapture.plansDuring(spark) {
      Dedup.ngramJaccardIncrementPairs(batch, "doc_id", "text",
        wh, "gold", "ng", threshold = 0.5).collect()
    }
    assert(graft.PlanCapture.prunedOn(plans, "sbucket"),
      "no PartitionFilters on sbucket in any executed plan")
    assert(graft.PlanCapture.prunedOn(plans, "dbucket"),
      "no PartitionFilters on dbucket in any executed plan")
    // the small-batch branch pushes per-bucket `sh` RANGE predicates to
    // the parquet scans: bucket files are sorted by sh, so row-group
    // min/max stats skip dictionary/posting pages outside the batch's
    // ranges (the 28 MB small-batch floor fix)
    val all = plans.mkString("\n")
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(sh".r
      .findFirstIn(all).isDefined, "no pushed sh range on any scan")
  }

  test("statistics are FROZEN at build: union-crossing cap keeps pairs") {
    // cap = 2: the exact-dup shingles (corpus freq 2 from docs 0/1)
    // survive the build cap. The batch re-ingest (100) lifts their UNION
    // frequency to 3 > cap — a full rebuild over corpus ∪ batch at this
    // cap would empty those docs — but the frozen contract scores with
    // build-time frequencies: 100 still pairs with 0 and 1 at 1.0.
    val wh = freshWh("frozen")
    build(wh, cap = 2)
    val inc = pairSet(Dedup.ngramJaccardIncrementPairs(batch, "doc_id",
      "text", wh, "gold", "ng", threshold = 0.5),
      ("id_a", "id_b", "jaccard"))
    assert(inc.exists { case (a, b, j) => a == 0L && b == 100L && j == 1.0 })
    assert(inc.exists { case (a, b, j) => a == 1L && b == 100L && j == 1.0 })
  }

  test("append: probe after append == full rebuild over the union") {
    // cap never binds on these texts, so the frozen-statistics probe is
    // exactly the union rebuild restricted to batch2 ids — including
    // pairs against the APPENDED batch1 docs
    val wh = freshWh("append")
    build(wh)
    Dedup.indexAppend(ExactNgramFamily, batch, "doc_id", "text", wh, "gold", "ng")
    val batch2 = Seq(
      (300L, batchRows.find(_._1 == 102L).get._2), // exact copy of appended 102
      (301L, "genuinely novel follow up content sharing nothing with any earlier document"))
      .toDF("doc_id", "text")
    val inc = pairSet(Dedup.ngramJaccardIncrementPairs(batch2, "doc_id",
      "text", wh, "gold", "ng", threshold = 0.5),
      ("id_a", "id_b", "jaccard"))
    val rebuild = pairSet(Dedup.ngramJaccardPairs(
      corpus.unionByName(batch).unionByName(batch2), "doc_id", "text",
      shingleK = 3, threshold = 0.5), ("id_a", "id_b", "jaccard"))
      .filter { case (a, b, _) => a >= 300L || b >= 300L }
    assert(inc === rebuild)
    // 300 found its appended twin (and 102's near-dup cluster mate 103)
    assert(inc.exists { case (a, b, j) => a == 102L && b == 300L && j == 1.0 })
    assert(inc.exists { case (a, b, _) => a == 103L && b == 300L })
    assert(!inc.exists { case (a, b, _) => a == 301L || b == 301L })
  }

  test("increment keep: corpus wins, batch clusters collapse, singletons survive") {
    val wh = freshWh("keep")
    build(wh)
    val kept = Dedup.ngramJaccardIncrementKeep(batch, "doc_id", "text",
        wh, "gold", "ng", threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    // 100 (exact corpus dup) and 101 (near corpus dup) die; the new
    // cluster {102,103} keeps its min id with size 2; 104 is novel;
    // 105 has no shingles and survives as a singleton
    assert(kept === Map(102L -> 2L, 104L -> 1L, 105L -> 1L))
  }

  test("staleness: novel vocabulary trips a rebuild, in-distribution appends") {
    val wh = freshWh("stale")
    build(wh)
    // exact re-ingest: every shingle known — staleness 0, append path
    val inDist = Seq((400L, corpusRows.head._2)).toDF("doc_id", "text")
    val s0 = Dedup.ngramIndexStaleness(inDist, "doc_id", "text",
      wh, "gold", "ng").head()
    assert(s0.getDouble(2) === 0.0)
    assert(!Dedup.ngramRebuildIfStale(corpus, inDist, "doc_id", "text",
      wh, "gold", "ng"))
    // novel vocabulary: all shingle mass unseen — staleness 1, rebuild
    val novel = Seq((500L,
      "wholly novel vocabulary cluster zeta omega theta lambda sigma gamma delta"))
      .toDF("doc_id", "text")
    val s1 = Dedup.ngramIndexStaleness(novel, "doc_id", "text",
      wh, "gold", "ng").head()
    assert(s1.getDouble(2) === 1.0)
    assert(Dedup.ngramRebuildIfStale(corpus.unionByName(inDist), novel,
      "doc_id", "text", wh, "gold", "ng"))
    // the rebuild re-froze statistics at the new snapshot: the same
    // batch now reads fully in-distribution
    val s2 = Dedup.ngramIndexStaleness(novel, "doc_id", "text",
      wh, "gold", "ng").head()
    assert(s2.getDouble(2) === 0.0)
  }

  test("one rebuild-if-stale decision: job count pinned") {
    val wh = freshWh("stalejobs")
    build(wh)
    val inDist = Seq((400L, corpusRows.head._2)).toDF("doc_id", "text")
    val (stale, jobs) = org.apache.spark.JobCounting.countJobs(spark.sparkContext)(
      Dedup.ngramRebuildIfStale(corpus, inDist, "doc_id", "text", wh, "gold", "ng"))
    assert(!stale)
    assert(jobs <= RebuildIfStaleJobs, s"jobs: $jobs")
  }

  test("batch keep: ngramJaccardKeep == transitive closure of the exact pairs") {
    // corpus alone: exact dups {0,1} collapse to 0 (size 2), near dups
    // {2,3} to 2 (size 2), 4 and 5 are singletons
    val kept = Dedup.ngramJaccardKeep(corpus, "doc_id", "text",
        shingleK = 3, threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(kept === Map(0L -> 2L, 2L -> 2L, 4L -> 1L, 5L -> 1L))
    // shingle-less docs survive as singletons
    val withTiny = corpus.unionByName(Seq((9L, "tiny doc")).toDF("doc_id", "text"))
    val kept2 = Dedup.ngramJaccardKeep(withTiny, "doc_id", "text",
        shingleK = 3, threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(kept2 === kept + (9L -> 1L))
  }

  // one observable index/sink snapshot: kept rows, posting rows, and
  // set rows with arrays sorted (collect_list order is run-dependent)
  private def ingestState(wh: graft.etl.Warehouse) = {
    val kept = wh.read(spark, "gold", "ng_kept")
      .select(col("doc_id"), col("epoch").cast("long"))
      .as[(Long, Long)].collect().toSet
    val post = wh.read(spark, "gold", "ng_post")
      .select(col("doc_id"), col("sh"), col("__pos"), col("__n"))
      .as[(Long, Long, Int, Int)].collect().toSeq.sorted
    val sets = wh.read(spark, "gold", "ng_sets")
      .select(col("doc_id"), sort_array(col("set")), col("n"))
      .as[(Long, Seq[Long], Int)].collect().toSeq.sortBy(_._1)
    (kept, post, sets)
  }

  test("kill-and-replay: a replayed epoch leaves sink and index unchanged") {
    val wh = freshWh("replay")
    build(wh)
    Dedup.ingestBatch(ExactNgramFamily, batch, epoch = 0L, "doc_id", "text",
      wh, "gold", "ng", threshold = 0.5)
    val afterFirst = ingestState(wh)
    // full replay of the committed epoch: every write is epoch-keyed
    // dynamic overwrite and the keep probe excludes its own epoch's
    // index rows — nothing doubles, nothing vanishes
    Dedup.ingestBatch(ExactNgramFamily, batch, epoch = 0L, "doc_id", "text",
      wh, "gold", "ng", threshold = 0.5)
    assert(ingestState(wh) === afterFirst)
    // epoch 0 kept exactly the increment-keep survivors: 102 (cluster
    // min id), 104, 105 — and their postings/sets joined the index
    assert(afterFirst._1 === Set((102L, 0L), (104L, 0L), (105L, 0L)))
    assert(afterFirst._2.exists(_._1 == 102L))
    // partial-failure replay: epoch 1 crashes after the index append
    // but before the sink write — then replays in full
    val batch2 = Seq(
      (300L, "replayed epochs must not double count their own survivors ever"),
      (301L, "replayed epochs must not double count their own survivors once"))
      .toDF("doc_id", "text")
    Dedup.indexAppend(ExactNgramFamily, batch2.filter(col("doc_id") === 300L),
      "doc_id", "text", wh, "gold", "ng", epoch = 1L)
    Dedup.ingestBatch(ExactNgramFamily, batch2, epoch = 1L, "doc_id", "text",
      wh, "gold", "ng", threshold = 0.5)
    val replayed = ingestState(wh)
    // clean-path control: the same two epochs with no crash anywhere
    val whClean = freshWh("replayclean")
    build(whClean)
    Dedup.ingestBatch(ExactNgramFamily, batch, epoch = 0L, "doc_id", "text",
      whClean, "gold", "ng", threshold = 0.5)
    Dedup.ingestBatch(ExactNgramFamily, batch2, epoch = 1L, "doc_id", "text",
      whClean, "gold", "ng", threshold = 0.5)
    assert(replayed === ingestState(whClean))
    // 300/301 are an intra-batch near-dup cluster: min id survives, and
    // the half-appended 300 did NOT make 301's cluster look like corpus
    assert(replayed._1.contains((300L, 1L)) && !replayed._1.exists(_._1 == 301L))
  }

  test("ingest stream: each batch exact-dedups against what earlier batches kept") {
    val wh = freshWh("stream")
    build(wh)
    val ckpt = org.apache.spark.ScratchDirs.create("graft_ngstream_ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val src =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = Dedup.ingestStream(ExactNgramFamily,
      src.toDF().toDF("doc_id", "text"), "doc_id", "text",
      wh, "gold", "ng", threshold = 0.5, ckpt)
    // batch 1: 200 = exact dup of corpus doc 0 (dropped); 201 = new
    src.addData(
      (200L, "the quick brown fox jumps over the lazy dog in the warm morning sun"),
      (201L, "streaming ingest pipelines deduplicate against their own history forever"))
    q.processAllAvailable()
    // batch 2: 202 = near dup of 201 — kept by the PREVIOUS batch, so
    // the index must have grown mid-stream; 203 = new
    src.addData(
      (202L, "streaming ingest pipelines deduplicate against their own history forever ok"),
      (203L, "entirely separate subject matter appears in the second micro batch"))
    q.processAllAvailable()
    q.stop()
    val kept = wh.read(spark, "gold", "ng_kept")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(201L, 203L))
  }

  test("auto-compaction cadence: files bounded across epochs, probes identical") {
    val wh = freshWh("cadence")
    build(wh)
    def nFiles = Seq("ng_post", "ng_sets")
      .map(WarehouseTestKit.files(wh, "gold", _).size).sum
    val counts = (0 to 5).map { e =>
      val b = Seq((400L + e,
        s"novel cadence document number $e with its own distinct wording"))
        .toDF("doc_id", "text")
      Dedup.ingestBatch(ExactNgramFamily, b, epoch = e.toLong, "doc_id", "text",
        wh, "gold", "ng", threshold = 0.5, compactEvery = 2)
      nFiles
    }
    val epochs = wh.read(spark, "gold", "ng_post")
      .select(col("epoch").cast("long")).distinct().as[Long].collect().toSet
    assert(epochs.subsetOf(Set(-1L, 4L, 5L)))
    assert(counts(4) < counts(3), s"file counts per epoch: $counts")
    assert(counts.last <= counts(4) + 16, s"file counts per epoch: $counts")
    // probes are row-identical to a from-scratch index over the union
    val allDocs = corpus.unionByName((0 to 5).map { e =>
      Seq((400L + e,
        s"novel cadence document number $e with its own distinct wording"))
        .toDF("doc_id", "text")
    }.reduce(_ unionByName _))
    val whFull = freshWh("cadencefull")
    Dedup.ngramIndexPersist(allDocs, "doc_id", "text", whFull, "gold", "ng",
      shingleK = 3, maxShingleFreq = 1000, nPostBuckets = 8, nSetBuckets = 4)
    val probe = Seq((500L,
      "novel cadence document number 3 with its own distinct wording plus"))
      .toDF("doc_id", "text")
    val viaLoop = pairSet(Dedup.ngramJaccardIncrementPairs(probe, "doc_id",
      "text", wh, "gold", "ng", threshold = 0.5), ("id_a", "id_b", "jaccard"))
    val viaFull = pairSet(Dedup.ngramJaccardIncrementPairs(probe, "doc_id",
      "text", whFull, "gold", "ng", threshold = 0.5),
      ("id_a", "id_b", "jaccard"))
    assert(viaLoop === viaFull && viaLoop.nonEmpty)
  }

  test("kept-sink folding: directories bounded across 12 epochs, replay-safe across a fold") {
    // the r11 verdict's structural gap: indexes compacted on cadence
    // but `_kept` accumulated one partition directory per micro-batch
    // forever. Folding collapses committed pepoch partitions into the
    // base while `epoch` (a data column) keeps recording which batch
    // kept each doc.
    val wh = freshWh("keptfold")
    build(wh)
    def keptDirs: Set[String] =
      if (!wh.exists("gold", "ng_kept")) Set.empty
      else WarehouseTestKit.partitionValues(wh, "gold", "ng_kept", "pepoch")
        .map("pepoch=" + _)
    def mkB(e: Int) = Seq((900L + e,
      s"kept fold document number $e with wholly distinct content tokens"))
      .toDF("doc_id", "text")
    def run(e: Int) = Dedup.ingestBatch(ExactNgramFamily, mkB(e), epoch = e.toLong,
      "doc_id", "text", wh, "gold", "ng", threshold = 0.5,
      compactEvery = 3)
    val dirCounts = (0 to 9).map { e => run(e); keptDirs.size }
    // fold cadence 3 → at most the base dir + compactEvery-1 committed
    // epochs + the current one are ever on disk
    assert(dirCounts.max <= 5, s"kept dir counts: $dirCounts")
    // replay ACROSS the fold boundary: epoch 9 folded pepochs < 9; a
    // crash before its checkpoint commit replays the whole epoch —
    // sink, index, and fold must all be unchanged by the second run
    val snap9 = ingestState(wh)
    val dirs9 = keptDirs
    run(9)
    assert(ingestState(wh) === snap9)
    assert(keptDirs === dirs9)
    (10 to 11).foreach(run)
    assert(keptDirs === Set("pepoch=-1", "pepoch=9", "pepoch=10", "pepoch=11"))
    // folding lost NO observability: every epoch's kept doc still
    // carries its epoch in the data column
    val byEpoch = wh.read(spark, "gold", "ng_kept")
      .select(col("doc_id"), col("epoch").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(byEpoch === (0 to 11).map(e => (900L + e, e.toLong)).toSet)
    // and the statistics-rebuild source (epoch =!= current) still sees
    // every committed survivor: 12 kept docs, none from a future epoch
    val src = wh.read(spark, "gold", "ng_kept")
      .filter(col("epoch") =!= lit(12L)).count()
    assert(src === 12L)
  }

  test("rebuildCheckEvery: a drifting-vocabulary stream trips a mid-stream re-freeze") {
    val wh = freshWh("drift")
    build(wh)
    // epoch 0: novel vocabulary — kept (nothing matches), appended
    // FROZEN (no check at epoch 0); the frozen dictionary still knows
    // nothing about it
    val b0 = Seq(
      (600L, "freshly drifted vocabulary alpha beta gamma delta epsilon zeta eta theta"),
      (601L, "freshly drifted vocabulary alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "text")
    Dedup.ingestBatch(ExactNgramFamily, b0, epoch = 0L, "doc_id", "text",
      wh, "gold", "ng", threshold = 0.5,
      rebuildCheckEvery = 1, unseenThreshold = 0.5,
      baseCorpus = Some(corpus))
    // under the (still-frozen) build dictionary, a batch from the
    // drifted distribution reads ~all-unseen
    val b1 = Seq((610L,
      "freshly drifted vocabulary alpha beta gamma delta epsilon zeta eta kappa"))
      .toDF("doc_id", "text")
    val sBefore = Dedup.ngramIndexStaleness(b1, "doc_id", "text",
      wh, "gold", "ng").head().getDouble(2)
    assert(sBefore > 0.5)
    // epoch 1 runs the check: trips, rebuilds over baseCorpus ∪ kept
    // epoch 0 — the drifted vocabulary enters the dictionary — then
    // dedups: 610 near-matches kept 600 and is dropped. (600/601 were
    // themselves an intra-batch near-dup cluster: 600 kept, size 2.)
    Dedup.ingestBatch(ExactNgramFamily, b1, epoch = 1L, "doc_id", "text",
      wh, "gold", "ng", threshold = 0.5,
      rebuildCheckEvery = 1, unseenThreshold = 0.5,
      baseCorpus = Some(corpus))
    val kept = wh.read(spark, "gold", "ng_kept")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(600L))
    // statistics re-froze: the same drifted batch now reads in-distribution
    val sAfter = Dedup.ngramIndexStaleness(b1, "doc_id", "text",
      wh, "gold", "ng").head().getDouble(2)
    assert(sAfter < 0.5)
    // and the rebuilt-mid-stream probe equals a no-drift control where
    // the index was BUILT over corpus ∪ the kept epoch-0 survivor and
    // epoch 1 probed plain — the re-freeze left no statistical residue
    val whCtl = freshWh("driftctl")
    Dedup.ngramIndexPersist(
      corpus.unionByName(b0.filter(col("doc_id") === 600L)), "doc_id",
      "text", whCtl, "gold", "ng", shingleK = 3, maxShingleFreq = 1000,
      nPostBuckets = 8, nSetBuckets = 4)
    val viaCtl = pairSet(Dedup.ngramJaccardIncrementPairs(b1, "doc_id",
      "text", whCtl, "gold", "ng", threshold = 0.5),
      ("id_a", "id_b", "jaccard"))
    // 610 was dropped, so epoch 1 appended nothing: the loop's index is
    // exactly the mid-stream rebuild — probe it plain and compare
    val viaLoop = pairSet(Dedup.ngramJaccardIncrementPairs(b1, "doc_id",
      "text", wh, "gold", "ng", threshold = 0.5),
      ("id_a", "id_b", "jaccard"))
    assert(viaLoop === viaCtl)
    assert(viaCtl.exists { case (a, b, _) => a == 600L && b == 610L })
  }

  test("kill before a rebuild's group commit: readers see the old index") {
    // the r11-ADVICE crash window: the (re)build used to overwrite
    // _meta/_freq/_post/_sets as four sequential non-atomic writes — a
    // crash between _freq and _post left a new dictionary over
    // old-ordered postings, and the replayed staleness check read the
    // NEW _freq, measured low, and skipped the rebuild. Now the four
    // commit as one group version: a rebuild killed after writing every
    // table's files and its manifest, but before linking it, changed
    // nothing a reader sees.
    val wh = freshWh("killswap")
    build(wh) // the OLD index (over `corpus`)
    val log = WarehouseTestKit.log(wh, "gold", "ng")
    val v = wh.snapshot("gold", "ng").version
    def rebuild(w: graft.etl.Warehouse) =
      Dedup.ngramIndexPersist(corpus.unionByName(batch), "doc_id", "text",
        w, "gold", "ng", shingleK = 3, maxShingleFreq = 1000,
        nPostBuckets = 8, nSetBuckets = 4)
    rebuild(wh)
    // the kill: the new version's manifest exists only as a temp file
    java.nio.file.Files.move(log.resolve(s"${v + 1}.json"),
      log.resolve(".killed.tmp"))
    def snap(w: graft.etl.Warehouse) = (
      w.read(spark, "gold", "ng_meta").collect().toSeq,
      w.read(spark, "gold", "ng_freq")
        .select("sh", "freq").as[(Long, Int)].collect().toSeq.sorted,
      w.read(spark, "gold", "ng_post")
        .select(col("doc_id"), col("sh"), col("__pos"), col("__n"))
        .as[(Long, Long, Int, Int)].collect().toSeq.sorted,
      w.read(spark, "gold", "ng_sets")
        .select(col("doc_id"), sort_array(col("set")), col("n"))
        .as[(Long, Seq[Long], Int)].collect().toSeq.sortBy(_._1))
    // every table reads as the old index: a from-scratch control over
    // `corpus` alone
    val whOld = freshWh("killswapold")
    build(whOld)
    assert(snap(wh) === snap(whOld))
    val probe = Seq((700L, corpusRows.head._2)).toDF("doc_id", "text")
    assert(Dedup.ngramIndexStaleness(probe, "doc_id", "text",
      wh, "gold", "ng").head().getDouble(2) === 0.0)
    // the replayed rebuild commits, and its index is EXACTLY a clean
    // rebuild over corpus ∪ batch
    rebuild(wh)
    val whCtl = freshWh("killswapctl")
    rebuild(whCtl)
    assert(snap(wh) === snap(whCtl))
    // and a probe over it behaves like the control's
    val b2 = Seq((800L, batchRows.find(_._1 == 102L).get._2))
      .toDF("doc_id", "text")
    val viaReplayed = pairSet(Dedup.ngramJaccardIncrementPairs(b2, "doc_id",
      "text", wh, "gold", "ng", threshold = 0.5), ("id_a", "id_b", "jaccard"))
    val viaCtl = pairSet(Dedup.ngramJaccardIncrementPairs(b2, "doc_id",
      "text", whCtl, "gold", "ng", threshold = 0.5),
      ("id_a", "id_b", "jaccard"))
    assert(viaReplayed === viaCtl && viaReplayed.nonEmpty)
    // vacuum reclaims the killed rebuild's files and temp manifest
    wh.vacuum(WarehouseTestKit.afterRetention)
    assert(WarehouseTestKit.unreferenced(wh, "gold", "ng").isEmpty)
    assert(!java.nio.file.Files.exists(log.resolve(".killed.tmp")))
    assert(snap(wh) === snap(whCtl))
  }

  test("jaccard-only floor layout: probes at t >= floor identical, below-floor and containment rejected") {
    // containment = false stores only each doc's prefix rows at the
    // tMinJaccard floor — the on-disk footprint cut. The recall
    // contract: any Jaccard probe at threshold >= the floor reads only
    // rows the floor layout kept, so results are IDENTICAL to the full
    // layout; probes the layout cannot serve are rejected loudly.
    val whFloor = freshWh("floor")
    Dedup.ngramIndexPersist(corpus, "doc_id", "text", whFloor, "gold",
      "ng", shingleK = 3, maxShingleFreq = 1000, nPostBuckets = 8,
      nSetBuckets = 4, containment = false, tMinJaccard = 0.5)
    val whFull = freshWh("floorfull")
    build(whFull)
    // the floor stored strictly fewer posting rows
    val nFloor = whFloor.read(spark, "gold", "ng_post").count()
    val nFull = whFull.read(spark, "gold", "ng_post").count()
    assert(nFloor < nFull, s"floor=$nFloor full=$nFull")
    // at the floor threshold: pairs identical to the full layout
    def probe(w: graft.etl.Warehouse, t: Double) =
      pairSet(Dedup.ngramJaccardIncrementPairs(batch, "doc_id", "text",
        w, "gold", "ng", threshold = t), ("id_a", "id_b", "jaccard"))
    assert(probe(whFloor, 0.5) === probe(whFull, 0.5))
    // above the floor too (prefix(0.7) ⊆ prefix(0.5))
    assert(probe(whFloor, 0.7) === probe(whFull, 0.7))
    // appends honor the floor: appended rows are prefix rows only, and
    // post-append probes still match the full layout's
    Dedup.indexAppend(ExactNgramFamily, batch, "doc_id", "text", whFloor, "gold", "ng")
    Dedup.indexAppend(ExactNgramFamily, batch, "doc_id", "text", whFull, "gold", "ng")
    val b2 = Seq((300L, batchRows.find(_._1 == 102L).get._2))
      .toDF("doc_id", "text")
    def probe2(w: graft.etl.Warehouse) =
      pairSet(Dedup.ngramJaccardIncrementPairs(b2, "doc_id", "text",
        w, "gold", "ng", threshold = 0.5), ("id_a", "id_b", "jaccard"))
    assert(probe2(whFloor) === probe2(whFull) && probe2(whFloor).nonEmpty)
    // below the floor: stored postings can't guarantee recall — reject
    val below = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardIncrementPairs(batch, "doc_id", "text",
        whFloor, "gold", "ng", threshold = 0.3).collect()
    }
    assert(below.getMessage.contains("t_min"))
    // containment needs full destination postings — reject
    val cont = intercept[IllegalArgumentException] {
      Dedup.containmentIncrementPairs(batch, "doc_id", "text",
        whFloor, "gold", "ng", threshold = 0.8).collect()
    }
    assert(cont.getMessage.contains("Jaccard-only"))
  }

  test("texts _sets layout: probes identical to arrays across build, append, compact") {
    // setsAsTexts stores (doc_id, text) in `_sets` instead of the
    // incompressible hashed arrays; probes re-derive candidate sets
    // from the pruned text partitions under the frozen dictionary.
    // The contract: every probe result is IDENTICAL to the arrays
    // layout's, through the whole maintenance lifecycle.
    val whT = freshWh("texts")
    Dedup.ngramIndexPersist(corpus, "doc_id", "text", whT, "gold", "ng",
      shingleK = 3, maxShingleFreq = 1000, nPostBuckets = 8,
      nSetBuckets = 4, setsAsTexts = true)
    val whA = freshWh("textsfull")
    build(whA)
    // the stored table holds text, not set arrays
    val cols = whT.read(spark, "gold", "ng_sets").columns.toSet
    assert(cols.contains("text") && !cols.contains("set"))
    // row membership identical: exactly the docs with >=1 capped shingle
    val idsT = whT.read(spark, "gold", "ng_sets")
      .select("doc_id").as[Long].collect().toSet
    val idsA = whA.read(spark, "gold", "ng_sets")
      .select("doc_id").as[Long].collect().toSet
    assert(idsT === idsA)
    def jac(w: graft.etl.Warehouse, b: org.apache.spark.sql.DataFrame) =
      pairSet(Dedup.ngramJaccardIncrementPairs(b, "doc_id", "text",
        w, "gold", "ng", threshold = 0.5), ("id_a", "id_b", "jaccard"))
    def con(w: graft.etl.Warehouse, b: org.apache.spark.sql.DataFrame) =
      pairSet(Dedup.containmentIncrementPairs(b, "doc_id", "text",
        w, "gold", "ng", threshold = 0.8), ("id_src", "id_dst", "containment"))
    assert(jac(whT, batch) === jac(whA, batch) && jac(whT, batch).nonEmpty)
    assert(con(whT, batch) === con(whA, batch) && con(whT, batch).nonEmpty)
    // epoch append writes texts rows; post-append probes still agree
    Dedup.indexAppend(ExactNgramFamily, batch, "doc_id", "text", whT, "gold", "ng",
      epoch = 1L)
    Dedup.indexAppend(ExactNgramFamily, batch, "doc_id", "text", whA, "gold", "ng",
      epoch = 1L)
    val colsApp = whT.read(spark, "gold", "ng_sets").columns.toSet
    assert(colsApp.contains("text") && !colsApp.contains("set"))
    val b2 = Seq((300L, batchRows.find(_._1 == 102L).get._2),
      (301L, corpusRows.find(_._1 == 2L).get._2))
      .toDF("doc_id", "text")
    assert(jac(whT, b2) === jac(whA, b2) && jac(whT, b2).nonEmpty)
    // compaction (fold epochs into base) preserves layout and results
    Dedup.indexCompact(ExactNgramFamily, spark, whT, "gold", "ng", foldEpochsBelow = 2L)
    Dedup.indexCompact(ExactNgramFamily, spark, whA, "gold", "ng", foldEpochsBelow = 2L)
    assert(jac(whT, b2) === jac(whA, b2))
    assert(con(whT, b2) === con(whA, b2))
    // and the compacted texts files stayed zstd (codec survives the
    // rewrite — a snappy compaction would silently grow the table)
    assert(WarehouseTestKit.files(whT, "gold", "ng_sets")
      .forall(_.path.contains(".zstd.")))
  }

  test("texts _sets layout composes with the jaccard-only floor") {
    val whTF = freshWh("textsfloor")
    Dedup.ngramIndexPersist(corpus, "doc_id", "text", whTF, "gold", "ng",
      shingleK = 3, maxShingleFreq = 1000, nPostBuckets = 8,
      nSetBuckets = 4, containment = false, tMinJaccard = 0.5,
      setsAsTexts = true)
    val whFull = freshWh("textsfloorref")
    build(whFull)
    def jac(w: graft.etl.Warehouse, t: Double) =
      pairSet(Dedup.ngramJaccardIncrementPairs(batch, "doc_id", "text",
        w, "gold", "ng", threshold = t), ("id_a", "id_b", "jaccard"))
    assert(jac(whTF, 0.5) === jac(whFull, 0.5) && jac(whTF, 0.5).nonEmpty)
    // the floor's rejection paths still fire on the combined layout
    assert(intercept[IllegalArgumentException] {
      Dedup.ngramJaccardIncrementPairs(batch, "doc_id", "text",
        whTF, "gold", "ng", threshold = 0.3).collect()
    }.getMessage.contains("t_min"))
  }

  test("texts _sets layout survives both staleness-rebuild paths") {
    // Both rebuild paths — the one-shot policy (ngramRebuildIfStale)
    // and the mid-stream re-freeze inside the ingest epoch — must
    // re-persist with the INDEX'S OWN layout flags: an omitted
    // setsAsTexts re-froze a texts index as arrays on the first
    // rebuild, silently reverting the footprint win (r14 ADVICE).
    def setsCols(wh: graft.etl.Warehouse) =
      wh.read(spark, "gold", "ng_sets").columns.toSet
    def assertTexts(wh: graft.etl.Warehouse, where: String) = {
      val c = setsCols(wh)
      assert(c.contains("text") && !c.contains("set"),
        s"$where re-froze the texts layout as ${c.mkString(",")}")
    }
    // novel-content batch → unseen_frac ≈ 1 → rebuild fires
    val novel = Seq(
      (500L, "wholly novel vocabulary appears across this entire batch today"),
      (501L, "nothing in the frozen dictionary resembles any of these words"))
      .toDF("doc_id", "text")
    // path 1: the one-shot policy
    val wh1 = freshWh("textsreb1")
    Dedup.ngramIndexPersist(corpus, "doc_id", "text", wh1, "gold", "ng",
      shingleK = 3, maxShingleFreq = 1000, nPostBuckets = 8,
      nSetBuckets = 4, setsAsTexts = true)
    assert(Dedup.ngramRebuildIfStale(corpus, novel, "doc_id", "text",
      wh1, "gold", "ng", unseenThreshold = 0.5))
    assertTexts(wh1, "ngramRebuildIfStale")
    // path 2: the mid-stream re-freeze (epoch > 0, cadence 1, low bar)
    val wh2 = freshWh("textsreb2")
    Dedup.ngramIndexPersist(corpus, "doc_id", "text", wh2, "gold", "ng",
      shingleK = 3, maxShingleFreq = 1000, nPostBuckets = 8,
      nSetBuckets = 4, setsAsTexts = true)
    Dedup.ingestBatch(ExactNgramFamily, novel, epoch = 1L, "doc_id", "text", wh2,
      "gold", "ng", threshold = 0.5, rebuildCheckEvery = 1,
      unseenThreshold = 0.1, baseCorpus = Some(corpus))
    assertTexts(wh2, "ingestBatch mid-stream rebuild")
    // and the rebuilt index still probes identically to an arrays twin
    val whA = freshWh("textsrebref")
    build(whA)
    Dedup.ngramRebuildIfStale(corpus, novel, "doc_id", "text",
      whA, "gold", "ng", unseenThreshold = 0.5)
    val jT = pairSet(Dedup.ngramJaccardIncrementPairs(batch, "doc_id",
      "text", wh1, "gold", "ng", threshold = 0.5),
      ("id_a", "id_b", "jaccard"))
    val jA = pairSet(Dedup.ngramJaccardIncrementPairs(batch, "doc_id",
      "text", whA, "gold", "ng", threshold = 0.5),
      ("id_a", "id_b", "jaccard"))
    assert(jT === jA && jT.nonEmpty)
  }

  test("texts _sets layout: a doc_id spanning two epochs verifies per stored row") {
    // the arrays layout stores one `_sets` row per (doc_id, epoch); the
    // texts reader must group its re-shingle by epoch too, or the two
    // layouts diverge on a doc_id appended twice with different text
    // (merged union set vs per-version sets — r14 ADVICE)
    def ep(id: Long, text: String) = Seq((id, text)).toDF("doc_id", "text")
    val whT = freshWh("textsepoch")
    Dedup.ngramIndexPersist(corpus, "doc_id", "text", whT, "gold", "ng",
      shingleK = 3, maxShingleFreq = 1000, nPostBuckets = 8,
      nSetBuckets = 4, setsAsTexts = true)
    val whA = freshWh("textsepochref")
    build(whA)
    for (w <- Seq(whT, whA)) {
      Dedup.indexAppend(ExactNgramFamily,
        ep(600L, "two epoch versions of one document first variant body text"),
        "doc_id", "text", w, "gold", "ng", epoch = 1L)
      Dedup.indexAppend(ExactNgramFamily,
        ep(600L, "two epoch versions of one document second variant body text"),
        "doc_id", "text", w, "gold", "ng", epoch = 2L)
    }
    val b = ep(700L,
      "two epoch versions of one document first variant body text here")
    def jac(w: graft.etl.Warehouse) =
      pairSet(Dedup.ngramJaccardIncrementPairs(b, "doc_id", "text",
        w, "gold", "ng", threshold = 0.5), ("id_a", "id_b", "jaccard"))
    def con(w: graft.etl.Warehouse) =
      pairSet(Dedup.containmentIncrementPairs(b, "doc_id", "text",
        w, "gold", "ng", threshold = 0.8),
        ("id_src", "id_dst", "containment"))
    assert(jac(whT) === jac(whA) && jac(whT).nonEmpty)
    assert(con(whT) === con(whA))
  }

  test("format_version: a pre-v4 index fails with an explicit rebuild-required error") {
    val wh = freshWh("oldfmt")
    build(wh)
    // regress the meta to the pre-versioned shape (no format_version
    // column) — what any standing index built before v4 looks like
    val legacy = Seq((3, 1000, 8, 4))
      .toDF("shingle_k", "max_freq", "n_post_buckets", "n_set_buckets")
    wh.overwrite(legacy, "gold", "ng_meta")
    val e = intercept[IllegalStateException] {
      Dedup.ngramJaccardIncrementPairs(batch, "doc_id", "text",
        wh, "gold", "ng", threshold = 0.5).collect()
    }
    assert(e.getMessage.contains("rebuild") &&
      e.getMessage.contains("format"))
  }

  test("build-time cap drops boilerplate from corpus AND batch sets") {
    // cap = 1: the exact-dup class {0,1} caps out entirely (freq 2), so
    // the re-ingested copy 100 has no capped shingles either — no pair.
    // Singleton-shingle docs (4 vs 101) still pair.
    val wh = freshWh("cap1")
    build(wh, cap = 1)
    val inc = pairSet(Dedup.ngramJaccardIncrementPairs(batch, "doc_id",
      "text", wh, "gold", "ng", threshold = 0.5),
      ("id_a", "id_b", "jaccard"))
    assert(!inc.exists { case (a, b, _) => b == 100L || a == 100L })
    assert(inc.exists { case (a, b, j) => a == 4L && b == 101L && j >= 0.5 })
  }

  test("compaction after a crashed group commit sees the last version") {
    IndexLifecycle.crashedCommitCompaction(ExactNgramFamily, corpus, batch)
  }

  test("ratio-triggered compaction folds only when the delta earns its rewrite") {
    IndexLifecycle.ratioTriggeredCompaction(ExactNgramFamily, corpus, batch)
  }

  test("one ingest epoch: job count pinned, caller's job description restored") {
    val jobs = IndexLifecycle.ingestEpochJobs(ExactNgramFamily, corpus, batch)
    assert(jobs <= IngestEpochJobs, s"jobs: $jobs")
  }

  test("one-shot compaction (no fold bound) leaves the kept sink untouched") {
    // the kept-sink fold used to read-and-rewrite the entire sink even
    // on the Long.MinValue default, where no epoch can fold — a
    // corpus-sized no-op added to every plain index compaction.
    val wh = freshWh("nofold")
    build(wh)
    wh.overwritePartitioned(Seq((1L, 0L, 0L)).toDF("doc_id", "epoch", "pepoch"),
      "gold", "ng_kept", Seq("pepoch"))
    val before = wh.snapshot("gold", "ng_kept")
    Dedup.indexCompact(ExactNgramFamily, spark, wh, "gold", "ng")
    assert(wh.snapshot("gold", "ng_kept") === before,
      "kept sink rewritten by a fold-less compaction")
  }
}

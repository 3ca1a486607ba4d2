package graft.textops

import java.nio.file.Files
import org.scalatest.Assertions
import org.apache.spark.JobCounting
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.etl.{TestSessions, Warehouse, WarehouseTestKit}
import graft.etl.TestSessions.spark.implicits._
import CurationStream.{DedupFamily, ExactNgramFamily, MinHashFamily}

/** Lifecycle behaviour both standing-index families share — compaction
  * after a crashed group commit, the ratio-triggered fold, one ingest
  * epoch —
  * written once and run for each family by its spec
  * ([[IncrementalDedupSpec]] for MinHash, [[PostingIndexSpec]] for the
  * exact family) over that spec's corpus and batch. The index of a
  * family is named after its job-description tag (`nd` / `ng`). */
object IndexLifecycle extends Assertions {
  private def spark = TestSessions.spark

  def freshWh(tag: String): Warehouse = Warehouse(
    org.apache.spark.ScratchDirs.create(s"graft_lifecycle_$tag").toString)

  def build(family: DedupFamily, wh: Warehouse, docs: DataFrame): Unit =
    family match {
      case MinHashFamily =>
        Dedup.nearDedupIndexPersist(docs, "doc_id", "text", wh, "gold", "nd",
          shingleK = 3, numHashes = 32, bands = 8, nBuckets = 8,
          nSetBuckets = 4)
      case ExactNgramFamily =>
        Dedup.ngramIndexPersist(docs, "doc_id", "text", wh, "gold", "ng",
          shingleK = 3, maxShingleFreq = 1000, nPostBuckets = 8,
          nSetBuckets = 4)
    }

  /** The family's incremental Jaccard pairs of `batch` at t = 0.5. */
  def pairs(family: DedupFamily, wh: Warehouse,
            batch: DataFrame): Set[(Long, Long, Double)] = {
    val df = family match {
      case MinHashFamily =>
        Dedup.nearDedupIncrementPairs(batch, "doc_id", "text", wh, "gold",
          "nd", threshold = 0.5)
      case ExactNgramFamily =>
        Dedup.ngramJaccardIncrementPairs(batch, "doc_id", "text", wh, "gold",
          "ng", threshold = 0.5)
    }
    df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
  }

  /** Every row of every table of the family's group, columns sorted by
    * name and arrays sorted — equal for logically identical indexes
    * whatever their file split. */
  private def snapshot(family: DedupFamily, wh: Warehouse) = {
    val snap = wh.snapshot("gold", family.tag)
    snap.tables.keys.toSeq.sorted.map { t =>
      val df = snap.read(spark, t)
      df.select(df.columns.sorted.toSeq.map { c =>
          df.schema(c).dataType match {
            case _: ArrayType => sort_array(col(c)).as(c)
            case _ => col(c)
          }
        }: _*)
        .collect().map(_.toString).sorted.toSeq
    }
  }

  /** A rebuild over corpus ∪ batch crashes after writing every table's
    * files and its manifest, before linking it. A one-shot compaction
    * after the crash must rewrite the LAST COMMITTED group — never the
    * crashed rebuild's tables, never a mix — and its own commit must
    * succeed; vacuum then reclaims everything the crash left. */
  def crashedCommitCompaction(family: DedupFamily, corpus: DataFrame,
                              batch: DataFrame): Unit = {
    val t = family.tag
    val wh = freshWh("ccrash")
    build(family, wh, corpus)
    val committed = snapshot(family, wh)
    val log = WarehouseTestKit.log(wh, "gold", t)
    val v = wh.snapshot("gold", t).version
    build(family, wh, corpus.unionByName(batch))
    Files.move(log.resolve(s"${v + 1}.json"), log.resolve(".crashed.tmp"))
    assert(snapshot(family, wh) === committed)
    // the crash replay path is a DIRECT compaction call, not a probe
    Dedup.indexCompact(family, spark, wh, "gold", t)
    assert(wh.snapshot("gold", t).version === v + 1)
    assert(snapshot(family, wh) === committed)
    wh.vacuum(WarehouseTestKit.afterRetention)
    assert(!Files.exists(log.resolve(".crashed.tmp")))
    assert(WarehouseTestKit.unreferenced(wh, "gold", t).isEmpty)
    // logically identical to a clean from-scratch build of the corpus
    val whCtl = freshWh("ccrashctl")
    build(family, whCtl, corpus)
    assert(snapshot(family, wh) === snapshot(family, whCtl))
  }

  /** The geometric policy: a fixed cadence rewrites the O(corpus) base
    * on a schedule (quadratic total rewrite work); the ratio trigger
    * folds only when committed-delta bytes reach minFoldRatio × base
    * bytes — constant write amplification. */
  def ratioTriggeredCompaction(family: DedupFamily, corpus: DataFrame,
                               batch: DataFrame): Unit = {
    val t = family.tag
    val wh = freshWh("ratio")
    build(family, wh, corpus)
    def epochDirs: Set[String] =
      WarehouseTestKit.partitionValues(wh, "gold", t + family.keyTable, "epoch")
        .map("epoch=" + _) - "epoch=-1"
    // a tiny committed epoch: delta ≪ ratio × base → NOT due, no fold
    Dedup.indexAppend(family,
      Seq((900L, "one small appended document about nothing in particular"))
        .toDF("doc_id", "text"),
      "doc_id", "text", wh, "gold", t, epoch = 1L)
    assert(!Dedup.indexCompactIfDue(family, spark, wh, "gold", t,
      currentEpoch = 99L, minFoldRatio = 0.5))
    assert(epochDirs.contains("epoch=1"))
    val before = pairs(family, wh, batch)
    // pile on corpus-sized committed epochs until delta ≥ ratio × base
    // (doc-keyed vocabulary — these must never pair with the probe
    // batch, so the before/after comparison isolates the fold)
    (2L to 4L).foreach { e =>
      Dedup.indexAppend(family,
        corpus.select((col("doc_id") + lit(1000L * e)).as("doc_id"),
          concat_ws(" ", (1 to 14).map(i =>
            concat(lit(s"zfill${e}w$i"), col("doc_id"))): _*).as("text")),
        "doc_id", "text", wh, "gold", t, epoch = e)
    }
    assert(Dedup.indexCompactIfDue(family, spark, wh, "gold", t,
      currentEpoch = 99L, minFoldRatio = 0.5))
    assert(epochDirs.isEmpty) // all committed epochs folded into base
    // the fold changed nothing a probe can see (beyond the new docs,
    // which both sides of this comparison include)
    assert(pairs(family, wh, batch) === before)
    // and once folded, the same trigger is quiescent
    assert(!Dedup.indexCompactIfDue(family, spark, wh, "gold", t,
      currentEpoch = 99L, minFoldRatio = 0.5))
  }

  /** Spark jobs of one ingest epoch of `batch` against an index over
    * `corpus`. The epoch must hand the caller's job description back:
    * its phases name their jobs, and a label left on the thread would
    * name every later job of the caller. */
  def ingestEpochJobs(family: DedupFamily, corpus: DataFrame,
                      batch: DataFrame): Int = {
    val wh = freshWh("jobs")
    build(family, wh, corpus)
    val sc = spark.sparkContext
    sc.setJobDescription("caller's phase")
    try {
      val (_, jobs) = JobCounting.countJobs(sc)(
        Dedup.ingestBatch(family, batch, 0L, "doc_id", "text", wh, "gold",
          family.tag, threshold = 0.5))
      assert(sc.getLocalProperty("spark.job.description") ===
        "caller's phase")
      jobs
    } finally sc.setJobDescription(null)
  }
}

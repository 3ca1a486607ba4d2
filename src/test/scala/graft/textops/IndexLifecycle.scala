package graft.textops

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.Assertions
import org.apache.spark.JobCounting
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.etl.{TestSessions, Warehouse}
import graft.etl.TestSessions.spark.implicits._
import CurationStream.{DedupFamily, ExactNgramFamily, MinHashFamily}

/** Lifecycle behaviour both standing-index families share — resume of a
  * crashed group promotion, the ratio-triggered fold, one ingest epoch —
  * written once and run for each family by its spec
  * ([[IncrementalDedupSpec]] for MinHash, [[PostingIndexSpec]] for the
  * exact family) over that spec's corpus and batch. The index of a
  * family is named after its job-description tag (`nd` / `ng`). */
object IndexLifecycle extends Assertions {
  private def spark = TestSessions.spark

  def freshWh(tag: String): Warehouse = Warehouse(
    Files.createTempDirectory(s"graft_lifecycle_$tag").toString)

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
  private def snapshot(family: DedupFamily, wh: Warehouse) =
    family.tables(family.tag).map { t =>
      val df = spark.read.parquet(wh.path("gold", t))
      df.select(df.columns.sorted.toSeq.map { c =>
          df.schema(c).dataType match {
            case _: ArrayType => sort_array(col(c)).as(c)
            case _ => col(c)
          }
        }: _*)
        .collect().map(_.toString).sorted.toSeq
    }

  /** A one-shot maintenance call writes into the same `._tmp`
    * namespace the staged-group protocol uses. Without resuming the
    * pending group first, compaction after a mid-promotion crash
    * overwrote the staged tables and the later marker-triggered resume
    * promoted a half-group — a silently mixed index. */
  def crashedPromotionCompaction(family: DedupFamily, corpus: DataFrame,
                                 batch: DataFrame): Unit = {
    val t = family.tag
    val wh = freshWh("cresume")
    build(family, wh, corpus) // the OLD index
    val whNew = freshWh("cresumenew")
    build(family, whNew, corpus.unionByName(batch))
    val tables = family.tables(t)
    tables.foreach { tb =>
      Files.move(Paths.get(whNew.path("gold", tb)),
        Paths.get(wh.path("gold", tb + "._tmp")),
        StandardCopyOption.ATOMIC_MOVE)
    }
    // the crash: marker down, only the first two tables swapped
    Files.createFile(Paths.get(wh.path("gold", s"$t._pending")))
    tables.take(2).foreach(wh.promoteStaged("gold", _))
    // the crash replay path is a DIRECT compaction call, not a probe
    Dedup.indexCompact(family, spark, wh, "gold", t)
    assert(!Files.exists(Paths.get(wh.path("gold", s"$t._pending"))))
    tables.foreach { tb =>
      assert(!Files.exists(Paths.get(wh.path("gold", tb + "._tmp"))),
        s"stranded tmp for $tb")
    }
    // logically identical to a clean from-scratch rebuild over the union
    val whCtl = freshWh("cresumectl")
    build(family, whCtl, corpus.unionByName(batch))
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
    def epochDirs: Set[String] = {
      val root = new java.io.File(wh.path("gold", t + family.keyTable))
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory)
        .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty))
        .map(_.getName).filter(_.startsWith("epoch="))
        .filterNot(_ == "epoch=-1").toSet
    }
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

package graft.textops

import org.apache.spark.JobCounting
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.etl.Warehouse
import Dedup.PersistTracker

/** The corpus-curation pipeline as a CONTINUOUS ingest: the batch shape
  * (lang gate → quality gate → dedup → kept corpus; the curation100
  * probe / `pipe_corpus_curation` entry) recomposed over the
  * standing-index ingest loop ([[Dedup.ingestBatch]] over the MinHash
  * band index or the exact posting index —
  * [[CurationStream.DedupFamily]]) so each micro-batch
  * gates itself, dedups against everything every earlier epoch kept,
  * and lands its survivors exactly-once — the end-to-end production
  * shape of a crawl feed at 100 TB, where "the corpus" is never
  * rebuilt, only appended to.
  *
  * Per epoch the funnel observables land in `<table>_funnel`
  * (epoch, n_in, n_lang, n_quality, n_kept), keyed by epoch via dynamic
  * partition overwrite — the same exactly-once discipline as the sink
  * and index appends, so a replayed epoch overwrites its own funnel row
  * rather than double-counting.
  *
  * Equivalence to the batch run (probe-checked by the `curationstream`
  * scale probe, which runs at commit 8822c58): when near-dup clusters
  * are cliques (replica-style duplication — the dominant crawl shape)
  * and batches arrive in id order, the streamed kept set is IDENTICAL
  * to the batch pipeline's (min-id rep per cluster): the earliest epoch
  * keeps the cluster's min-id member and every later member dies
  * against it. For non-clique chains the stream's corpus-wins policy
  * can keep an extra member a full rebuild would collapse — the same
  * stated divergence as [[Dedup.nearDedupIncrementKeep]].
  */
object CurationStream {
  import TextFunctions._

  /** The dedup stage a curation pipeline pays for (r10 verdict: the
    * stream was hard-wired to MinHash; a production curator should be
    * able to pay for exactness), and the parameter of the one
    * standing-index lifecycle in [[Dedup]] (append, compaction, the
    * ingest epoch and its stream). Both families share the identical
    * gate → keep → exactly-once sink composition; a family supplies
    * only what differs: its tables, its `_meta`, its per-doc sketch
    * rows, its probe and keep, and its statistics re-freeze. */
  sealed trait DedupFamily {
    /** The family's `_meta` parameters. */
    private[textops] type Meta <: Dedup.IndexMeta
    /** Prefix of the job descriptions of the family's phases. */
    private[textops] def tag: String
    /** How errors name the index, and the persist that rebuilds it. */
    private[textops] def indexName: String
    private[textops] def persistName: String
    private[textops] def formatVersion: Int
    /** `_meta`'s one row, read by column name, of group version `snap`. */
    private[textops] def meta(m: Row, snap: Warehouse.Snapshot): Meta
    /** The epoch-partitioned key table: its name suffix, its bucket
      * column, and the probe's join keys that sort rows in a bucket. */
    private[textops] def keyTable: String
    private[textops] def keyPart: String
    private[textops] def keySort: Seq[String]
    /** A batch's per-doc index rows under `meta`: (key rows carrying
      * `keyPart`, sets (doc_id, set, n)), pinned on `tracker`. */
    private[textops] def sketch(batch: DataFrame, idCol: String,
        textCol: String, wh: Warehouse, layer: String, table: String,
        meta: Meta, tracker: PersistTracker): (DataFrame, DataFrame)
    /** The key rows an index stores of a sketch's. */
    private[textops] def stored(keys: DataFrame, meta: Meta): DataFrame = keys
    /** Probe the index with a batch's sketch and keep the survivors,
      * corpus wins: (doc_id, cluster_size). */
    private[textops] def keep(batch: DataFrame, idCol: String,
        textCol: String, wh: Warehouse, layer: String, table: String,
        meta: Meta, keys: DataFrame, sets: DataFrame, threshold: Double,
        broadcastDocLimit: Long, tracker: PersistTracker,
        excludeEpoch: Long): DataFrame
    /** Re-freeze frozen statistics at epoch start; whether the index was
      * rebuilt. A family without them has nothing to do. */
    private[textops] def refreeze(batch: DataFrame, epoch: Long,
        idCol: String, textCol: String, wh: Warehouse, layer: String,
        table: String, meta: Meta, unseenThreshold: Double,
        baseCorpus: Option[DataFrame]): Boolean = false
  }

  /** MinHash band index ([[Dedup.nearDedupIndexPersist]]): sketch
    * recall — banding escape probability (1−s^r)^b, negligible at
    * real near-dup similarities — at the lowest probe cost. */
  case object MinHashFamily extends DedupFamily {
    private[textops] type Meta = Dedup.MinhashMeta
    private[textops] def tag = "nd"
    private[textops] def indexName = "MinHash index"
    private[textops] def persistName = "nearDedupIndexPersist"
    private[textops] def formatVersion = Dedup.NearDedupIndexFormatVersion
    private[textops] def meta(m: Row, snap: Warehouse.Snapshot) =
      Dedup.MinhashMeta(m.getAs[Int]("shingle_k"), m.getAs[Int]("num_hashes"),
        m.getAs[Int]("bands"), m.getAs[Int]("n_buckets"),
        m.getAs[Int]("n_set_buckets"), m.getAs[String]("sets_layout"))(snap)
    private[textops] def keyTable = "_bands"
    private[textops] def keyPart = "pb"
    private[textops] def keySort = Seq("band", "band_hash")
    private[textops] def sketch(batch: DataFrame, idCol: String,
        textCol: String, wh: Warehouse, layer: String, table: String,
        meta: Meta, tracker: PersistTracker) =
      Dedup.minhashSketch(batch, idCol, textCol, meta, tracker)
    private[textops] def keep(batch: DataFrame, idCol: String,
        textCol: String, wh: Warehouse, layer: String, table: String,
        meta: Meta, keys: DataFrame, sets: DataFrame, threshold: Double,
        broadcastDocLimit: Long, tracker: PersistTracker,
        excludeEpoch: Long) =
      Dedup.minhashKeep(batch, idCol, textCol, wh, layer, table, meta, keys,
        sets, threshold, broadcastDocLimit, tracker, excludeEpoch)
  }

  /** Exact prefix-filter posting index ([[Dedup.ngramIndexPersist]]):
    * ZERO recall loss under the index's frozen statistics, plus the
    * in-loop statistics-refresh cadence (`rebuildCheckEvery`). */
  case object ExactNgramFamily extends DedupFamily {
    private[textops] type Meta = Dedup.NgramMeta
    private[textops] def tag = "ng"
    private[textops] def indexName = "posting index"
    private[textops] def persistName = "ngramIndexPersist"
    private[textops] def formatVersion = Dedup.NgramIndexFormatVersion
    private[textops] def meta(m: Row, snap: Warehouse.Snapshot) =
      Dedup.NgramMeta(m.getAs[Int]("shingle_k"), m.getAs[Int]("max_freq"),
        m.getAs[Int]("n_post_buckets"), m.getAs[Int]("n_set_buckets"),
        m.getAs[Boolean]("containment"), m.getAs[Double]("t_min"),
        m.getAs[String]("sets_layout"))(snap)
    private[textops] def keyTable = "_post"
    private[textops] def keyPart = "sbucket"
    private[textops] def keySort = Seq("sh", "doc_id")
    private[textops] def sketch(batch: DataFrame, idCol: String,
        textCol: String, wh: Warehouse, layer: String, table: String,
        meta: Meta, tracker: PersistTracker) =
      Dedup.batchPostings(batch, idCol, textCol, wh, layer, table, meta,
        tracker)
    /** A Jaccard-only index stores only the `t_min`-prefix posting
      * rows, at build and on every append. */
    override private[textops] def stored(keys: DataFrame, meta: Meta) =
      if (meta.containment) keys else Dedup.prefixRows(keys, meta.tMin)
    private[textops] def keep(batch: DataFrame, idCol: String,
        textCol: String, wh: Warehouse, layer: String, table: String,
        meta: Meta, keys: DataFrame, sets: DataFrame, threshold: Double,
        broadcastDocLimit: Long, tracker: PersistTracker,
        excludeEpoch: Long) =
      Dedup.ngramKeep(batch, idCol, wh, layer, table, meta, keys, sets,
        threshold, broadcastDocLimit, tracker, excludeEpoch)
    override private[textops] def refreeze(batch: DataFrame, epoch: Long,
        idCol: String, textCol: String, wh: Warehouse, layer: String,
        table: String, meta: Meta, unseenThreshold: Double,
        baseCorpus: Option[DataFrame]): Boolean =
      Dedup.ngramRefreeze(batch, epoch, idCol, textCol, wh, layer, table,
        meta, unseenThreshold, baseCorpus)
  }

  /** One epoch: gate → incremental dedup ingest (family-selected) →
    * funnel row. Extracted from the foreachBatch closure so
    * kill-and-replay is directly testable (CurationStreamSpec).
    * `rebuildCheckEvery` (exact family only) runs the frozen-statistics
    * staleness check on the gated batch every that-many epochs and
    * rebuilds the posting index over the `_kept` corpus when it trips
    * — the curated corpus IS the kept table, so the loop is
    * self-contained (no external base corpus needed). */
  def curationIngestBatch(b: DataFrame, epoch: Long, idCol: String,
      textCol: String, wh: Warehouse, layer: String,
      table: String, threshold: Double, langCode: String = "en",
      minQuality: Double = 0.5, broadcastDocLimit: Long = 200000L,
      compactEvery: Int = 0, family: DedupFamily = MinHashFamily,
      rebuildCheckEvery: Int = 0, compactMinRatio: Double = 0.0): Unit = {
    val spark = b.sparkSession
    import spark.implicits._
    val in = b.select(col(idCol).cast(LongType).as(idCol), col(textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE multi-aggregate pass computes all three funnel counts
      // (§1.5/§2.3: this was three persisted frames + three count jobs
      // per epoch — pure per-job fixed cost at micro-batch sizes, and
      // the two gate persists leaked heap pressure into the dedup
      // stage). The gates are single-scan codegen'd expressions (native
      // langId / qualityScore); count(when(...)) ≡ filter + count.
      val langOk = langId(col(textCol)) === langCode
      val qualOk = qualityScore(col(textCol)) >= minQuality
      val g = JobCounting.described(spark.sparkContext, "curation: gates") {
        in.agg(
          count(lit(1)).as("n_in"),
          count(when(langOk, 1)).as("n_lang"),
          count(when(langOk && qualOk, 1)).as("n_quality")).head()
      }
      val (nIn, nLang, nQual) = (g.getLong(0), g.getLong(1), g.getLong(2))
      // the gated frame stays LAZY: its single consumer is the ingest
      // batch, which persists the batch itself — a persist here would
      // only force an extra materialization
      val qual = in.filter(langOk && qualOk)
      // nKept comes from the epoch's own checkpointed survivors, never
      // from reading the `_kept` sink back: an epoch (or bootstrap)
      // whose survivor set is empty writes no partition, and reading a
      // never-populated parquet dir fails on schema inference — which
      // would wedge every subsequent epoch (r10 ADVICE)
      val nKept = Dedup.ingestBatch(family, qual, epoch, idCol, textCol, wh,
        layer, table, threshold, broadcastDocLimit, compactEvery,
        compactMinRatio, rebuildCheckEvery)
      JobCounting.described(spark.sparkContext, "curation: funnel sink") {
        // epoch rides as data (the funnel's key); pepoch is the
        // partition/replay unit the cadence fold below collapses
        wh.overwritePartitionsDynamic(
          Seq((nIn, nLang, nQual, nKept, epoch, epoch))
            .toDF("n_in", "n_lang", "n_quality", "n_kept", "epoch", "pepoch"),
          layer, s"${table}_funnel", Seq("pepoch"))
        // the funnel folds on the same cadence as the index and the
        // `_kept` sink (the inner ingest batch compacts both): committed
        // epochs collapse into the base partition so a year of 5-minute
        // epochs leaves a bounded directory count, with the per-epoch
        // rows (epoch data column) intact — the one shared fold
        // implementation ([[Dedup.foldSinkPartitions]])
        if (compactEvery > 0 && epoch > 0 && epoch % compactEvery == 0)
          Dedup.foldSinkPartitions(spark, wh, layer, s"${table}_funnel",
            foldEpochsBelow = epoch)
      }
    } finally {
      in.unpersist()
    }
    ()
  }

  /** Bootstrap the curated corpus + its index from an initial corpus —
    * the one-time batch build the stream then appends to forever: gate
    * → the family's batch keep ([[Dedup.nearDedupKeep]] /
    * [[Dedup.ngramJaccardKeep]], min-id rep per cluster) → the family's
    * index persist over the SURVIVORS → the kept sink and funnel rows
    * land under epoch −1 (the base epoch streaming epochs are disjoint
    * from). For the exact family, `numHashes`/`bands` are unused and
    * `nBuckets` keys the posting buckets; `maxShingleFreq` is the
    * frozen boilerplate cap. */
  def curationBootstrap(initial: DataFrame, idCol: String,
      textCol: String, wh: Warehouse, layer: String,
      table: String, threshold: Double, shingleK: Int = 3,
      numHashes: Int = 32, bands: Int = 16, nBuckets: Int = 64,
      nSetBuckets: Int = 64, langCode: String = "en",
      minQuality: Double = 0.5, broadcastDocLimit: Long = 200000L,
      family: DedupFamily = MinHashFamily,
      maxShingleFreq: Int = 1000): Unit = {
    val spark = initial.sparkSession
    import spark.implicits._
    val in = initial.select(col(idCol).cast(LongType).as(idCol),
        col(textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // gate frames release in `finally` — same leak class as the epoch
    // path (r10 ADVICE)
    var gated: DataFrame = null
    var qual: DataFrame = null
    try {
      val nIn = in.count()
      gated = in.filter(langId(col(textCol)) === langCode)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nLang = gated.count()
      qual = gated.filter(qualityScore(col(textCol)) >= minQuality)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nQual = qual.count()
      val keep = family match {
        case MinHashFamily =>
          Dedup.nearDedupKeep(qual, idCol, textCol, shingleK, numHashes,
            bands, threshold, broadcastDocLimit)
        case ExactNgramFamily =>
          Dedup.ngramJaccardKeep(qual, idCol, textCol, shingleK,
            threshold, maxShingleFreq, broadcastDocLimit)
      }
      val keptDocs = qual.join(
          keep.withColumnRenamed("doc_id", idCol), idCol)
        .localCheckpoint(true)
      family match {
        case MinHashFamily =>
          Dedup.nearDedupIndexPersist(keptDocs, idCol, textCol, wh, layer,
            table, shingleK, numHashes, bands, nBuckets, nSetBuckets)
        case ExactNgramFamily =>
          // the curation loop is this index's ONLY consumer and probes
          // Jaccard at exactly `threshold`, so the bootstrap opts into
          // the Jaccard-only layout: `_post` stores each doc's prefix
          // rows at the threshold floor — the measured ~(1 − t) cut of
          // the index's dominant table — and the in-loop statistics
          // re-freeze preserves the floor. Containment probes against
          // a curation index are rejected explicitly (they need the
          // full-postings layout a standalone ngramIndexPersist keeps
          // by default).
          Dedup.ngramIndexPersist(keptDocs, idCol, textCol, wh, layer,
            table, shingleK, maxShingleFreq, nBuckets, nSetBuckets,
            containment = false, tMinJaccard = threshold)
      }
      // STATIC partitioned overwrites: the bootstrap is the from-scratch
      // build, so it truncates any previous sink state instead of
      // dynamic-merging into it
      wh.overwritePartitioned(
        keptDocs.withColumn("epoch", lit(-1L))
          .withColumn("pepoch", lit(-1L)),
        layer, s"${table}_kept", Seq("pepoch"))
      wh.overwritePartitioned(
        Seq((nIn, nLang, nQual, keptDocs.count(), -1L, -1L))
          .toDF("n_in", "n_lang", "n_quality", "n_kept", "epoch", "pepoch"),
        layer, s"${table}_funnel", Seq("pepoch"))
    } finally {
      if (gated != null) gated.unpersist()
      if (qual != null) qual.unpersist()
      in.unpersist()
    }
  }

  /** The continuously-running stream around [[curationIngestBatch]].
    * Same delivery contract as [[Dedup.ingestStream]]:
    * effectively exactly-once — every write is epoch-keyed dynamic
    * overwrite and the dedup probe excludes its own epoch's index
    * rows. */
  def curationIngestStream(batches: DataFrame, idCol: String,
      textCol: String, wh: Warehouse, layer: String,
      table: String, threshold: Double, checkpointDir: String,
      langCode: String = "en", minQuality: Double = 0.5,
      broadcastDocLimit: Long = 200000L, compactEvery: Int = 0,
      family: DedupFamily = MinHashFamily, rebuildCheckEvery: Int = 0,
      compactMinRatio: Double = 0.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Dedup.foreachEpoch(batches, checkpointDir) { (b, epoch) =>
      curationIngestBatch(b, epoch, idCol, textCol, wh, layer, table,
        threshold, langCode, minQuality, broadcastDocLimit, compactEvery,
        family, rebuildCheckEvery, compactMinRatio)
    }
}

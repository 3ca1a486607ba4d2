package graft.textops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.{TestSessions, WarehouseTestKit}

/** Streaming corpus curation: bootstrap + epoch ingest must reproduce
  * the batch pipeline's final kept set (clique duplicates, id-ordered
  * epochs), keep an honest monotone funnel, and stay exactly-once under
  * epoch replay.
  */
class CurationStreamSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  // initial corpus: an exact-dup pair, a near-dup pair, distinct docs,
  // and one obviously-non-English doc the lang gate should cut
  private val initialRows = Seq(
    (0L, "the quick brown fox jumps over the lazy dog in the warm morning sun"),
    (1L, "the quick brown fox jumps over the lazy dog in the warm morning sun"),
    (2L, "pack my box with five dozen liquor jugs before the long trip south"),
    (3L, "pack my box with five dozen liquor jugs before the long trip north"),
    (4L, "sphinx of black quartz judge my vow said the museum curator quietly"),
    (5L, "zzz qqq xxx vvv kkk www yyy nnn mmm ppp rrr ttt sss ddd fff ggg"))
  // epoch 0: a re-ingest of 0, a near dup of 4, a fresh doc
  private val batch0Rows = Seq(
    (100L, "the quick brown fox jumps over the lazy dog in the warm morning sun"),
    (101L, "sphinx of black quartz judge my vow said the museum curator loudly"),
    (102L, "this is a completely fresh batch document that we wrote about the distributed query engines of today"))
  // epoch 1: a near dup of epoch 0's SURVIVOR 102 (proving the index
  // grew mid-stream), plus a novel doc — all stopword-rich enough to
  // classify "en" under the heuristic langId
  private val batch1Rows = Seq(
    (200L, "this is a completely fresh batch document that we wrote about the distributed query engines of tonight"),
    (201L, "the weather in that small town was very cold and the people were still quite happy with their lives"))

  private def freshWh(tag: String) = graft.etl.Warehouse(
    org.apache.spark.ScratchDirs.create(s"graft_curstream_$tag").toString)

  private def gateBatch(df: org.apache.spark.sql.DataFrame) = df
    .filter(TextFunctions.langId(col("text")) === "en")
    .filter(TextFunctions.qualityScore(col("text")) >= 0.5)

  test("bootstrap + epochs reproduce the batch pipeline's kept set") {
    val wh = freshWh("equiv")
    val initial = initialRows.toDF("doc_id", "text")
    val b0 = batch0Rows.toDF("doc_id", "text")
    val b1 = batch1Rows.toDF("doc_id", "text")
    CurationStream.curationBootstrap(initial, "doc_id", "text",
      wh, "gold", "cur", threshold = 0.5, bands = 8, nBuckets = 8,
      nSetBuckets = 4)
    CurationStream.curationIngestBatch(b0, 0L, "doc_id", "text",
      wh, "gold", "cur", threshold = 0.5)
    CurationStream.curationIngestBatch(b1, 1L, "doc_id", "text",
      wh, "gold", "cur", threshold = 0.5)
    val streamed = wh.read(spark, "gold", "cur_kept")
      .select("doc_id").as[Long].collect().toSet
    // the batch pipeline over the SAME total input (same gates, the
    // batch keep policy): with clique duplicates and id-ordered epochs
    // the kept sets must be identical
    val all = initial.unionByName(b0).unionByName(b1)
    val batchKept = Dedup.nearDedupKeep(gateBatch(all), "doc_id", "text",
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed === batchKept)
    // the lang gate cut doc 5; 200 died against mid-stream survivor 102
    assert(!streamed.contains(5L) && !streamed.contains(200L))
    assert(streamed.contains(201L))
  }

  test("funnel rows: monotone counts per epoch, epoch-keyed") {
    val wh = freshWh("funnel")
    CurationStream.curationBootstrap(initialRows.toDF("doc_id", "text"),
      "doc_id", "text", wh, "gold", "cur", threshold = 0.5, bands = 8,
      nBuckets = 8, nSetBuckets = 4)
    CurationStream.curationIngestBatch(batch0Rows.toDF("doc_id", "text"),
      0L, "doc_id", "text", wh, "gold", "cur", threshold = 0.5)
    val funnel = wh.read(spark, "gold", "cur_funnel")
      .orderBy("epoch")
      .select("epoch", "n_in", "n_lang", "n_quality", "n_kept")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(funnel.map(_._1).toSeq === Seq(-1L, 0L))
    funnel.foreach { case (_, nIn, nLang, nQual, nKept) =>
      assert(nIn >= nLang && nLang >= nQual && nQual >= nKept)
    }
    // the bootstrap's lang gate actually cut the non-English doc
    val boot = funnel.head
    assert(boot._2 === 6L && boot._3 === 5L)
  }

  test("epoch replay is exactly-once: funnel, sink, index unchanged") {
    val wh = freshWh("replay")
    CurationStream.curationBootstrap(initialRows.toDF("doc_id", "text"),
      "doc_id", "text", wh, "gold", "cur", threshold = 0.5, bands = 8,
      nBuckets = 8, nSetBuckets = 4)
    def snapshot() = (
      wh.read(spark, "gold", "cur_kept").select("doc_id", "epoch")
        .as[(Long, Long)].collect().toSet,
      wh.read(spark, "gold", "cur_funnel")
        .select("epoch", "n_in", "n_kept").as[(Long, Long, Long)]
        .collect().toSet,
      wh.read(spark, "gold", "cur_bands").count(),
      wh.read(spark, "gold", "cur_sets").count())
    val b0 = batch0Rows.toDF("doc_id", "text")
    CurationStream.curationIngestBatch(b0, 0L, "doc_id", "text",
      wh, "gold", "cur", threshold = 0.5)
    val s1 = snapshot()
    // the crash-replay: same epoch, same data, run again
    CurationStream.curationIngestBatch(b0, 0L, "doc_id", "text",
      wh, "gold", "cur", threshold = 0.5)
    assert(snapshot() === s1)
  }

  test("exact family: bootstrap + epochs reproduce the exact batch keep, replay-safe") {
    val wh = freshWh("exact")
    val initial = initialRows.toDF("doc_id", "text")
    val b0 = batch0Rows.toDF("doc_id", "text")
    val b1 = batch1Rows.toDF("doc_id", "text")
    CurationStream.curationBootstrap(initial, "doc_id", "text",
      wh, "gold", "cur", threshold = 0.5, nBuckets = 8, nSetBuckets = 4,
      family = CurationStream.ExactNgramFamily)
    CurationStream.curationIngestBatch(b0, 0L, "doc_id", "text",
      wh, "gold", "cur", threshold = 0.5,
      family = CurationStream.ExactNgramFamily)
    CurationStream.curationIngestBatch(b1, 1L, "doc_id", "text",
      wh, "gold", "cur", threshold = 0.5,
      family = CurationStream.ExactNgramFamily)
    val streamed = wh.read(spark, "gold", "cur_kept")
      .select("doc_id").as[Long].collect().toSet
    // the exact batch pipeline over the SAME total input: with clique
    // duplicates and id-ordered epochs the kept sets are identical
    val all = initial.unionByName(b0).unionByName(b1)
    val batchKept = Dedup.ngramJaccardKeep(gateBatch(all), "doc_id",
        "text", shingleK = 3, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed === batchKept)
    assert(!streamed.contains(5L) && !streamed.contains(200L))
    assert(streamed.contains(201L))
    // epoch replay is exactly-once on the exact family too: funnel,
    // sink, and posting index all unchanged by a second run of epoch 1
    def snapshot() = (
      wh.read(spark, "gold", "cur_kept").select("doc_id", "epoch")
        .as[(Long, Long)].collect().toSet,
      wh.read(spark, "gold", "cur_funnel")
        .select("epoch", "n_in", "n_kept").as[(Long, Long, Long)]
        .collect().toSet,
      wh.read(spark, "gold", "cur_post").count(),
      wh.read(spark, "gold", "cur_sets").count())
    val s1 = snapshot()
    CurationStream.curationIngestBatch(b1, 1L, "doc_id", "text",
      wh, "gold", "cur", threshold = 0.5,
      family = CurationStream.ExactNgramFamily)
    assert(snapshot() === s1)
  }

  test("an all-dropped epoch writes an honest funnel row and does not wedge the stream") {
    // every doc in epoch 0 is gated out (non-English gibberish), so the
    // survivor set is EMPTY: the funnel count must come from the
    // epoch's own frame, not from reading the sink partition the epoch
    // never wrote (r10 ADVICE — that read wedged every later epoch)
    val wh = freshWh("empty")
    CurationStream.curationBootstrap(initialRows.toDF("doc_id", "text"),
      "doc_id", "text", wh, "gold", "cur", threshold = 0.5, bands = 8,
      nBuckets = 8, nSetBuckets = 4)
    val junk = Seq(
      (300L, "zzz qqq xxx vvv kkk www yyy nnn mmm ppp rrr ttt sss"),
      (301L, "qqq zzz vvv xxx www kkk nnn yyy ppp mmm ttt rrr ddd"))
      .toDF("doc_id", "text")
    CurationStream.curationIngestBatch(junk, 0L, "doc_id", "text",
      wh, "gold", "cur", threshold = 0.5)
    val f0 = wh.read(spark, "gold", "cur_funnel")
      .filter(col("epoch") === 0L)
      .select("n_in", "n_lang", "n_quality", "n_kept")
      .as[(Long, Long, Long, Long)].collect().head
    assert(f0 === ((2L, 0L, 0L, 0L)))
    // the stream is not wedged: a later epoch processes normally
    CurationStream.curationIngestBatch(batch0Rows.toDF("doc_id", "text"),
      1L, "doc_id", "text", wh, "gold", "cur", threshold = 0.5)
    val kept1 = wh.read(spark, "gold", "cur_kept")
      .filter(col("epoch") === 1L).select("doc_id")
      .as[Long].collect().toSet
    assert(kept1 === Set(102L))
  }

  test("funnel folding: directories bounded across 10 epochs, rows and epochs intact") {
    // the `_funnel` side of the r11 sink-fold gap: one pepoch directory
    // per epoch forever, read by every funnel consumer. On the compact
    // cadence the committed partitions collapse into the base while the
    // `epoch` data column keeps the per-epoch observables readable.
    val wh = freshWh("funnelfold")
    CurationStream.curationBootstrap(initialRows.toDF("doc_id", "text"),
      "doc_id", "text", wh, "gold", "cur", threshold = 0.5, bands = 8,
      nBuckets = 8, nSetBuckets = 4)
    def dirs(t: String): Set[String] =
      if (!wh.exists("gold", t)) Set.empty
      else WarehouseTestKit.partitionValues(wh, "gold", t, "pepoch")
        .map("pepoch=" + _)
    def run(e: Int): Unit = CurationStream.curationIngestBatch(
      Seq((400L + e,
        s"the funnel fold micro batch number $e is about its own new subject"))
        .toDF("doc_id", "text"),
      e.toLong, "doc_id", "text", wh, "gold", "cur", threshold = 0.5,
      compactEvery = 3)
    val counts = (0 to 9).map { e => run(e); (dirs("cur_funnel").size,
      dirs("cur_kept").size) }
    assert(counts.map(_._1).max <= 5, s"funnel dirs per epoch: $counts")
    assert(counts.map(_._2).max <= 5, s"kept dirs per epoch: $counts")
    assert(dirs("cur_funnel") === Set("pepoch=-1", "pepoch=9"))
    // replay across the fold boundary: epoch 9 (which folded) re-runs;
    // funnel and sink unchanged
    def snapshot() = (
      wh.read(spark, "gold", "cur_funnel")
        .select("epoch", "n_in", "n_kept").as[(Long, Long, Long)]
        .collect().toSet,
      wh.read(spark, "gold", "cur_kept").select("doc_id", "epoch")
        .as[(Long, Long)].collect().toSet)
    val s1 = snapshot()
    run(9)
    assert(snapshot() === s1)
    // every epoch's funnel row survives the folds, keyed by its epoch
    val epochs = wh.read(spark, "gold", "cur_funnel")
      .select(col("epoch").cast("long")).as[Long].collect().sorted.toSeq
    assert(epochs === (-1L to 9L).toSeq)
  }

  test("ratio-triggered (geometric) compaction through the curation loop: folds fire, state intact, replay safe") {
    // compactMinRatio plumbed through curationIngestBatch (r15 verdict
    // #7: the geometric policy was probe-proven but no curation-path
    // caller exercised it): with tiny epochs against a tiny bootstrap
    // base the footprint-ratio trigger trips within a few epochs — at
    // least one fold must run, every kept row and funnel row must
    // survive it, and a replay across the fold boundary is a no-op.
    val wh = freshWh("ratiofold")
    CurationStream.curationBootstrap(initialRows.toDF("doc_id", "text"),
      "doc_id", "text", wh, "gold", "cur", threshold = 0.5, bands = 8,
      nBuckets = 8, nSetBuckets = 4)
    def epochDirs(t: String): Set[String] =
      if (!wh.exists("gold", t)) Set.empty
      else WarehouseTestKit.partitionValues(wh, "gold", t, "epoch")
        .map("epoch=" + _)
    // each epoch's doc must be genuinely NOVEL (kept): the sibling
    // funnel test's near-identical template texts differ by one token,
    // J ≈ 0.57 ≥ 0.5, so the stream correctly DROPS them as near-dups
    // of epoch 0 whenever banding surfaces the candidate — these share
    // no 3-shingle with each other or the bootstrap survivors
    val subjects = Seq(
      "solar panels on many rooftops convert bright sunlight into cheap electricity for the whole neighborhood",
      "a gentle river winds slowly through the old valley where farmers grow wheat and barley each season",
      "the orchestra rehearsed a difficult symphony while its conductor marked every tempo change in pencil",
      "deep ocean currents carry warm water toward polar regions and shape the climate of coastal cities",
      "fresh bread from the corner bakery smells wonderful when morning customers line up outside early",
      "ancient libraries preserved thousands of fragile manuscripts that scholars still study with great care today",
      "mountain climbers checked their ropes and boots before starting the hard ascent toward a distant summit",
      "honey bees communicate the location of remote flowers through an intricate waggle dance inside the hive")
    def run(e: Int): Unit = CurationStream.curationIngestBatch(
      Seq((500L + e, subjects(e))).toDF("doc_id", "text"),
      e.toLong, "doc_id", "text", wh, "gold", "cur", threshold = 0.5,
      compactMinRatio = 0.05)
    (0 to 7).foreach(run)
    // the geometric trigger fired at least once: committed epoch
    // sub-partitions below the current epoch folded into the base
    val remaining = epochDirs("cur_bands").flatMap(n =>
      try Some(n.stripPrefix("epoch=").toLong)
      catch { case _: NumberFormatException => None })
    assert(remaining.exists(_ == -1L), s"no base epoch after folds: $remaining")
    assert(remaining.count(_ >= 0L) < 8,
      s"ratio fold never fired: every epoch partition survives ($remaining)")
    // state intact: every epoch's survivor and funnel row present
    val kept = wh.read(spark, "gold", "cur_kept")
      .select("doc_id", "epoch").as[(Long, Long)].collect().toSet
    assert((0 to 7).forall(e => kept.contains((500L + e, e.toLong))),
      s"kept rows lost across folds: $kept")
    val epochs = wh.read(spark, "gold", "cur_funnel")
      .select(col("epoch").cast("long")).as[Long].collect().sorted.toSeq
    assert(epochs === (-1L to 7L).toSeq)
    // replay across the fold boundary: the last epoch re-runs, no change
    def snapshot() = (
      wh.read(spark, "gold", "cur_kept").select("doc_id", "epoch")
        .as[(Long, Long)].collect().toSet,
      wh.read(spark, "gold", "cur_funnel")
        .select("epoch", "n_in", "n_kept").as[(Long, Long, Long)]
        .collect().toSet)
    val s1 = snapshot()
    run(7)
    assert(snapshot() === s1)
  }

  test("streaming query end-to-end (file source, 1 file per trigger)") {
    val wh = freshWh("stream")
    CurationStream.curationBootstrap(initialRows.toDF("doc_id", "text"),
      "doc_id", "text", wh, "gold", "cur", threshold = 0.5, bands = 8,
      nBuckets = 8, nSetBuckets = 4)
    val stage = org.apache.spark.ScratchDirs.create("graft_curstream_src").toString
    batch0Rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(stage)
    batch1Rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(stage)
    val ckpt = org.apache.spark.ScratchDirs.create("graft_curstream_ckpt").toString
    val q = CurationStream.curationIngestStream(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(stage),
      "doc_id", "text", wh, "gold", "cur", threshold = 0.5, ckpt)
    q.processAllAvailable(); q.stop()
    val kept = wh.read(spark, "gold", "cur_kept")
      .select("doc_id").as[Long].collect().toSet
    // every batch doc accounted for: survivors exactly as the
    // equivalence test's streamed set
    assert(kept.intersect(Set(100L, 101L, 102L, 200L, 201L)) ===
      Set(102L, 201L))
    // funnel has one row per epoch incl. bootstrap
    assert(wh.read(spark, "gold", "cur_funnel").count() === 3L)
  }
}

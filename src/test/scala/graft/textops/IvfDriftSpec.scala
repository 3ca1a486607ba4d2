package graft.textops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.TestSessions

/** IVF-PQ maintenance under distribution drift: the persisted `_stats`
  * quantiles + [[Similarity.ivfPqDriftSignal]] must DETECT a shifted
  * append, frozen-codebook appends must measurably LOSE recall on
  * queries from the shifted region, and
  * [[Similarity.ivfPqRetrainIfDrifted]] must RECOVER it — the
  * d_dedup_recall_eval measurement pattern applied to ANN index
  * maintenance.
  *
  * Geometry is exact (no random jitter): corpus = two orthogonal
  * clusters along e1 and e5; the drifted batch sits along e7 — a
  * direction the corpus codebooks cannot describe. The query leans
  * 0.02 toward e1 so its nprobe=1 cell under the FROZEN centroids is
  * deterministically the e1 cell, while the batch assigns to the e5
  * cell: the probe misses every batch vector until a retrain folds the
  * new direction into the coarse codebook.
  */
class IvfDriftSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private val dim = 8
  private def vec(parts: (Int, Float)*): Seq[Float] = {
    val a = Array.fill(dim)(0.0f)
    parts.foreach { case (i, v) => a(i) = v }
    a.toSeq
  }
  // corpus: even ids along e1, odd ids along e5 (30 each)
  private lazy val corpus = (0 until 60).map { i =>
    (i.toLong, if (i % 2 == 0) vec(0 -> 1.0f) else vec(4 -> 1.0f))
  }.toDF("vec_id", "embedding")
  // drifted batch: along e6, slight anti-e1 lean (assigns to the e5
  // cell under frozen centroids), dim-7 jitter makes exact-cosine
  // ranking strict so the ground-truth top-10 is ids 100-109
  private lazy val drifted = (0 until 30).map { i =>
    (100L + i, vec(0 -> -0.02f, 6 -> 1.0f, 7 -> 0.001f * i))
  }.toDF("vec_id", "embedding")
  private val query: Seq[Double] = {
    val a = Array.fill(dim)(0.0); a(0) = 0.02; a(6) = 1.0; a.toSeq
  }

  private def freshWh(tag: String) = graft.etl.Warehouse(
    org.apache.spark.ScratchDirs.create(s"graft_drift_$tag").toString)

  private def build(wh: graft.etl.Warehouse): Unit = {
    val cents = Similarity.ivfTrain(corpus, "vec_id", "embedding",
      dim = dim, nlist = 2, iterations = 1)
    val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
      dim = dim, m = 2, k = 4, iterations = 1)
    Similarity.ivfPqPersist(corpus, "vec_id", "embedding", cents, books,
      wh, "gold", "ann")
  }

  private def recallAt10(wh: graft.etl.Warehouse,
                         union: org.apache.spark.sql.DataFrame): Double = {
    val truth = Similarity.bruteForceTopK(union, "vec_id", "embedding",
      query, 10).select("vec_id").as[Long].collect().toSet
    val got = Similarity.ivfPqProbePersisted(spark, wh, "gold", "ann",
      "vec_id", query, k = 10, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    truth.intersect(got).size / 10.0
  }

  test("drift signal: shifted batch trips, in-distribution batch does not") {
    val wh = freshWh("signal")
    build(wh)
    val sig = Similarity.ivfPqDriftSignal(drifted, "vec_id", "embedding",
      wh, "gold", "ann")
      .agg((sum(col("gap") * col("n_batch")) / sum(col("n_batch"))))
      .head().getDouble(0)
    assert(sig > 0.5, s"shifted batch should show a large gap, got $sig")
    val inDist = (0 until 20).map(i => (200L + i, vec(0 -> 1.0f)))
      .toDF("vec_id", "embedding")
    val sig2 = Similarity.ivfPqDriftSignal(inDist, "vec_id", "embedding",
      wh, "gold", "ann")
      .agg((sum(col("gap") * col("n_batch")) / sum(col("n_batch"))))
      .head().getDouble(0)
    assert(math.abs(sig2) < 0.01,
      s"in-distribution batch should not drift, got $sig2")
  }

  test("frozen append loses recall on shifted queries; retrain recovers") {
    val wh = freshWh("recall")
    build(wh)
    val union = corpus.unionByName(drifted)
    // ground truth really is the drifted region
    val truth = Similarity.bruteForceTopK(union, "vec_id", "embedding",
      query, 10).select("vec_id").as[Long].collect()
    assert(truth.forall(_ >= 100L))
    // frozen append: the probe's nprobe=1 cell is the e1 cell, the
    // batch landed in the e5 cell — recall collapses
    Similarity.ivfPqAppend(drifted, "vec_id", "embedding", wh, "gold", "ann")
    val frozen = recallAt10(wh, union)
    assert(frozen == 0.0, s"frozen recall should collapse, got $frozen")
    // retrain trips (gap ≈ 1.0) and rebuilds over corpus ∪ batch: the
    // coarse codebook folds in the new direction, the query probes the
    // right cell, PQ codes separate the batch from the e5 cluster
    val retrained = Similarity.ivfPqRetrainIfDrifted(corpus, drifted,
      "vec_id", "embedding", dim = dim, nlist = 2, m = 2, ksub = 4,
      wh, "gold", "ann")
    assert(retrained, "shifted batch must trigger a retrain")
    val after = recallAt10(wh, union)
    assert(after == 1.0, s"retrained recall should recover, got $after")
  }

  test("in-distribution batch takes the frozen-append path") {
    val wh = freshWh("append")
    build(wh)
    val before = wh.read(spark, "gold", "ann_codes").count()
    val inDist = (0 until 20).map(i => (200L + i, vec(0 -> 1.0f)))
      .toDF("vec_id", "embedding")
    val retrained = Similarity.ivfPqRetrainIfDrifted(corpus, inDist,
      "vec_id", "embedding", dim = dim, nlist = 2, m = 2, ksub = 4,
      wh, "gold", "ann")
    assert(!retrained, "in-distribution batch must append, not retrain")
    assert(wh.read(spark, "gold", "ann_codes").count() === before + 20)
    // stats stay the BUILD's (frozen by design on the append path)
    assert(wh.read(spark, "gold", "ann_stats")
      .agg(sum(col("n"))).head().getLong(0) === 60L)
  }
}

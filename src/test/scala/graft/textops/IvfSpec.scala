package graft.textops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.TestSessions

/** IVF index: trains a deterministic coarse codebook and recovers the true
  * nearest neighbor when probing its cell (and typically with nprobe=2 of
  * a handful of cells on clustered data).
  */
class IvfSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  // 4 well-separated clusters of 50 vectors each
  private lazy val vecs = {
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian() * 5))
    (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.2).toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("ivf recovers the brute-force top-1 with small nprobe") {
    val centroids = Similarity.ivfTrain(vecs, "vec_id", "embedding",
      dim = 16, nlist = 4, iterations = 3)
    assert(centroids.size === 4)
    val q = vecs.filter(col("vec_id") === 42).select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).map(_ + 0.001)
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, 5)
      .select("vec_id").as[Long].collect()
    assert(brute.head === 42L)
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding", q, 5, centroids, nprobe = 2)
      .select("vec_id").as[Long].collect()
    assert(ivf.head === 42L)
    // probing restricts the scan: results come from ≤ 2 cells
    assert(ivf.length === 5)
  }

  test("persisted IVF-PQ probe ≡ inline build, with a partition-pruned codes scan") {
    val centroids = Similarity.ivfTrain(vecs, "vec_id", "embedding",
      dim = 16, nlist = 4, iterations = 1)
    val books = Similarity.pqTrain(vecs, "vec_id", "embedding",
      dim = 16, m = 4, k = 4, iterations = 1)
    val q = vecs.filter(col("vec_id") === 7)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val inline = Similarity.ivfPqTopK(vecs, "vec_id", "embedding", q, 10,
        centroids, books, nprobe = 2)
      .select("vec_id", "code_0", "code_1", "code_2", "code_3", "adc")
      .collect().map(_.toSeq)
    val tmp = org.apache.spark.ScratchDirs.create("graft_annidx_t").toString
    val wh = graft.etl.Warehouse(tmp)
    Similarity.ivfPqPersist(vecs, "vec_id", "embedding", centroids, books,
      wh, "gold", "idx")
    val persisted = Similarity.ivfPqProbePersisted(spark, wh, "gold", "idx",
      "vec_id", q, 10, nprobe = 2)
    assert(persisted.collect().map(_.toSeq).toSeq === inline.toSeq)
    // the probe must read only the probed cells' partitions and never
    // the embedding column — that is the entire point of the artifact
    val plan = persisted.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"))
    assert(!plan.contains("embedding"))
    // and only nprobe of the nlist cell directories are listed
    val cellDirs = graft.etl.WarehouseTestKit
      .partitionValues(wh, "gold", "idx_codes", "cell").size
    assert(cellDirs === 4) // all cells written ...
  }

  test("append-without-retrain ≡ from-scratch encode of the union corpus") {
    val base = vecs.filter(col("vec_id") % 10 =!= 3)
    val delta = vecs.filter(col("vec_id") % 10 === 3)
    val centroids = Similarity.ivfTrain(base, "vec_id", "embedding",
      dim = 16, nlist = 4, iterations = 1)
    val books = Similarity.pqTrain(base, "vec_id", "embedding",
      dim = 16, m = 4, k = 4, iterations = 1)
    val q = vecs.filter(col("vec_id") === 42)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    // index A: persist base, append delta through the frozen artifacts
    val whA = graft.etl.Warehouse(
      org.apache.spark.ScratchDirs.create("graft_annapp_a").toString)
    Similarity.ivfPqPersist(base, "vec_id", "embedding", centroids, books,
      whA, "gold", "idx")
    Similarity.ivfPqAppend(delta, "vec_id", "embedding", whA, "gold", "idx")
    // index B: from-scratch encode of the union under the SAME codebooks
    val whB = graft.etl.Warehouse(
      org.apache.spark.ScratchDirs.create("graft_annapp_b").toString)
    Similarity.ivfPqPersist(vecs, "vec_id", "embedding", centroids, books,
      whB, "gold", "idx")
    val a = Similarity.ivfPqProbePersisted(spark, whA, "gold", "idx",
      "vec_id", q, 10, nprobe = 2).collect().map(_.toSeq).toSeq
    val b = Similarity.ivfPqProbePersisted(spark, whB, "gold", "idx",
      "vec_id", q, 10, nprobe = 2).collect().map(_.toSeq).toSeq
    assert(a === b)
    // the appended vectors are actually reachable (42 % 10 != 3 — use a
    // delta member's own neighborhood): probe near vec 3
    val q3 = vecs.filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val hits = Similarity.ivfPqProbePersisted(spark, whA, "gold", "idx",
      "vec_id", q3, 10, nprobe = 2).select("vec_id").as[Long].collect()
    assert(hits.exists(_ % 10 == 3))
  }

  test("training is deterministic across runs") {
    val c1 = Similarity.ivfTrain(vecs, "vec_id", "embedding", 16, 4, 2)
    val c2 = Similarity.ivfTrain(vecs.repartition(5), "vec_id", "embedding", 16, 4, 2)
    assert(c1.keySet === c2.keySet)
    c1.foreach { case (k, v) => assert(v.toSeq === c2(k).toSeq) }
  }
}

package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  *  - [[bruteForceTopK]] — exact cosine top-k: one narrow scan, a per-row
  *    codegen'd dot product, and a k-row ordered take. The baseline and
  *    the verifier for the approximate path.
  *  - [[lshTopK]] — the scale path: seeded random-hyperplane buckets
  *    restrict the scan to candidates sharing ≥1 band with the query, so
  *    cost tracks bucket occupancy instead of corpus size. Recall is
  *    tunable via planes/bands.
  *
  * Vector math is `zip_with`/`aggregate` over doubles — sequential
  * per-row folds, so scores are bit-deterministic regardless of
  * partitioning.
  */
object Similarity {

  /** Cosine similarity between two numeric-array columns, computed in
    * double via composable built-ins. Zero vectors yield NULL (guarded
    * denominators). For `array<float>` inputs prefer [[cosineNative]] —
    * same accumulation order, bit-identical results, fused codegen loop. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    dot / nullif(na * nb, lit(0.0))
  }

  /** Native codegen cosine for float vectors (graft.functions.FloatVecCosine). */
  def cosineNative(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vec_cosine(a, b)

  /** Native codegen Euclidean distance for float vectors
    * (graft.functions.FloatVecL2). */
  def l2Native(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vec_l2(a, b)

  /** Exact L2-nearest top-k against a literal query vector — the metric
    * twin of [[bruteForceTopK]] (smaller distance = nearer). */
  def bruteForceTopKL2(df: DataFrame, idCol: String, vecCol: String,
                       query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*).cast("array<float>")
    df.select(col(idCol), l2Native(col(vecCol), q).as("dist"))
      .orderBy(col("dist").asc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed) as literal
    * arrays — identical on every executor and every run. */
  def hyperplanes(dim: Int, numPlanes: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def planeLit(p: Array[Double]): Column = array(p.map(lit): _*)

  private def dotPlane(vec: Column, p: Array[Double]): Column =
    aggregate(zip_with(vec, planeLit(p), (x, w) => x.cast("double") * w),
      lit(0.0), (acc, v) => acc + v)

  /** Sign-bit bucket signature: bit i = (vec · plane_i) >= 0. */
  def bucketSignature(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotPlane(vec, p) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** Exact cosine top-k against a literal query vector. The scan side is
    * `array<float>`; the query literal is cast to float (lossless when it
    * originated from a float embedding), so the whole scoring scan runs
    * through the fused native loop. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*).cast("array<float>")
    df.select(col(idCol), cosineNative(col(vecCol), q).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** IVF (inverted-file) index: a coarse k-means quantizer over the
    * corpus. Centroid init is deterministic (the `nlist` lowest-id
    * vectors); each Lloyd iteration is one broadcast-assign + groupBy-mean
    * pass — no driver-side math over the corpus, so the build scales with
    * executors. Returns (centroid_id → centroid vector) collected to the
    * driver (nlist is small by design, like any IVF coarse codebook).
    */
  def ivfTrain(df: DataFrame, idCol: String, vecCol: String, dim: Int,
               nlist: Int, iterations: Int = 3): Map[Int, Array[Double]] = {
    var centroids: Map[Int, Array[Double]] =
      df.orderBy(col(idCol)).limit(nlist)
        .select(col(vecCol).cast("array<double>")).collect()
        .zipWithIndex.map { case (r, i) => i -> r.getSeq[Double](0).toArray }.toMap
    (0 until iterations).foreach { _ =>
      val assigned = assignToCentroid(df, vecCol, centroids)
      // decimal-routed sum: centroid means are identical under any
      // partitioning (a raw double sum is accumulation-order dependent)
      val sums = assigned
        .select(col("__cid"), posexplode(col(vecCol).cast("array<double>")).as(Seq("__i", "__x")))
        .groupBy("__cid", "__i")
        .agg(sum(col("__x").cast(org.apache.spark.sql.types.DecimalType(38, 15)))
          .cast("double").as("s"), count(lit(1)).as("n"))
        .collect()
      centroids = sums.groupBy(_.getInt(0)).map { case (cid, rows) =>
        val arr = new Array[Double](dim)
        rows.foreach { r =>
          val n = r.getLong(3)
          arr(r.getInt(1)) = if (n == 0) 0.0 else r.getDouble(2) / n
        }
        cid -> arr
      }
    }
    centroids
  }

  /** Nearest-centroid assignment as a plan-time CASE chain over native
    * cosines — the codebook is a literal, so assignment is one codegen'd
    * projection (no shuffle, no UDF). */
  private def assignToCentroid(df: DataFrame, vecCol: String,
                               centroids: Map[Int, Array[Double]]): DataFrame =
    assignToCentroidScored(df, vecCol, centroids).drop("__score")

  /** [[assignToCentroid]] keeping the winning cosine as `__score` — the
    * assignment-quality observable the drift signal is built from. */
  private def assignToCentroidScored(df: DataFrame, vecCol: String,
      centroids: Map[Int, Array[Double]]): DataFrame = {
    val scores = centroids.toSeq.sortBy(_._1).map { case (cid, c) =>
      cid -> cosineNative(col(vecCol),
        array(c.map(v => lit(v.toFloat)): _*)).as(s"__s$cid")
    }
    val withScores = df.select(col("*") +: scores.map(_._2): _*)
    // Flat argmax: one greatest() + a linear when-chain. (A running
    // (bestId, bestScore) fold would nest the partial best into both
    // branches — a 2^nlist expression-tree blowup that dominates planning.)
    def s(cid: Int) = coalesce(col(s"__s$cid"), lit(Double.MinValue))
    // greatest() requires ≥ 2 args — degrade for the 0/1-centroid edge
    // (empty training corpus / nlist = 1), where `best` is now always
    // materialized as __score (it was a lazily-unused Column before)
    val best = scores.map(c => s(c._1)) match {
      case Seq()    => lit(Double.MinValue)
      case Seq(one) => one
      case many     => greatest(many: _*)
    }
    val cid = scores.map(_._1).foldRight(lit(-1)) { (c, rest) =>
      when(s(c) === best, lit(c)).otherwise(rest)
    }
    withScores.withColumn("__cid", cid).withColumn("__score", best)
      .drop(scores.map(_._1).map(c => s"__s$c"): _*)
  }

  /** IVF top-k: score only the vectors whose coarse cell is among the
    * `nprobe` cells nearest the query — the classic recall/cost dial.
    * At 100 TB the assignment column is precomputed and the table is
    * partitioned by cell, turning a probe into a partition-pruned scan. */
  /** Driver-side cosine for centroid ranking (full double precision —
    * the PROBE-cell choice uses the unrounded centroids, while row
    * assignment uses the float-rounded codebook, as in FAISS). */
  private def cosQuery(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    if (na * nb == 0) Double.MinValue else dot / (na * nb)
  }

  /** The `nprobe` coarse cells nearest the query, ranked by
    * [[cosQuery]] with ties to the lower cell id — shared by
    * [[ivfTopK]] and [[ivfPqTopK]] so the two probe paths cannot
    * drift. */
  private def probeCells(centroids: Map[Int, Array[Double]],
                         query: Seq[Double], nprobe: Int): Seq[Int] =
    centroids.toSeq
      .map { case (cid, c) => cid -> cosQuery(query, c.toSeq) }
      .sortBy { case (cid, sc) => (-sc, cid) }.take(nprobe).map(_._1)

  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int,
              centroids: Map[Int, Array[Double]], nprobe: Int = 2): DataFrame = {
    val cells = probeCells(centroids, query, nprobe)
    assignToCentroid(df, vecCol, centroids)
      .filter(col("__cid").isin(cells: _*))
      .select(col(idCol),
        cosineNative(col(vecCol),
          array(query.map(lit): _*).cast("array<float>")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** IVF-PQ: the production composition of the two index halves — the
    * coarse IVF cells prune the corpus to `nprobe` cells (same
    * float-rounded assignment codebook as [[ivfTopK]], cells ranked for
    * the query on the full-double centroids), then PQ asymmetric
    * distance ranks only the SURVIVORS from their codes ([[pqTopK]]'s
    * plan-time lookup tables). At 100 TB this is the FAISS-standard
    * layout: cell id = partition column (probe → partition-pruned
    * scan), codes = the only column read at probe time; the fat
    * embedding column is touched by neither stage. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                query: Seq[Double], k: Int,
                centroids: Map[Int, Array[Double]],
                books: Seq[Map[Int, Array[Double]]],
                nprobe: Int = 2): DataFrame = {
    val cells = probeCells(centroids, query, nprobe)
    val pruned = assignToCentroid(df, vecCol, centroids)
      .filter(col("__cid").isin(cells: _*))
      .drop("__cid")
    pqTopK(pruned, idCol, vecCol, query, k, books)
  }

  /** Semantic near-duplicate pairs: coarse k-means cells ([[ivfTrain]])
    * partition the corpus, then exact cosine runs only WITHIN each cell —
    * the SemDeDup-style recipe (cluster first, compare inside clusters)
    * that turns the quadratic all-pairs scan into per-cell quadratics.
    * At 100 TB the cell id becomes a partition column and each cell's
    * self-join runs co-located with no global shuffle; pairs whose
    * members land in different cells are out of contract by design
    * (the cell assignment IS the approximation, exactly as in IVF).
    * Deterministic end to end: seeded init, decimal-routed means,
    * float-rounded codebook — the same replayable build as [[ivfTopK]]. */
  def semanticDupPairs(df: DataFrame, idCol: String, vecCol: String,
                       dim: Int, nlist: Int, iterations: Int = 1,
                       threshold: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val centroids = ivfTrain(df, idCol, vecCol, dim, nlist, iterations)
    if (centroids.isEmpty) {
      // empty corpus: no cells to train — an empty pair set, not a crash
      // (greatest() over zero centroid scores has no plan-time form)
      import df.sparkSession.implicits._
      return Seq.empty[(Long, Long, Int, Double)]
        .toDF("id_a", "id_b", "cell", "cosine_r")
    }
    val assigned = assignToCentroid(df, vecCol, centroids)
      .select(col(idCol).cast(LongType).as("id"), col(vecCol).as("vec"),
        col("__cid").as("cell"))
    val a = assigned.select(col("cell"), col("id").as("id_a"), col("vec").as("vec_a"))
    val b = assigned.select(col("cell"), col("id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cell"),
        round(col("cosine"), 6).as("cosine_r"))
  }

  // ------------------------------------------------ product quantization

  /** Nearest-centroid L2 assignment over an arbitrary vector Column —
    * the metric twin of [[assignToCentroid]]: the codebook is a literal,
    * so assignment is one codegen'd projection (flat argmin: least() +
    * a linear when-chain, ties to the lowest cid). */
  private def assignL2(df: DataFrame, vec: Column,
                       centroids: Map[Int, Array[Double]], out: String): DataFrame = {
    val dists = centroids.toSeq.sortBy(_._1).map { case (cid, c) =>
      cid -> l2Native(vec, array(c.map(v => lit(v.toFloat)): _*)).as(s"__d$cid")
    }
    val withD = df.select(col("*") +: dists.map(_._2): _*)
    def d(cid: Int) = coalesce(col(s"__d$cid"), lit(Double.MaxValue))
    val best = least(dists.map(p => d(p._1)): _*)
    val cid = dists.map(_._1).foldRight(lit(-1)) { (c, rest) =>
      when(d(c) === best, lit(c)).otherwise(rest)
    }
    withD.withColumn(out, cid).drop(dists.map(p => s"__d${p._1}"): _*)
  }

  /** Product-quantization codebooks: the vector splits into `m` equal
    * subspaces, each learning a k-centroid L2 k-means codebook. Build is
    * deterministic end to end — init = the `k` lowest-id vectors' slices,
    * one decimal-routed Lloyd pass per iteration, float-rounded codebooks
    * at assignment time — the same replayable recipe as [[ivfTrain]].
    * ALL subspaces train in one pass per iteration: encode is a single
    * projection and the per-element means come from ONE posexplode +
    * groupBy keyed (subspace, code, offset), so shuffle count doesn't
    * scale with `m`. Collected state is m·k·(dim/m) = k·dim doubles — a
    * codebook, not data. */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, dim: Int,
              m: Int, k: Int, iterations: Int = 1): Seq[Map[Int, Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"pqTrain: dim $dim must split into $m subspaces")
    val sd = dim / m
    val initRows = df.orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
    require(initRows.nonEmpty,
      "pqTrain: empty corpus — a PQ codebook needs at least one vector")
    var books: Seq[Map[Int, Array[Double]]] = (0 until m).map { s =>
      initRows.zipWithIndex.map { case (r, i) =>
        i -> r.getSeq[Double](0).slice(s * sd, (s + 1) * sd).toArray
      }.toMap
    }
    (0 until iterations).foreach { _ =>
      val encoded = pqEncode(df, vecCol, books)
      val sub = (col("__i") / sd).cast("int")
      val codeOf = (0 until m).foldRight(lit(-1)) { (s, rest) =>
        when(sub === s, col(s"__code_$s")).otherwise(rest)
      }
      val sums = encoded
        .select((0 until m).map(s => col(s"__code_$s")) :+
          posexplode(col(vecCol).cast("array<double>")).as(Seq("__i", "__x")): _*)
        .groupBy(sub.as("__s"), codeOf.as("__cid"), (col("__i") % sd).as("__j"))
        .agg(sum(col("__x").cast(org.apache.spark.sql.types.DecimalType(38, 15)))
          .cast("double").as("sum_x"), count(lit(1)).as("n"))
        .collect()
      books = (0 until m).map { s =>
        sums.filter(_.getInt(0) == s).groupBy(_.getInt(1)).map { case (cid, rows) =>
          val arr = new Array[Double](sd)
          rows.foreach { r =>
            val n = r.getLong(4)
            arr(r.getInt(2)) = if (n == 0) 0.0 else r.getDouble(3) / n
          }
          cid -> arr
        }
      }
    }
    books
  }

  /** PQ encode: append `__code_0..__code_{m-1}` — each subspace's nearest-
    * centroid id. One chained projection (the per-subspace argmins collapse
    * into a single codegen stage); no shuffle. */
  def pqEncode(df: DataFrame, vecCol: String,
               books: Seq[Map[Int, Array[Double]]]): DataFrame = {
    val sd = books.head.head._2.length
    books.zipWithIndex.foldLeft(df) { case (acc, (cb, s)) =>
      assignL2(acc, slice(col(vecCol), s * sd + 1, sd), cb, s"__code_$s")
    }
  }

  /** PQ asymmetric-distance top-k: corpus vectors are ranked by their
    * RECONSTRUCTION distance to the query — sqrt of the sum of squared
    * query-to-centroid sub-distances looked up by code. The lookup tables
    * are plan-time double literals (m·k scalars computed on the driver
    * with the exact FloatVecL2 arithmetic), so scoring an encoded corpus
    * is a literal CASE chain per subspace — no vector math per row at
    * probe time, which is the entire point of PQ at 100 TB: the fat
    * embedding column stays unread once codes are materialized. */
  /** Squared asymmetric distance as a plan-time literal CASE chain per
    * subspace: the m·k query-to-centroid sub-distances are computed on
    * the driver with the exact FloatVecL2 arithmetic, then looked up by
    * whatever column holds each subspace's code (`codeCol`) — shared by
    * the inline [[pqTopK]] (`__code_s`) and the persisted-index probe
    * (`code_s` read back from parquet), so scoring cannot drift. */
  private def adcSquared(books: Seq[Map[Int, Array[Double]]],
                         query: Seq[Double], codeCol: Int => Column): Column = {
    val sd = books.head.head._2.length
    val tables: Seq[Map[Int, Double]] = books.zipWithIndex.map { case (cb, s) =>
      cb.map { case (cid, c) =>
        var acc = 0.0
        var i = 0
        while (i < sd) {
          // float-rounded on both sides, exactly like the encode path
          val d = query(s * sd + i).toFloat.toDouble - c(i).toFloat.toDouble
          acc += d * d
          i += 1
        }
        cid -> acc
      }
    }
    tables.zipWithIndex.map { case (tab, s) =>
      tab.toSeq.sortBy(_._1).foldRight(lit(Double.MaxValue): Column) {
        case ((cid, d2), rest) => when(codeCol(s) === cid, lit(d2)).otherwise(rest)
      }
    }.reduce(_ + _)
  }

  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
             query: Seq[Double], k: Int,
             books: Seq[Map[Int, Array[Double]]]): DataFrame = {
    val adc2 = adcSquared(books, query, s => col(s"__code_$s"))
    pqEncode(df, vecCol, books)
      .select(col(idCol) +: (0 until books.length).map(s =>
        col(s"__code_$s").as(s"code_$s")) :+ sqrt(adc2).as("adc"): _*)
      .orderBy(col("adc").asc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------- persisted IVF-PQ index

  /** Materialize an IVF-PQ index as warehouse tables — the production
    * split of BUILD from PROBE that a 100 TB deployment requires (the
    * build is one expensive corpus pass; probes run thousands of times
    * against the artifact and must not pay for it):
    *
    *   `<table>_centroids` (cid, centroid)       — nlist rows
    *   `<table>_books`     (subspace, cid, centroid) — m·k rows
    *   `<table>_codes`     (id, code_0..m-1) PARTITIONED BY cell
    *
    * The codes table is partitioned by coarse cell — the FAISS inverted-
    * list layout mapped onto parquet partitions, so a probe's `cell IN
    * (probe cells)` filter becomes partition PRUNING: only nprobe/nlist
    * of the index is ever read, and the fat embedding column is in
    * neither artifact. Centroids/books persist as full doubles
    * (lossless), so a probe replays bit-identical scoring. */
  /** Assignment-cosine quantile: the scale path is percentile_approx
    * (mergeable sketch — a cell's members are data-scaled and must
    * never buffer in one aggregation group at 100 TB); `exact` switches
    * to the exact interpolated percentile so the drift-signal ledger
    * entry can be replayed bit-for-bit by DuckDB's quantile_cont. */
  private def pctl(c: Column, p: Double, exact: Boolean): Column =
    if (exact) percentile(c, lit(p))
    else percentile_approx(c, lit(p), lit(10000))

  def ivfPqPersist(df: DataFrame, idCol: String, vecCol: String,
                   centroids: Map[Int, Array[Double]],
                   books: Seq[Map[Int, Array[Double]]],
                   wh: graft.etl.Warehouse, layer: String,
                   table: String, exactQuantiles: Boolean = false): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    wh.overwrite(centroids.toSeq.sortBy(_._1)
      .map { case (cid, c) => (cid, c.toSeq) }.toDF("cid", "centroid"),
      layer, s"${table}_centroids")
    wh.overwrite(books.zipWithIndex.flatMap { case (cb, s) =>
      cb.toSeq.sortBy(_._1).map { case (cid, c) => (s, cid, c.toSeq) }
    }.toDF("subspace", "cid", "centroid"), layer, s"${table}_books")
    val assigned = assignToCentroidScored(df, vecCol, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // `_stats`: per-cell assignment-cosine quantiles at BUILD time —
    // nlist rows, one bounded aggregate. The drift signal
    // ([[ivfPqDriftSignal]]) compares a batch's quantiles against these
    // to decide append-frozen vs retrain. percentile_approx (not exact
    // percentile): a cell's members are data-scaled and must never
    // buffer in one aggregation group at 100 TB.
    wh.overwrite(
      assigned.groupBy(col("__cid").as("cell"))
        .agg(count(lit(1)).as("n"),
          pctl(col("__score"), 0.5, exactQuantiles).as("q50"),
          pctl(col("__score"), 0.1, exactQuantiles).as("q10")),
      layer, s"${table}_stats")
    val coded = pqEncode(assigned.drop("__score"), vecCol, books)
      .select(col(idCol) +: col("__cid").as("cell") +:
        books.indices.map(s => col(s"__code_$s").as(s"code_$s")): _*)
    wh.overwritePartitioned(coded, layer, s"${table}_codes", Seq("cell"))
    assigned.unpersist()
  }

  /** Append vectors to a persisted IVF-PQ index WITHOUT retraining —
    * the index-maintenance half of the build/probe split: new vectors
    * assign to the FROZEN coarse centroids and encode with the FROZEN
    * codebooks (both read back from the artifact, so append can never
    * skew from the original build), and the code rows land in their
    * `cell=` partitions via partitioned append — existing files
    * untouched. Because a vector's (cell, codes) row depends only on
    * the frozen artifacts and its own embedding, probe-after-append is
    * bit-identical to probing a from-scratch encode of the union corpus
    * under the same codebooks (spec-enforced). Caller contract: ids
    * disjoint from the indexed corpus. */
  def ivfPqAppend(df: DataFrame, idCol: String, vecCol: String,
                  wh: graft.etl.Warehouse, layer: String,
                  table: String): Unit = {
    val spark = df.sparkSession
    val centroids = wh.read(spark, layer, s"${table}_centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val books: Seq[Map[Int, Array[Double]]] =
      wh.read(spark, layer, s"${table}_books").collect()
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map(_._2.map(r => r.getInt(1) -> r.getSeq[Double](2).toArray).toMap)
    val coded = pqEncode(assignToCentroid(df, vecCol, centroids), vecCol, books)
      .select(col(idCol) +: col("__cid").as("cell") +:
        books.indices.map(s => col(s"__code_$s").as(s"code_$s")): _*)
    wh.appendPartitioned(coded, layer, s"${table}_codes", Seq("cell"))
  }

  /** Per-cell DRIFT SIGNAL for append-without-retrain maintenance:
    * assign the incoming batch to the FROZEN centroids and compare its
    * per-cell median assignment cosine against the build's persisted
    * `_stats` quantiles. Returns one row per batch-touched cell —
    * (cell, n_build, q50_build, n_batch, q50_batch, gap) with
    * gap = q50_build − q50_batch (positive = the batch sits FARTHER
    * from its centroid than the build corpus did — the codebook no
    * longer describes the data). A cell the build never populated
    * (n_build null) is maximal drift by definition: gap coalesces to
    * 1.0. Cost: one batch-sized aggregate + an nlist-row join — the
    * "cheap bounded aggregate" a maintenance cron can afford per
    * batch. */
  def ivfPqDriftSignal(batch: DataFrame, idCol: String, vecCol: String,
                       wh: graft.etl.Warehouse, layer: String,
                       table: String,
                       exactQuantiles: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    val centroids = wh.read(spark, layer, s"${table}_centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val b = assignToCentroidScored(batch, vecCol, centroids)
      .groupBy(col("__cid").as("cell"))
      .agg(count(lit(1)).as("n_batch"),
        pctl(col("__score"), 0.5, exactQuantiles).as("q50_batch"))
    wh.read(spark, layer, s"${table}_stats")
      .select(col("cell"), col("n").as("n_build"),
        col("q50").as("q50_build"))
      .join(b, Seq("cell"), "right")
      .withColumn("gap",
        coalesce(col("q50_build") - col("q50_batch"), lit(1.0)))
  }

  /** Maintenance policy around the drift signal: if the batch-weighted
    * mean gap exceeds `gapThreshold`, RETRAIN — rebuild centroids and
    * codebooks over corpus ∪ batch and re-persist the whole index
    * (returns true); otherwise append through the frozen artifacts
    * ([[ivfPqAppend]], returns false). The corpus embeddings come from
    * the caller (the embedding table is the durable input; the index is
    * its derivative), so a retrain is exactly the original build at the
    * new corpus — probes after it are bit-identical to a from-scratch
    * deployment, which is what the recover-after-retrain spec asserts
    * (IvfDriftSpec). */
  def ivfPqRetrainIfDrifted(corpus: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, dim: Int, nlist: Int, m: Int,
      ksub: Int, wh: graft.etl.Warehouse, layer: String, table: String,
      gapThreshold: Double = 0.05, iterations: Int = 1): Boolean = {
    val row = ivfPqDriftSignal(batch, idCol, vecCol, wh, layer, table)
      .agg((sum(col("gap") * col("n_batch")) / sum(col("n_batch")))
        .as("g")).head()
    val gap = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    if (gap > gapThreshold) {
      val union = corpus.unionByName(batch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cents = ivfTrain(union, idCol, vecCol, dim, nlist, iterations)
      val books = pqTrain(union, idCol, vecCol, dim, m, ksub, iterations)
      ivfPqPersist(union, idCol, vecCol, cents, books, wh, layer, table)
      union.unpersist()
      true
    } else {
      ivfPqAppend(batch, idCol, vecCol, wh, layer, table)
      false
    }
  }

  /** Probe a persisted IVF-PQ index WITHOUT touching the corpus or the
    * build: centroids/books read back (bounded artifacts, collected
    * once), probe cells ranked on the driver, and the codes scan is
    * partition-pruned to those cells — `.explain` shows the `cell IN`
    * PartitionFilters, the whole reason the index persists. Scoring is
    * the same literal-ADC projection as [[pqTopK]], so a persisted
    * probe returns bit-identically what the inline build returns. */
  def ivfPqProbePersisted(spark: org.apache.spark.sql.SparkSession,
                          wh: graft.etl.Warehouse, layer: String,
                          table: String, idCol: String,
                          query: Seq[Double], k: Int,
                          nprobe: Int = 2): DataFrame = {
    val centroids = wh.read(spark, layer, s"${table}_centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val books: Seq[Map[Int, Array[Double]]] =
      wh.read(spark, layer, s"${table}_books").collect()
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map(_._2.map(r => r.getInt(1) -> r.getSeq[Double](2).toArray).toMap)
    val cells = probeCells(centroids, query, nprobe)
    val adc2 = adcSquared(books, query, s => col(s"code_$s"))
    wh.read(spark, layer, s"${table}_codes")
      .filter(col("cell").isin(cells: _*))
      .select(col(idCol) +: books.indices.map(s => col(s"code_$s")) :+
        sqrt(adc2).as("adc"): _*)
      .orderBy(col("adc").asc, col(idCol))
      .limit(k)
  }

  /** LSH-bucketed top-k: candidates = rows sharing at least one band of
    * `planesPerBand` sign bits with the query; exact cosine ranks them.
    * With `bands` bands the probability a true neighbor shares none decays
    * as (1 − s^planesPerBand)^bands. */
  /** SQ8 scalar-quantization grid: per-dimension corpus [min, max] from
    * ONE bounded (dim-row) aggregate, collected once. The grid is the
    * whole "index" — 2·dim doubles — so training is a single pass and
    * the artifact broadcasts as plan literals. */
  def sq8Train(df: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val rows = df.select(posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .groupBy("__i").agg(min("__x").as("mn"), max("__x").as("mx"))
      .collect()
      .map(r => (r.getInt(0), r.getFloat(1).toDouble, r.getFloat(2).toDouble))
      .sortBy(_._1)
    (rows.map(_._2), rows.map(_._3))
  }

  /** SQ8 top-k by EXACT INTEGER symmetric code distance: every vector
    * (and the query) quantizes to one uint8 code per dimension on the
    * [min, max] grid — floor((x−mn)·255/(mx−mn)), clamped — and rank is
    * Σ(codeᵥ−code_q)². The scoring pass is per-row higher-order
    * functions over plan-time grid literals: NO shuffle, no join, and
    * once codes are materialized the 4×-fatter float column never needs
    * reading again — the SQ8 bargain at 100 TB. Integer distances make
    * the result layout-independent by construction. */
  def sq8TopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int,
              mn: Array[Double], mx: Array[Double]): DataFrame = {
    def codeOf(x: Double, d: Int): Int =
      if (mx(d) == mn(d)) 0
      else math.min(255L, math.max(0L,
        math.floor(((x - mn(d)) * 255.0) / (mx(d) - mn(d))).toLong)).toInt
    val qCodes = query.indices.map(d => codeOf(query(d), d))
    val mnLit = typedLit(mn.toSeq)
    val mxLit = typedLit(mx.toSeq)
    val qLit = typedLit(qCodes)
    val codes = transform(col(vecCol), (x, i) =>
      when(element_at(mxLit, i + 1) === element_at(mnLit, i + 1), lit(0L))
        .otherwise(least(lit(255L), greatest(lit(0L),
          floor(((x.cast("double") - element_at(mnLit, i + 1)) * lit(255.0)) /
            (element_at(mxLit, i + 1) - element_at(mnLit, i + 1))))))
        .cast("int"))
    df.select(col(idCol),
        aggregate(
          zip_with(codes, qLit, (a, b) => ((a - b) * (a - b)).cast("long")),
          lit(0L), (acc, v) => acc + v).as("sdc2"))
      .orderBy(col("sdc2").asc, col(idCol).asc)
      .limit(k)
  }

  /** Query-side MULTIPROBE LSH top-k: candidates share the query's
    * exact bucket OR any 1-bit-flipped neighbor of it, per band — the
    * dominant LSH miss mode (one plane on the wrong side of the
    * boundary) is recovered WITHOUT adding hash tables, so fewer bands
    * buy the recall of many. Probe values are inlined literals: the
    * candidate "join" is one codegen'd IN predicate, no exchange.
    * Exact cosine ranks survivors. */
  def lshMultiprobeTopK(df: DataFrame, idCol: String, vecCol: String,
                        query: Seq[Double], k: Int, dim: Int,
                        bands: Int = 3, planesPerBand: Int = 6,
                        seed: Long = 42L): DataFrame = {
    val bandPlanes: Seq[Seq[Array[Double]]] =
      (0 until bands).map(b => hyperplanes(dim, planesPerBand, seed + b))
    val qSig: Seq[Long] = bandPlanes.map(planes =>
      planes.zipWithIndex.map { case (p, i) =>
        val d = p.zip(query).map { case (w, x) => w * x }.sum
        if (d >= 0) 1L << i else 0L
      }.reduce(_ | _))
    val candidateCond = bandPlanes.zip(qSig).map { case (planes, sig) =>
      val probes = sig +: (0 until planesPerBand).map(i => sig ^ (1L << i))
      bucketSignature(col(vecCol), planes).isin(probes: _*)
    }.reduce(_ || _)
    df.filter(candidateCond)
      .select(col(idCol),
        cosineNative(col(vecCol),
          array(query.map(lit): _*).cast("array<float>")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int, dim: Int,
              bands: Int = 4, planesPerBand: Int = 6,
              seed: Long = 42L): DataFrame = {
    val bandPlanes: Seq[Seq[Array[Double]]] =
      (0 until bands).map(b => hyperplanes(dim, planesPerBand, seed + b))
    val qSig: Seq[Long] = bandPlanes.map(planes =>
      planes.zipWithIndex.map { case (p, i) =>
        val d = p.zip(query).map { case (w, x) => w * x }.sum
        if (d >= 0) 1L << i else 0L
      }.reduce(_ | _))
    val candidateCond = bandPlanes.zip(qSig).map { case (planes, sig) =>
      bucketSignature(col(vecCol), planes) === lit(sig)
    }.reduce(_ || _)
    df.filter(candidateCond)
      .select(col(idCol),
        cosineNative(col(vecCol),
          array(query.map(lit): _*).cast("array<float>")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }
}

package graft.operators

import org.apache.spark.JobCounting
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components by iterative min-label propagation — the step
  * that turns near-duplicate PAIRS into duplicate CLUSTERS (pick one
  * representative per component) in a dedup pipeline.
  *
  * Each round is one shuffle join (labels onto edge endpoints) plus a
  * min-aggregate; a component's minimum id floods outward one hop per
  * round, so rounds = O(max component diameter). Near-dup graphs are
  * unions of small cliques — diameters of 2-3 — so the loop converges in
  * a handful of rounds; for web-scale skewed graphs the same contract
  * would swap in the large-star/small-star algorithm (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14), which
  * converges in O(log n) rounds regardless of diameter.
  *
  * Convergence detection exploits monotonicity: labels only ever
  * decrease, so the exact (decimal) sum of labels strictly decreases on
  * any changing round — an unchanged sum IS the fixpoint. That makes
  * the per-round probe one tiny aggregate over the just-materialized
  * labels instead of a join against the previous round. Each round's
  * labels are localCheckpoint'ed: `labels` feeds the next round TWICE
  * (neighbor lookup + left join), so without cutting lineage the
  * logical plan doubles per round — exponential plan-string growth that
  * OOMs the driver before the data is ever large. On a cluster with
  * unreliable executors swap in reliable `checkpoint` (an HDFS write) —
  * same contract.
  */
object ConnectedComponents {

  /** Components of the undirected graph given by (aCol, bCol) pairs.
    * Returns (id, component) for every node incident to an edge, where
    * `component` is the minimum node id reachable from `id`. */
  def components(edges: DataFrame, aCol: String, bCol: String,
                 maxIterations: Int = 20): DataFrame = {
    JobCounting.described(edges.sparkSession.sparkContext, "cc: min-label propagation") {
      // materialize the edge projection BEFORE symmetrizing: both union
      // branches reference it, and a lazy plan there is evaluated twice —
      // for pair streams from a dedup pipeline that re-runs the whole
      // sketch+verify cascade a second time (measured 2× the pipeline
      // cost at sf0.1 before this cut lineage)
      val fwd = edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
        .localCheckpoint(true, StorageLevel.DISK_ONLY)
      val und = fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // seed with min(id, min neighbor): exactly the result of round one
      // from identity labels, for the price of the node-list aggregate
      // the init needed anyway — one fewer join round every call
      var labels = und.groupBy("a").agg(min(col("b")).as("__mn"))
        .select(col("a").as("id"), least(col("a"), col("__mn")).as("comp"))
        .localCheckpoint(true, StorageLevel.DISK_ONLY)
      // exact sum (no long overflow for any ids) — the monotone potential
      def labelSum(df: DataFrame): java.math.BigDecimal =
        // sum over zero rows is null — an empty graph must converge on
        // round one (0 == 0), not NPE in the compare
        Option(df.agg(sum(col("comp").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
          .head().getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
      var prevSum = labelSum(labels)
      var converged = false
      var i = 0
      while (!converged && i < maxIterations) {
        val nbrMin = und.join(labels.select(col("id").as("b"), col("comp").as("nbr_comp")), "b")
          .groupBy(col("a").as("id"))
          .agg(min(col("nbr_comp")).as("nbr_min"))
        labels = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp"))
          .localCheckpoint(true, StorageLevel.DISK_ONLY)
        val curSum = labelSum(labels)
        converged = curSum.compareTo(prevSum) == 0
        prevSum = curSum
        i += 1
      }
      require(converged,
        s"connected components did not converge within $maxIterations rounds " +
          "(component diameter too large — use componentsStarContraction)")
      labels
    }
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the web-scale variant: converges in
    * O(log²|V|) rounds regardless of component DIAMETER, where
    * [[components]] needs a round per hop. Same contract and output.
    *
    * Each round: large-star points every node's larger neighbors at the
    * minimum of its closed neighborhood, small-star then collapses the
    * smaller neighbors the same way; both preserve connectivity, only
    * ever re-point edges at smaller ids, and at the joint fixpoint the
    * graph is a disjoint union of stars rooted at component minima —
    * so the final labels are one min-aggregate over the star edges.
    * Edges stay canonical (hi, lo) distinct pairs between rounds, so a
    * round is groupBy-min + join shuffles over 8-byte pairs; the
    * fixpoint test is an exact set compare (count + anti-difference),
    * and every round localCheckpoints to cut iterative lineage.
    * Checkpoints are DISK_ONLY: localCheckpoint blocks are
    * unrecomputable (lineage is cut), so they must never be stored
    * evictable — and the deserialized in-memory form was the r8 OOM on
    * a 6.8M-edge candidate graph (MemoryStore value arrays × 32
    * concurrent tasks, while the dedup pipeline's own caches pin the
    * heap). Disk round-trips of ~100 MB/round are noise next to the
    * joins. */
  def componentsStarContraction(edges: DataFrame, aCol: String, bCol: String,
                                maxIterations: Int = 25): DataFrame = {
    // canonical undirected edge set: (u, v) with u > v, no self loops
    def canon(df: DataFrame): DataFrame =
      df.select(greatest(col("u"), col("v")).as("u"),
                least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
    def sym(df: DataFrame): DataFrame =
      df.union(df.select(col("v").as("u"), col("u").as("v")))
    // large-star(u): for m = min(Γ(u) ∪ {u}), emit (v, m) ∀ v ∈ Γ(u), v > u
    def largeStar(e: DataFrame): DataFrame = {
      val und = sym(e)
      val m = und.groupBy("u").agg(min("v").as("__mn"))
        .select(col("u"), least(col("__mn"), col("u")).as("m"))
      canon(und.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    // small-star(u): over the smaller neighbors S = {v ∈ Γ(u) : v < u}
    // (exactly the canonical edges grouped by u), for m = min(S) emit
    // (v, m) ∀ v ∈ S plus the (u, m) link itself
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min("v").as("m"))
      canon(e.join(m, "u").select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v"))))
    }
    JobCounting.described(edges.sparkSession.sparkContext, "cc: star contraction") {
      // materialize the raw edge projection BEFORE canon: canon's
      // greatest/least/filter constraints over a union-shaped input (e.g.
      // a dedup verifier's grouped∪fallback pair set, or expandPairs'
      // intra∪cross union) trip Catalyst's Union.rewriteConstraints with
      // a "key not found" on a contraction-internal attribute; an RDD
      // boundary makes the iterative plan self-contained
      val raw = edges.select(col(aCol).cast("long").as("u"),
          col(bCol).cast("long").as("v"))
        .localCheckpoint(true, StorageLevel.DISK_ONLY)
      var cur = canon(raw)
        .localCheckpoint(true, StorageLevel.DISK_ONLY)
      // the canon() distinct makes each round's edge frame a SET, and its
      // checkpointed count is known from the previous round's convergence
      // check — carry it instead of re-counting (one fewer job per round)
      var curCount = cur.count()
      var converged = false
      var i = 0
      while (!converged && i < maxIterations) {
        val next = smallStar(largeStar(cur)).localCheckpoint(true, StorageLevel.DISK_ONLY)
        val nextCount = next.count()
        converged = nextCount == curCount && next.exceptAll(cur).isEmpty
        cur = next
        curCount = nextCount
        i += 1
      }
      require(converged,
        s"star contraction did not converge within $maxIterations rounds")
      sym(cur).groupBy(col("u").as("id"))
        .agg(min("v").as("__mn"))
        .select(col("id"), least(col("id"), col("__mn")).as("comp"))
    }
  }
}

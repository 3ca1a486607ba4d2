package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys.
  *
  * A shuffle join on a skewed key sends every row of a hot key to one
  * reducer; AQE's skew-join split handles many cases, but when the build
  * side is replicable the classic fix is salting: replicate the build side
  * `saltFactor` ways and scatter the probe side across the replicas.
  *
  * The probe-side salt is `pmod(xxhash64(probe key columns…), n)` —
  * deterministic (no `rand()`, so retried/speculative tasks and re-runs
  * produce identical output) while still spreading a hot key's rows: rows
  * of the same key get the same hash, so spreading uses `saltCol`, an
  * (ideally unique) discriminator column such as the fact's line number.
  *
  * Semantics equal the unsalted inner/left join — proven in SkewJoinSpec.
  */
object SkewJoin {

  /** Inner or left equi-join of `probe` (large, possibly skewed) against
    * `build` (small enough to replicate `saltFactor` times).
    *
    * @param saltCol probe-side discriminator used to scatter rows of one
    *                key across replicas (use a unique column).
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                 saltCol: String, saltFactor: Int = 8,
                 joinType: String = "inner"): DataFrame = {
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"saltedJoin supports inner/left joins, got $joinType")
    val salted = probe.withColumn("__salt",
      pmod(xxhash64(col(saltCol)), lit(saltFactor.toLong)).cast("int"))
    val replicated = build.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }
}

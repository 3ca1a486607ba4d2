package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Change-detection hashing, keep-latest dedup, SCD Type 1 merge and SCD
  * Type 2 history tracking — the silver-layer incremental machinery
  * (SURVEY.md §2.9), rebuilt functionally over Parquet.
  *
  * Scale notes: every operation here is a key-partitioned join or window —
  * one shuffle per side on the natural key, no driver-side collection. The
  * SCD rebuilds rewrite the dimension, which is the right trade for
  * dimensions (small relative to facts); facts use watermark appends
  * instead (Watermark).
  */
object Scd {

  /** SHA2-256 fingerprint over the tracked columns, null-safe via a
    * sentinel, pipe-delimited (proc_load_silver.sql:63-71). One 64-hex
    * string comparison replaces a wide column-by-column compare. */
  def hashFull(cols: Seq[String]): Column =
    sha2(concat_ws("|", cols.map(c => coalesce(col(c).cast("string"), lit("§null§"))): _*), 256)

  def withHash(df: DataFrame, tracked: Seq[String], hashCol: String = "dwh_hash_full"): DataFrame =
    df.withColumn(hashCol, hashFull(tracked))

  /** W1 — deduplicate keeping the latest row per key
    * (proc_load_silver.sql:90-97). `order` must make rows totally ordered
    * per key (add a unique tiebreaker) or results are nondeterministic. */
  def keepLatest(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** SCD Type 1 MERGE (proc_load_silver.sql:58-113): update matched rows
    * whose hash changed, insert new keys, keep everything else — as a
    * functional rebuild (no Delta ⇒ write via Warehouse.rebuild).
    *
    * Both sides must already carry `hashCol`. Audit columns:
    * `dwh_create_date` survives updates; `dwh_update_date` reflects the
    * batch that last touched the row.
    */
  def scd1Merge(target: DataFrame, source: DataFrame, keys: Seq[String],
                hashCol: String, loadTs: java.sql.Timestamp): DataFrame = {
    val dataCols = source.columns.filterNot(keys.contains)
    val t = target.select(
      keys.map(col) ++
        dataCols.map(c => col(c).as(s"__t_$c")) ++
        Seq(col("dwh_create_date").as("__t_create"),
            col("dwh_update_date").as("__t_update")): _*)
    val s = source
    // Full outer on the natural key: one pass classifies kept / updated /
    // inserted rows without a second anti-join shuffle.
    val joined = s.join(t, keys, "full_outer")
    val srcMatched = col(s"__t_$hashCol").isNotNull
    val srcPresent = col(hashCol).isNotNull
    val changed = srcPresent && srcMatched && col(hashCol) =!= col(s"__t_$hashCol")
    val fresh = srcPresent && !srcMatched
    joined.select(
      keys.map(col) ++
        dataCols.map { c =>
          when(srcPresent, col(c)).otherwise(col(s"__t_$c")).as(c)
        } ++ Seq(
          when(fresh, lit(loadTs)).otherwise(col("__t_create")).as("dwh_create_date"),
          when(fresh || changed, lit(loadTs))
            .otherwise(col("__t_update")).as("dwh_update_date")): _*)
  }

  /** SCD Type 2 (proc_load_silver.sql:141-201): expire current rows whose
    * hash changed (set `expiry_date`, `is_current = false`), insert new
    * versions, keep history. Target carries
    * (`effective_date`,`expiry_date`,`is_current`,hashCol); source is the
    * hashed current snapshot with the same business columns.
    */
  def scd2Apply(target: DataFrame, source: DataFrame, keys: Seq[String],
                hashCol: String, loadTs: java.sql.Timestamp): DataFrame = {
    val history = target.filter(!col("is_current"))
    val current = target.filter(col("is_current"))
    val srcHashes = source.select((keys.map(col) :+ col(hashCol).as("__s_hash")): _*)
    // Expire changed current rows; keep unchanged ones open.
    val currentMarked = current.join(srcHashes, keys, "left")
    val stillCurrent = currentMarked
      .filter(col("__s_hash").isNull || col("__s_hash") === col(hashCol))
      .drop("__s_hash")
    val expired = currentMarked
      .filter(col("__s_hash").isNotNull && col("__s_hash") =!= col(hashCol))
      .drop("__s_hash")
      .withColumn("expiry_date", lit(loadTs))
      .withColumn("is_current", lit(false))
    // New versions: source keys that are brand new or just expired.
    val curHashes = current.select((keys.map(col) :+ col(hashCol).as("__t_hash")): _*)
    val newVersions = source.join(curHashes, keys, "left")
      .filter(col("__t_hash").isNull || col("__t_hash") =!= col(hashCol))
      .drop("__t_hash")
      .withColumn("effective_date", lit(loadTs))
      .withColumn("expiry_date", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    history.unionByName(stillCurrent)
      .unionByName(expired)
      .unionByName(newVersions.select(stillCurrent.columns.map(col): _*))
  }

  /** Late-arriving dimension handling: facts can reference members the
    * dimension hasn't loaded yet (the fact feed outruns the dim feed).
    * Emit the dimension plus one INFERRED placeholder row per unknown
    * fact key — key + `defaults`, everything else NULL, `is_inferred`
    * true — so fact joins never drop rows; the next real dim load
    * resolves placeholders via [[scd1Merge]] (the placeholder hash never
    * matches a real row's). One distinct + one anti-join, both hash-
    * partitioned on the key — no driver state at any fact volume. */
  def inferMembers(dim: DataFrame, facts: DataFrame, dimKey: String,
                   factKey: String, defaults: Map[String, Column]): DataFrame = {
    val unknown = facts.select(col(factKey).as(dimKey)).distinct()
      .join(dim, Seq(dimKey), "left_anti")
    val placeholder = dim.columns.filterNot(_ == dimKey).foldLeft(unknown) {
      case (acc, c) => acc.withColumn(c,
        defaults.getOrElse(c, lit(null)).cast(dim.schema(c).dataType))
    }
    dim.withColumn("is_inferred", lit(false))
      .unionByName(placeholder.withColumn("is_inferred", lit(true)))
  }

  /** Bootstrap an SCD2 table from a first snapshot: every row opens a
    * current version effective at `loadTs`. */
  def scd2Init(source: DataFrame, loadTs: java.sql.Timestamp): DataFrame =
    source.withColumn("effective_date", lit(loadTs))
      .withColumn("expiry_date", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
}

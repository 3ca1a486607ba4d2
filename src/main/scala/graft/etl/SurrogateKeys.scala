package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.LongType

/** Surrogate-key assignment (proc_load_gold.sql:54,109).
  *
  * The reference numbers rows with a global ROW_NUMBER(), which in Spark
  * funnels every row through one task. [[scalable]] is the one path here
  * (the gold customer and product keys in [[GoldLoader]], and
  * `FrontierPack21`'s contiguous numberings): sort → zipWithIndex (two
  * phases: per-partition counts, then offset add), contiguous and
  * deterministic for a total ordering, with no single-partition
  * collapse.
  */
object SurrogateKeys {

  /** Two-phase contiguous numbering starting at 1. `order` must be a total
    * ordering (include a unique tiebreaker) for deterministic keys. */
  def scalable(df: DataFrame, keyName: String, order: Seq[Column]): DataFrame = {
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val schema = sorted.schema
    val out = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    sorted.sparkSession.createDataFrame(out,
      schema.add(keyName, LongType, nullable = false))
  }
}

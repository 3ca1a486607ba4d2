package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.TestSessions

/** Dynamic partition pruning: a broadcast-dim join on the partition
  * column must plan a dynamicpruning filter on the fact scan, and the
  * scan must read only the matching partition directories. */
class DppSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  test("dim filter prunes fact partitions through the join") {
    val tmp = org.apache.spark.ScratchDirs.create("graft_dpp_spec").toString
    (1 to 1000).map(i => (i.toLong, s"p${i % 10}"))
      .toDF("id", "part")
      .write.mode("overwrite").partitionBy("part").parquet(tmp)
    val fact = spark.read.parquet(tmp)
    // the dim must come from a real source: a LocalRelation's filter is
    // constant-folded away before PartitionPruning runs, and without a
    // surviving selective Filter node the rule never fires
    val dimPath = org.apache.spark.ScratchDirs.create("graft_dpp_dim").toString
    (0 until 10).map(i => (s"p$i", i % 2)).toDF("part", "grp")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)

    val q = fact.join(broadcast(dim.filter(col("grp") === 0)), Seq("part"))
      .groupBy("part").agg(count(lit(1)).as("n"))

    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in:\n$plan")

    // correctness: only even-part groups, each with 100 rows
    val got = q.as[(String, Long)].collect().toMap
    assert(got === (0 until 10 by 2).map(i => s"p$i" -> 100L).toMap)
  }
}

package graft.plans

import java.util.{Comparator, PriorityQueue}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension: per-group top-k as a first-class
  * plan node with a PARTIAL/FINAL physical split — the §2.11(c) tier
  * (custom LogicalPlan + SparkStrategy + SparkPlan) of the
  * custom-operator preference order.
  *
  * Why not a window? `row_number() OVER (PARTITION BY g ORDER BY s)`
  * shuffles EVERY row of every group and sorts each group fully, then
  * throws away all but k. This operator keeps a k-bounded heap per
  * group inside each input partition first (the aggregation-style
  * partial), so the exchange moves at most k·partitions rows per group
  * regardless of group size — at 100 TB with hot groups that is the
  * difference between a bounded shuffle and a skew cliff. The final
  * pass re-heaps the ≤ k·partitions survivors per group after the
  * clustered exchange (EnsureRequirements plants the shuffle from the
  * declared ClusteredDistribution, exactly like final aggregation).
  *
  * Ordering is a full `Seq[SortOrder]` compared via Catalyst's
  * interpreted `RowOrdering`, so callers pin total determinism with a
  * unique tiebreak column, same as every oracled window entry.
  */
case class TopKPerGroupPlan(groupExprs: Seq[Expression],
                            ordering: Seq[SortOrder], k: Int,
                            child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"k must be >= 1, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

/** Shared bounded-heap pass: one k-heap per group key in this
  * partition, worst row at the head for O(log k) eviction. */
private[plans] abstract class TopKExecBase extends UnaryExecNode {
  def groupExprs: Seq[Expression]
  def ordering: Seq[SortOrder]
  def k: Int

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val groupExprsB = groupExprs
    val orderingB = ordering
    val kB = k
    val childOutput = child.output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(groupExprsB, childOutput)
      val cmp = RowOrdering.create(orderingB, childOutput)
      // head of each queue = WORST retained row (reverse ordering)
      val heaps = new java.util.HashMap[InternalRow, PriorityQueue[InternalRow]]()
      val revCmp: Comparator[InternalRow] = (a, b) => cmp.compare(b, a)
      it.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new PriorityQueue[InternalRow](kB + 1, revCmp)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kB) heap.add(row.copy())
        else if (cmp.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }
  }
}

/** Map-side pass: no distribution requirement — runs on whatever
  * partitioning the child already has. */
case class TopKPartialExec(groupExprs: Seq[Expression],
                           ordering: Seq[SortOrder], k: Int,
                           child: SparkPlan) extends TopKExecBase {
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPartialExec =
    copy(child = newChild)
}

/** Reduce-side pass: requires co-location by group key; the planner
  * inserts the exchange, which only ever carries the partial winners. */
case class TopKFinalExec(groupExprs: Seq[Expression],
                         ordering: Seq[SortOrder], k: Int,
                         child: SparkPlan) extends TopKExecBase {
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): TopKFinalExec =
    copy(child = newChild)
}

/** Planner strategy: logical TopKPerGroupPlan → Final(Partial(child)). */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(g, o, k, child) =>
      TopKFinalExec(g, o, k, TopKPartialExec(g, o, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {

  /** Resolve a column name to the analyzed plan's attribute — eager,
    * serializable, no lazy Column-node indirection. */
  private[plans] def attr(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"column '$name' not in ${plan.output.map(_.name).mkString(", ")}"))

  /** Per-group top-k of `df` — groups by `groupCols`, keeps the first
    * `k` rows per group under `orderKeys` (`(column, descending?)`;
    * include a unique tiebreaker for total determinism). Registers
    * [[TopKStrategy]] on the session once (idempotent). */
  def topK(df: DataFrame, groupCols: Seq[String],
           orderKeys: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val analyzed = df.queryExecution.analyzed
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
    val groupExprs: Seq[Expression] = groupCols.map(attr(analyzed, _))
    val ordering: Seq[SortOrder] = orderKeys.map { case (c, desc) =>
      SortOrder(attr(analyzed, c), if (desc) Descending else Ascending)
    }
    GraftPlanBridge.ofRows(spark,
      TopKPerGroupPlan(groupExprs, ordering, k, analyzed))
  }
}

package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator extension (SURVEY §2.12, mechanism (c)): distributed
  * top-k per group as a first-class plan node — logical node, planner
  * strategy, and a two-phase physical operator, injected through
  * `SparkSessionExtensions.injectPlannerStrategy`.
  *
  * Why an operator and not a window: `row_number() OVER (PARTITION BY
  * g ORDER BY o) <= k` materializes and SORTS every group in full —
  * at 100 TB with few groups that is a full-data sort with parallelism
  * capped at |groups|. This operator keeps a bounded k-row heap per
  * group per partition (phase 1, no exchange, O(n log k), no sort
  * buffer), then shuffles only the ≤ k·|partitions| survivors per
  * group for the exact merge (phase 2). The exchange volume is
  * independent of input size — the same reason Spark's own
  * `TakeOrderedAndProject` exists for the global-limit case; this is
  * its grouped generalization.
  *
  * Exactness: the per-group ordering must be total (callers pass a
  * unique tiebreak) — then every global top-k row is in its
  * partition's top-k, so phase 1 never discards a survivor.
  */
case class TopKPerGroupNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "top-k requires k > 0")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupNode =
    copy(child = newChild)
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** Phase 2 needs all of a group's candidates in one task; phase 1
    * runs wherever the data already is. EnsureRequirements inserts the
    * hash exchange between the phases — over ≤ k rows per (partition,
    * group), never over the input. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val groupLocal = groupExprs
    val orderLocal = order
    val kLocal = k
    val childOutput = child.output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(groupLocal, childOutput)
      val ordering = new LazilyGeneratedOrdering(orderLocal, childOutput)
      // Max-heap under the sort order: head is the WORST retained row,
      // evicted when a better row arrives. Memory is O(|groups| · k)
      // per task — bounded, no sort buffer, no spill pressure.
      val heaps = new java.util.HashMap[UnsafeRow, mutable.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = mutable.PriorityQueue.empty[InternalRow](ordering)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kLocal) heap.enqueue(row.copy())
        else if (ordering.compare(row, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(row.copy())
        }
      }
      heaps.values().iterator().asScala.flatMap(_.iterator)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Plans the logical node as partial-then-final — the same shape as
  * Spark's partial/final aggregation pair. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(group, order, k, child) =>
      TopKPerGroupExec(group, order, k, partial = false,
        TopKPerGroupExec(group, order, k, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {
  /** Top-k rows per group of `df` under `(name, descending)` order.
    * The order should be total within groups (unique tiebreak) for a
    * deterministic result. */
  def apply(df: DataFrame, groupCols: Seq[String],
            orderCols: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    graft.Graft.install(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${analyzed.output.map(_.name).mkString(", ")}"))
    val order = orderCols.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    org.apache.spark.sql.graftshim.GraftShimImpl.ofRows(spark,
      TopKPerGroupNode(groupCols.map(attr), order, k, analyzed))
  }
}

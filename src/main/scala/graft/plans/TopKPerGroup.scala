package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.DataFrame

/** Whole-operator extension (SURVEY.md §7.3 tier (c)): per-group top-k as
  * a first-class physical operator — `TakeOrderedAndProject`, but keyed.
  *
  * Spark's built-in formulation of "top-k rows per group" is
  * `row_number().over(Window.partitionBy(g).orderBy(o)) <= k`, whose
  * physical plan SORTS every partition in full (WindowExec requires
  * [group, order] sort) and only then discards all but k rows per group.
  * This operator never builds that sort: each task keeps a bounded heap
  * of k rows per group, so
  *
  *   - map-side ("partial") it caps every group at k rows BEFORE the
  *     exchange — the shuffle carries ≤ k·groups rows per task instead of
  *     the whole table (same role partial aggregation plays for groupBy),
  *   - reduce-side ("final") it merges the partial winners per group,
  *     memory-bounded at O(groups-per-task · k) with no sort buffer.
  *
  * At 100 TB the win is the vanished per-partition sort (O(n log n) over
  * the fact table) and the shrunken exchange; the observable result is
  * row-identical to the window formulation, which is exactly what the
  * oracle checks (q73 vs q11's QUALIFY derivation).
  *
  * Planning: `TopKPerGroup` (logical) is planned by
  * [[TopKPerGroupStrategy]] into final-over-partial [[TopKPerGroupExec]];
  * the final's `ClusteredDistribution` makes EnsureRequirements insert
  * the hash exchange on the group key. Registered by
  * `spark.sql.extensions=graft.functions.GraftExtensions`, which every
  * session the engine builds installs; a session without it cannot
  * plan the node.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"top-k needs k > 0, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

case class TopKPerGroupExec(
    partial: Boolean,
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupExprs))
  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroupFinal"

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val g = groupExprs
    val ord = ordering
    val kk = k
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(g, childOutput)
      val cmp = RowOrdering.create(ord, childOutput)
      // heap root = current worst survivor (reverse comparator), so the
      // common case for a full heap is one compare and no mutation
      val revCmp = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int = cmp.compare(b, a)
      }
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](kk + 1, revCmp)
          heaps.put(key.copy(), heap) // projection reuses its row buffer
        }
        if (heap.size < kk) heap.offer(row.copy()) // iterator reuses rows
        else if (cmp.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.offer(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      TopKPerGroupExec(partial = false, g, o, k,
        TopKPerGroupExec(partial = true, g, o, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** User-facing entry points for the custom operator. */
object GraftOps {

  /** Top-k rows per group of `df`, ordered by `sort` (column name →
    * descending?). Ties must be broken by the sort spec itself (give a
    * unique tiebreak column) for deterministic output. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
                   sort: Seq[(String, Boolean)], k: Int): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"topKPerGroup: no column '$n' in ${analyzed.output.map(_.name)}"))
    val g = groupCols.map(attr(_): Expression)
    val ord = sort.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    org.apache.spark.sql.graftops.Bridge.ofRows(spark, TopKPerGroup(g, ord, k, analyzed))
  }
}

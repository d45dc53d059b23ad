package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Catalyst optimizer rule (SURVEY.md §7.3 tier (c), the optimizer leg):
  * rewrites the universal top-k-per-group idiom
  *
  *   {{{ df.withColumn("rnk", row_number().over(partitionBy(g).orderBy(o)))
  *        .filter($"rnk" <= k).drop("rnk") }}}
  *
  * into the native [[TopKPerGroup]] operator, so EXISTING query code —
  * and SQL `QUALIFY row_number() ... <= k` — gets the bounded-heap plan
  * (map-side k-capped shuffle, no per-partition full sort) without being
  * rewritten by hand. This is the division of labor Catalyst exists for:
  * users state the idiom, a rule recognizes intent, the strategy supplies
  * the efficient physical form.
  *
  * Relation to Spark's own `InferWindowGroupLimit` (3.5+): the built-in
  * optimization also caps groups at k on both shuffle sides, but its
  * `WindowGroupLimitExec` filters a SORTED stream — every partition still
  * pays the O(n log n) sort that dominates the window plan. The heap
  * operator replaces the sort with O(n log k) bounded-heap maintenance
  * and no sort buffer; the rule unwraps the now-redundant
  * WindowGroupLimit it finds under the window node.
  *
  * The rewrite fires only when it is provably safe:
  *   - the window node computes EXACTLY ONE expression: `row_number()`
  *     over a non-empty partitionSpec with the standard ROWS
  *     UNBOUNDED-PRECEDING..CURRENT-ROW frame (rank()/dense_rank() admit
  *     >k rows on ties — a fixed-k heap would change their semantics);
  *   - the filter condition is a simple integer bound on that rank
  *     attribute (`<= k`, `< k+1`, `= 1`) and references nothing else;
  *   - the projection above the filter DROPS the rank attribute — if the
  *     rank itself survives into the output, the heap (which never
  *     materializes ranks) cannot substitute.
  *
  * Like `row_number` itself, output under an order with ties is
  * tie-nondeterministic; the rewrite neither adds nor removes that
  * caveat. Registered via `GraftExtensions` (injectOptimizerRule, with
  * the [[TopKPerGroupStrategy]] that plans its output).
  */
object WindowTopKRewrite extends Rule[LogicalPlan] {

  private def isRowNumberFrame(spec: WindowSpecDefinition): Boolean =
    spec.frameSpecification match {
      case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => true
      case _ => false
    }

  /** k such that `cond` ≡ rank ≤ k, if `cond` is that shape. */
  private def limitOf(cond: Expression, rank: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType))
      if a.semanticEquals(rank) => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, IntegerType))
      if a.semanticEquals(rank) => Some(v - 1)
    case EqualTo(a: Attribute, Literal(v: Int, IntegerType))
      if a.semanticEquals(rank) && v == 1 => Some(1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute)
      if a.semanticEquals(rank) => Some(v)
    case GreaterThan(Literal(v: Int, IntegerType), a: Attribute)
      if a.semanticEquals(rank) => Some(v - 1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projList,
        Filter(cond,
          Window(Seq(al @ Alias(WindowExpression(RowNumber(), spec), _)), part, ord, child, _)))
        if part.nonEmpty && ord.nonEmpty && isRowNumberFrame(spec) &&
          cond.references.subsetOf(AttributeSet(al.toAttribute)) &&
          !projList.exists(_.references.contains(al.toAttribute)) =>
      limitOf(cond, al.toAttribute) match {
        case Some(k) if k > 0 =>
          // Spark's own InferWindowGroupLimit has usually fired by now,
          // leaving a WindowGroupLimit under the Window; its physical form
          // still SORTS every partition (it filters a sorted stream), so
          // it is strictly redundant below the heap — unwrap it.
          val base = child match {
            case wgl: WindowGroupLimit => wgl.child
            case other => other
          }
          Project(projList, TopKPerGroup(part, ord, k, base))
        case _ => p
      }
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, Attribute, AttributeReference, AttributeSet, CaseWhen, Coalesce, EqualNullSafe, EqualTo, Expression, GreaterThan, Literal, NamedExpression, Not, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LogicalPlan, Project, SubqueryAlias, Union}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DataType, DecimalType, LongType, MapType}

/** Incremental materialized-view maintenance (r13) — the planning half.
  *
  * `refresh_materialized_view` used to be a full RTAS: at 100 TB the
  * nightly refresh re-read the whole source even when the delta was one
  * partition. This module proves when a cheaper derivation exists and
  * builds it. The soundness argument is the classic distributive-IVM
  * one (self-maintainable aggregate views — Gupta/Mumick's incremental
  * view maintenance framing, re-derived here on this engine's signed
  * change feed):
  *
  *   - a body of shape `SELECT g*, f_i(AGG_i(e_i))... FROM t [WHERE p]
  *     GROUP BY g*` with AGG in {SUM over DECIMAL/LONG, COUNT} is a
  *     GROUP-WISE SUM over the source multiset;
  *   - [[graft.sources.ChangeFeed.signedChanges]] serves the multiset
  *     DELTA between two table versions as rows tagged `_sign` = ±1 —
  *     no unique key needed, copy-on-write re-emissions cancel
  *     arithmetically inside the signed sums;
  *   - therefore `AGG(version B) = AGG(version A) ⊕ AGG_signed(delta)`
  *     per group, where ⊕ is addition of the RAW aggregate state.
  *
  * The raw state lives in hidden backing columns (`graft_ivm_*`),
  * written by the (augmented) CTAS and invisible to readers — the
  * fresh-read path projects the view's declared columns. Per SUM slot
  * the state is (raw sum, non-null count): the count restores SQL's
  * NULL-sum semantics when every contributing non-null row has been
  * deleted, which plain sum arithmetic cannot distinguish from 0. A
  * `graft_ivm_n` COUNT(*) decides group LIVENESS — a group whose net
  * row count reaches zero leaves the backing table, exactly as it
  * leaves the recomputed aggregate.
  *
  * Exactness, not approximation: eligible SUMs are restricted to
  * DECIMAL and integral results (float addition is not associative, so
  * a float sum maintained incrementally could drift a ulp from the
  * recompute — those fall back to RTAS). Outer scalar wrappers around
  * the aggregate (the engine's Det idiom `CAST(SUM(DECIMAL) AS
  * DOUBLE)`) are kept as TEMPLATES and re-applied to the merged raw
  * state, so the visible column is bit-identical to a full recompute.
  *
  * r14/r15 widen the source side: a tree of INNER joins over graft
  * relations (with deterministic Filters/Projects riding) is LINEAR in
  * every LEAF OCCURRENCE, so the view's delta TELESCOPES over the
  * moved occurrences ([[splicedTerm]]) — one term per mover, earlier
  * leaves reading head (live), later mover occurrences version-pinned
  * at their recorded manifests. One mover is the fact⋈dim case
  * (either side); several movers and self-joined movers union their
  * terms. AVG over DECIMAL canonicalizes into derived (sum, count)
  * slots with a division template that reproduces Spark's Average
  * bit-for-bit.
  *
  * r15 adds COUNT(DISTINCT x) — not distributive, so it maintains via
  * a hidden per-(group, value) liveness table under the same signed
  * MERGE discipline ([[DistinctSlot]]).
  *
  * Everything here DECLINES loudly-by-returning-None on any shape it
  * cannot prove (outer joins, DISTINCT other than single-arg COUNT,
  * FILTER clauses, HAVING, subquery expressions, non-deterministic
  * expressions, float SUM/AVG, group keys not in the output, map
  * keys) — the caller falls back to the always-correct RTAS.
  */
object MvIncremental {

  /** Hidden liveness column: net COUNT(*) per group. */
  val LivenessCol = "graft_ivm_n"

  private def auxName(j: Int) = s"graft_ivm_a$j"
  private def nnName(j: Int) = s"graft_ivm_c$j"
  private def repairedName(j: Int) = s"graft_ivm_r$j"
  private def retractedName(j: Int) = s"graft_ivm_x$j"
  private def placeholder(j: Int) = s"GRAFT_IVM_P$j"

  sealed trait SlotKind
  case object SumSlot extends SlotKind
  case object CountSlot extends SlotKind
  /** MIN/MAX (r13b): exact under ANY merge over an insert-only window
    * ([[graft.sources.ChangeFeed.WindowDiff.insertOnly]]) — comparisons,
    * no arithmetic. A DELETION can retract the stored extremum: under a
    * deleting window only a group that may have LOST the extremum the
    * merge would keep ([[lostExtremaSql]]) REPAIRS (r14 — its extremum
    * recomputed from source, [[Slot.repaired]], taken verbatim by the
    * merge); every other group merges as if insert-only. */
  case object MinSlot extends SlotKind
  case object MaxSlot extends SlotKind
  /** COUNT(DISTINCT x) (r15): not distributive over the signed delta —
    * whether a deleted occurrence decrements the count depends on
    * whether it was the LAST one. Maintained exactly via a hidden
    * per-(group, value) LIVENESS table (`_mvaux_<view>_d<j>`): rows keyed
    * (group keys, value) carrying the value's net occurrence count.
    * The window's per-(group, value) net counts MERGE into it under
    * the same signed arithmetic as everything else, and the distinct
    * count's per-group delta is +1 per value BORN in the window
    * (absent before, net positive after) and -1 per value that DIED
    * (present before, net zero after) — read off a delta⋈aux join
    * against the PRE-merge aux state. Deleting windows need no
    * insert-only gate: the liveness count is signed-exact. */
  case object DistinctSlot extends SlotKind

  /** How the view responds to a delta in one leaf OCCURRENCE (r16). */
  sealed trait MoverStatus
  /** Every join edge above the leaf is linear in its side — the delta
    * splices directly ([[splicedTerm]] with the leaf signed). */
  case object LinearMover extends MoverStatus
  /** The leaf is the SINGLE leaf of a left-outer join's right subtree
    * with an equi-splittable condition: not linear (a dim delta can
    * flip a fact row's null-extension), but the flip is COMPUTABLE —
    * the Griffin–Libkin compensation ([[splicedTerm]] with
    * `signedOldPin` builds it). */
  case object CompMover extends MoverStatus
  /** No spliced term exists (multi-leaf outer right subtree, non-equi
    * outer condition): a window moving this leaf declines to RTAS. */
  case object FrozenMover extends MoverStatus

  /** One aggregate occurrence in the body's SELECT list. `raw` is the
    * resolved AggregateExpression (bound to the body's child), kept for
    * the augmented CTAS; the *Sql fields are syntactic and evaluate
    * against the signed-changes view. */
  case class Slot(j: Int, kind: SlotKind, raw: AggregateExpression,
                  deltaSql: String, nnDeltaSql: Option[String], typeSql: String) {
    def aux: String = auxName(j)
    def nn: String = nnName(j)
    /** MIN/MAX only: the delta column holding the group's extremum
      * recomputed from source under a deleting window. */
    def repaired: String = repairedName(j)
    /** MIN/MAX only: the delta column holding the extremum over the
      * window's -1 rows — what the repair probe compares with the
      * extremum the merge would keep. */
    def retracted: String = retractedName(j)
    /** The aggregate function's input expressions, resolved against the
      * body's relation — [[CatalogMvRewrite]] rebases these by name onto
      * a query's relation to prove measure coverage. */
    def fnChildren: Seq[Expression] = raw.aggregateFunction match {
      case su: Sum => Seq(su.child)
      case c: Count => c.children
      case m: Min => Seq(m.child)
      case m: Max => Seq(m.child)
      case _ => Nil
    }
  }

  /** A visible output column: either a group key (with the grouping
    * expression's SQL) or an aggregate-bearing expression (with a
    * template whose `GRAFT_IVM_P<j>` placeholders substitute per-slot
    * SQL). */
  case class OutCol(name: String, groupSql: Option[String], template: Option[String],
                    slotIdxs: Seq[Int], groupExpr: Option[Expression] = None) {
    def isGroup: Boolean = groupSql.isDefined
  }

  /** The proven-maintainable body shape.
    *
    * `leaves` are the source tree's relation nodes in left-to-right
    * order (r14: the source side may be a tree of INNER joins over
    * graft relations, with Filters/Projects riding — the aggregate is
    * LINEAR in each leaf, so replacing exactly one leaf by its signed
    * delta derives the view's delta, the standard fact⋈dim restricted
    * IVM case). `condSql`/`condExpr` are populated only for the
    * `[Filter?] over single leaf` shape — what the transparent rewrite
    * ([[CatalogMvRewrite]]) can reason about; `rewriteEligible` gates
    * it (a self-join has one SOURCE but two leaves and must not
    * rewrite). */
  case class Shape(outs: Seq[OutCol], slots: Seq[Slot], condSql: Option[String],
                   aggregate: Aggregate, contract: Option[Project],
                   leaves: Seq[DataSourceV2Relation] = Nil,
                   condExpr: Option[Expression] = None,
                   rewriteEligible: Boolean = true,
                   havingSql: Option[String] = None,
                   moverStatus: Seq[MoverStatus] = Nil) {
    def groupOuts: Seq[OutCol] = outs.filter(_.isGroup)
    /** MIN/MAX slots — a deleting window probes them for retracted
      * extrema. */
    def minMaxSlots: Seq[Slot] = slots.filter(sl => sl.kind == MinSlot || sl.kind == MaxSlot)
    /** COUNT(DISTINCT) slots — each owns a per-(group, value) liveness
      * table the refresh maintains alongside the backing (r15). */
    def distinctSlots: Seq[Slot] = slots.filter(_.kind == DistinctSlot)
    def auxCols: Seq[String] =
      LivenessCol +: slots.flatMap(s =>
        s.aux +: (if (s.kind == SumSlot) Seq(s.nn) else Nil))
  }

  private def stripAliases(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => stripAliases(c)
    case other => other
  }

  private def isLeafRelation(p: LogicalPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
    case _ => false
  }

  /** SUM is mergeable bit-exactly only when its addition is associative
    * and lossless: decimal and integral results qualify, floats do not. */
  private def exactSumType(dt: DataType): Boolean = dt match {
    case _: DecimalType => true
    case LongType => true
    case _ => false
  }

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
    case _ => false
  }

  private def q(name: String) = s"`$name`"

  /** Render an expression as SQL that resolves against the signed
    * temp view: resolved attributes carry their source-table qualifier
    * (`cat.ns.t.k`), which means nothing there — strip to bare names. */
  private def bareSql(e: Expression): String =
    e.transform {
      case a: AttributeReference => a.withQualifier(Seq.empty)
    }.sql

  /** Prove the ANALYZED body plan maintainable, or None. Accepts the
    * two shapes both callers produce: the bare `Aggregate [ge] [ae]
    * (Filter? (relation))` of a freshly-analyzed CREATE body, and the
    * view-contract form `Project(1:1 aliases)(Aggregate ...)` that
    * [[ResolveGraftViews.bodyPlan]] wraps (SubqueryAlias layers are
    * transparent everywhere). */
  def detect(analyzed: LogicalPlan): Option[Shape] = {
    val top = stripAliases(analyzed)
    // unwrap the output-contract projection, tracking the visible name
    // each aggregate output is published under. A HAVING clause (r15)
    // analyzes as a Filter over the Aggregate (optionally under the
    // contract Project): state maintenance ignores it — the backing
    // stores ALL groups — and the predicate re-applies at READ over
    // the visible columns (it filters whole groups, so the maintained
    // aggregates are exactly what it evaluates against).
    def unAgg(p: LogicalPlan): Option[(Aggregate, Option[Expression])] =
      stripAliases(p) match {
        case Filter(c, fch) => stripAliases(fch) match {
          case ag: Aggregate => Some((ag, Some(c)))
          case _ => None
        }
        case ag: Aggregate => Some((ag, None))
        case _ => None
      }
    val (visible: Seq[(String, NamedExpression)], agg: Aggregate,
         havingCond: Option[Expression]) = top match {
      case p @ Project(projList, child) =>
        val (a, hc) = unAgg(child).getOrElse(return None)
        val byId = a.aggregateExpressions.map(ne => ne.exprId -> ne).toMap
        val mapped = projList.map {
          case al @ Alias(ar: AttributeReference, _) =>
            byId.get(ar.exprId).map(ne => (al.name, ne))
          case ar: AttributeReference => byId.get(ar.exprId).map(ne => (ar.name, ne))
          case _ => None
        }
        if (mapped.exists(_.isEmpty)) return None
        (mapped.flatten, a, hc)
      case _ =>
        val (a, hc) = unAgg(top).getOrElse(return None)
        (a.aggregateExpressions.map(ne => (ne.name, ne)), a, hc)
    }
    // source side (generalized r14, left-outer r15): a tree of INNER
    // and LEFT OUTER joins over leaf relations, with deterministic
    // Filters/Projects riding anywhere — the aggregate is LINEAR in
    // every inner-join leaf and in a left-outer join's LEFT leaves
    // ({f} ⟕ D is one independent term per left row), so the delta
    // w.r.t. ONE moved eligible leaf is the tree with that leaf
    // replaced by its signed changes. Right-outer/full-outer decline;
    // right-side leaves of a left-outer join FREEZE (eligibility
    // false). Subquery expressions can reference tables of their own
    // (mixing versions inside one delta) and decline everywhere.
    def noSubquery(es: Seq[Expression]): Boolean =
      !es.exists(_.exists(_.isInstanceOf[SubqueryExpression]))
    // each leaf carries its MOVER STATUS (r15, refined r16): the view
    // is LINEAR in a leaf only when every join edge above it is linear
    // in its side — inner joins are bilinear (both sides linear), a
    // LEFT OUTER join is linear in its LEFT side only (a right-side
    // delta can flip a left row's null-extension, which no simple
    // spliced term expresses). r16: the single-leaf right subtree of a
    // left-outer join with an equi-splittable condition is COMPENSABLE
    // — the Griffin–Libkin construction derives the flip set from the
    // window's join keys, so a dim mover refreshes incrementally
    // instead of declining. Everything else on an outer right side
    // FREEZES: the shape still maintains, but a window in which a
    // frozen leaf moved declines to RTAS.
    def walkSource(p: LogicalPlan): Option[Seq[(DataSourceV2Relation, MoverStatus)]] =
      stripAliases(p) match {
        case r: DataSourceV2Relation => Some(Seq((r, LinearMover)))
        case Filter(c, ch) if c.deterministic && noSubquery(Seq(c)) =>
          walkSource(ch)
        case pr @ Project(pl, ch)
            if pl.forall(_.deterministic) && noSubquery(pl) =>
          walkSource(ch)
        case j: Join if (j.joinType == Inner || j.joinType == LeftOuter) &&
            j.condition.forall(c => c.deterministic && noSubquery(Seq(c))) =>
          for (l <- walkSource(j.left); r <- walkSource(j.right))
            yield if (j.joinType == Inner) l ++ r
            else {
              // one leaf ⇒ no joins inside the right subtree (a join
              // needs two leaf-bearing sides), only Filters/Projects —
              // exactly what the compensation can rebuild at the OLD
              // version; it must still be LINEAR below (trivially true
              // for a bare leaf) and the condition must split
              val comp = r.size == 1 && r.head._2 == LinearMover &&
                splitLojCondition(j.condition,
                  j.left.outputSet, j.right.outputSet).isDefined
              l ++ r.map { case (leaf, _) =>
                (leaf, if (comp) CompMover else FrozenMover) }
            }
        case _ => None
      }
    val leafPairs = walkSource(agg.child).getOrElse(return None)
    val leaves = leafPairs.map(_._1)
    if (leaves.isEmpty) return None
    // the delta aggregate renders bare-name SQL over the source tree's
    // output: names must be unambiguous, and `_sign` must be free for
    // the multiset tag
    val childNames = agg.child.output.map(_.name.toLowerCase(java.util.Locale.ROOT))
    if (childNames.distinct.size != childNames.size || childNames.contains("_sign"))
      return None
    // the single-leaf [Filter?] shape is additionally REWRITE-eligible:
    // condSql/condExpr feed the transparent rewrite's subsumption proof
    val (cond, rewriteOk) = stripAliases(agg.child) match {
      case Filter(c, ch) if isLeafRelation(stripAliases(ch)) => (Some(c), true)
      case other => (None, isLeafRelation(other))
    }
    // determinism end-to-end: replaying an expression over the delta
    // must mean what it meant over the source
    val allExprs = agg.groupingExpressions ++ agg.aggregateExpressions ++
      cond.toSeq ++ havingCond.toSeq
    if (!allExprs.forall(_.deterministic) || !noSubquery(allExprs)) return None
    if (agg.groupingExpressions.exists(g => hasMap(g.dataType))) return None
    // a GLOBAL aggregate always has exactly one output row — even over
    // an empty source — but the liveness model deletes the group when
    // its net count reaches zero. Rather than special-case the empty
    // table, decline: global aggregates re-read everything anyway.
    if (agg.groupingExpressions.isEmpty) return None

    val slots = scala.collection.mutable.ArrayBuffer.empty[Slot]
    def mkSlot(ae: AggregateExpression): Option[Int] = {
      if (ae.filter.isDefined) return None
      if (ae.isDistinct) return ae.aggregateFunction match {
        // COUNT(DISTINCT x) (r15): maintained via the per-(group,
        // value) liveness table — see [[DistinctSlot]]. Single-arg
        // only (multi-arg distinct tuples decline), non-map values
        // (no order/equality for map keys in the liveness grain).
        case c: Count if c.children.size == 1 && !hasMap(c.children.head.dataType) =>
          val j = slots.size
          slots += Slot(j, DistinctSlot, ae,
            // the per-group delta is NOT a signed sum over the window —
            // [[deltaSql]] joins the per-slot distinct leg instead
            deltaSql = "", nnDeltaSql = None, typeSql = LongType.sql)
          Some(j)
        case _ => None
      }
      ae.aggregateFunction match {
        case s: Sum if exactSumType(ae.dataType) =>
          val j = slots.size
          val e = bareSql(s.child)
          slots += Slot(j, SumSlot, ae,
            deltaSql = s"CAST(SUM(($e) * _sign) AS ${ae.dataType.sql})",
            nnDeltaSql = Some(
              s"CAST(SUM(CASE WHEN ($e) IS NOT NULL THEN _sign ELSE 0 END) AS BIGINT)"),
            typeSql = ae.dataType.sql)
          Some(j)
        case c: Count =>
          val j = slots.size
          val conds = c.children.map(ch => s"(${bareSql(ch)}) IS NOT NULL").mkString(" AND ")
          slots += Slot(j, CountSlot, ae,
            deltaSql = s"CAST(SUM(CASE WHEN $conds THEN _sign ELSE 0 END) AS BIGINT)",
            nnDeltaSql = None, typeSql = LongType.sql)
          Some(j)
        // MIN/MAX: exact for every orderable type (comparisons only).
        // deltaSql splits the window's rows by sign — over an insert-
        // only window a MIN of the inserted rows IS the window's
        // contribution; a deleting window probes the -1 side for a
        // retracted extremum ([[lostExtremaSql]]). This SQL itself is
        // the repair's recompute over source rows.
        case m: Min if !hasMap(ae.dataType) =>
          val j = slots.size
          slots += Slot(j, MinSlot, ae,
            deltaSql = s"MIN(${bareSql(m.child)})",
            nnDeltaSql = None, typeSql = ae.dataType.sql)
          Some(j)
        case m: Max if !hasMap(ae.dataType) =>
          val j = slots.size
          slots += Slot(j, MaxSlot, ae,
            deltaSql = s"MAX(${bareSql(m.child)})",
            nnDeltaSql = None, typeSql = ae.dataType.sql)
          Some(j)
        case _ => None
      }
    }

    val groupExprsOut = scala.collection.mutable.ArrayBuffer.empty[Expression]
    val outs = visible.map { case (name, namedOut) =>
      val expr = namedOut match {
        case Alias(child, _) => child
        case other => other
      }
      val aggsInside = expr.collect { case ae: AggregateExpression => ae }
      if (aggsInside.isEmpty) {
        // a pure group output must BE one of the grouping expressions —
        // anything else (an expression of group keys we can't invert,
        // a literal) keeps the shape unproven
        if (!agg.groupingExpressions.exists(_.semanticEquals(expr))) return None
        groupExprsOut += expr
        OutCol(name, groupSql = Some(bareSql(expr)), template = None, slotIdxs = Nil,
          groupExpr = Some(expr))
      } else {
        val idxs = scala.collection.mutable.ArrayBuffer.empty[Int]
        // AVG (r14): not a slot of its own — CANONICALIZED into the
        // (sum, count) state the backing already knows how to maintain,
        // with a division template replayed over the merged state.
        // Exact for DECIMAL inputs only: the fragment reproduces
        // Spark's own Average evaluation bit-for-bit — Divide(sum :
        // DECIMAL(p+10,s), count : DECIMAL(20,0)) under null-on-zero
        // semantics (try_divide), cast to Average's result type
        // DECIMAL(p+4,s+4) — so an incrementally-merged AVG equals the
        // recompute to the last digit. Float/integral AVG keeps the
        // float decline (its sum state is a double).
        def replacementFor(ae: AggregateExpression): Option[Expression] =
          ae.aggregateFunction match {
            case avg: Average if !ae.isDistinct && ae.filter.isEmpty &&
                avg.child.dataType.isInstanceOf[DecimalType] =>
              val js = mkSlot(Sum(avg.child).toAggregateExpression())
                .getOrElse(return None)
              val jc = mkSlot(Count(Seq(avg.child)).toAggregateExpression())
                .getOrElse(return None)
              idxs += js; idxs += jc
              Some(CatalystSqlParser.parseExpression(
                s"CAST(try_divide(${placeholder(js)}, " +
                  s"CAST(${placeholder(jc)} AS DECIMAL(20,0))) AS ${ae.dataType.sql})"))
            case _: Average => None
            case _ =>
              mkSlot(ae).map { j => idxs += j; UnresolvedAttribute(placeholder(j)) }
          }
        val templ = expr.transform {
          case ae: AggregateExpression => replacementFor(ae).getOrElse(return None)
        }
        // the wrapper around the aggregates must itself be replayable
        // over merged state: no lingering source attributes allowed
        // (e.g. `sum(v) + k` mixes state with a group column — the
        // merge could substitute d.`k`, but decline and stay simple)
        if (templ.collect {
          case a: Attribute if !a.name.startsWith("GRAFT_IVM_P") => a
        }.nonEmpty) return None
        OutCol(name, groupSql = None, template = Some(bareSql(templ)), slotIdxs = idxs.toSeq)
      }
    }
    // bijection: every grouping expression must surface exactly once as
    // an output, else the backing's grain differs from the aggregate's
    // and group rows would collide (or duplicate) in the merge
    if (groupExprsOut.size != agg.groupingExpressions.size) return None
    if (!agg.groupingExpressions.forall(g => groupExprsOut.exists(_.semanticEquals(g))))
      return None
    // hidden-column names must be free
    if (outs.exists(_.name.startsWith("graft_ivm_"))) return None
    // HAVING (r15): render the predicate over the VISIBLE column names
    // (the read path re-applies it over the backing). A reference to a
    // NON-visible output — the synthesized aggregate Spark adds for a
    // HAVING aggregate not in the SELECT list — declines: its state is
    // not maintained, so the read could not evaluate it.
    val havingSqlOpt: Option[String] = havingCond match {
      case None => None
      case Some(c) =>
        val nameById = visible.map { case (n, ne) => ne.exprId -> n }.toMap
        var allVisible = true
        val renamed = c.transform {
          case a: AttributeReference => nameById.get(a.exprId) match {
            case Some(n) => a.withName(n).withQualifier(Seq.empty)
            case None => allVisible = false; a
          }
        }
        if (!allVisible) return None
        Some(renamed.sql)
    }
    Some(Shape(outs, slots.toSeq, cond.map(bareSql), agg,
      top match { case p: Project => Some(p); case _ => None },
      leaves = leaves, condExpr = cond,
      // a HAVING body's backing is a SUPERSET of the view's rows — the
      // transparent rewrite must not serve it for raw-table queries
      rewriteEligible = rewriteOk && havingCond.isEmpty,
      havingSql = havingSqlOpt,
      moverStatus = leafPairs.map(_._2)))
  }

  /** A left-outer join condition split for the Griffin–Libkin
    * compensation: equality pairs (left expr, right expr, null-safe?),
    * plus conjuncts referencing only one side. The flip set of a
    * right-side window is then computable PER KEY TUPLE — two left rows
    * equal on the key expressions have identical match sets, so the
    * per-row match counts the compensation needs reduce to per-key
    * aggregates of the window and the old right state. Any mixed
    * non-equality conjunct defeats that reduction → None (the leaf
    * freezes). */
  private case class LojSplit(eqs: Seq[(Expression, Expression, Boolean)],
                              leftOnly: Seq[Expression],
                              rightOnly: Seq[Expression])

  private def splitLojCondition(cond: Option[Expression], leftOut: AttributeSet,
                                rightOut: AttributeSet): Option[LojSplit] = {
    val c = cond.getOrElse(return None)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    val eqs = scala.collection.mutable.ArrayBuffer.empty[(Expression, Expression, Boolean)]
    val lo = scala.collection.mutable.ArrayBuffer.empty[Expression]
    val ro = scala.collection.mutable.ArrayBuffer.empty[Expression]
    def left(e: Expression) = e.references.subsetOf(leftOut)
    def right(e: Expression) = e.references.subsetOf(rightOut)
    conjuncts(c).foreach {
      case e if left(e) => lo += e
      case e if right(e) => ro += e
      case EqualTo(a, b) if left(a) && right(b) => eqs += ((a, b, false))
      case EqualTo(a, b) if left(b) && right(a) => eqs += ((b, a, false))
      case EqualNullSafe(a, b) if left(a) && right(b) => eqs += ((a, b, true))
      case EqualNullSafe(a, b) if left(b) && right(a) => eqs += ((b, a, true))
      case _ => return None
    }
    if (eqs.isEmpty) return None
    Some(LojSplit(eqs.toSeq, lo.toSeq, ro.toSeq))
  }

  /** ONE telescoping term of the source tree's multiset delta (r15):
    * the body's source tree (filters, projections and joins included)
    * with the leaf OCCURRENCE at `signedIdx` replaced by its signed
    * change window, every leaf occurrence in `pinned` replaced by a
    * version-pinned scan (recorded version), and every other leaf
    * reading live. All replacements re-key onto the original
    * relation's exprIds so every expression above resolves unchanged;
    * the `_sign` tag threads up through each Project on the signed
    * leaf's path (Joins and Filters pass child output through).
    *
    * Soundness is the leaf-wise telescoping of bilinearity: for leaf
    * occurrences L_1..L_n in walk order with recorded states L_i^0 and
    * head states L_i^1,
    *   E(L^1) − E(L^0) = Σ_i E(L_1^1, ..., L_{i-1}^1, ΔL_i,
    *                          L_{i+1}^0, ..., L_n^0)
    * — each term is this function with signedIdx = i and pinned =
    * {j > i and L_j moved → recorded scan} (unmoved leaves are
    * identical at head and recorded, so live reads serve both sides).
    * Self-joined movers are just two occurrences with distinct i. */
  def splicedTerm(shape: Shape, signedIdx: Int, signed: LogicalPlan,
                  pinned: Map[Int, LogicalPlan],
                  signedOldPin: Option[LogicalPlan] = None): Option[LogicalPlan] =
    rebaseLeaves(shape, signedIdx, Some(signed), pinned, signedOldPin).flatMap {
      case (plan, Some(_)) => Some(plan)
      case _ => None
    }

  /** The body's source tree with every leaf occurrence in `pinned`
    * replaced by a version-pinned scan and NO signed leaf — the repair
    * pass reads the source at the refresh's recorded HEAD versions,
    * never live (ADVICE r14: a source commit racing the refresh would
    * otherwise repair extrema from data newer than the versions the
    * refresh records). */
  def pinnedChild(shape: Shape, pinned: Map[Int, LogicalPlan]): Option[LogicalPlan] =
    rebaseLeaves(shape, -1, None, pinned).map(_._1)

  private def rebaseLeaves(shape: Shape, signedIdx: Int, signed: Option[LogicalPlan],
                           pinned: Map[Int, LogicalPlan],
                           signedOldPin: Option[LogicalPlan] = None)
      : Option[(LogicalPlan, Option[Attribute])] = {
    def reKey(leaf: DataSourceV2Relation, repl: LogicalPlan,
              withSign: Boolean): Option[LogicalPlan] = {
      val byName = repl.output.map(a => a.name -> a).toMap
      if (!leaf.output.forall(a => byName.contains(a.name))) return None
      val base = leaf.output.map(a =>
        Alias(byName(a.name), a.name)(exprId = a.exprId))
      val pl = if (withSign) {
        val sign0 = byName.getOrElse("_sign", return None)
        base :+ Alias(sign0, "_sign")()
      } else base
      Some(Project(pl, repl))
    }
    // the signed occurrence's right subtree at the OLD version (comp
    // case): single leaf ⇒ only Filters/Projects ride — rebuild it with
    // the leaf re-keyed onto the version-pinned scan
    def mapSingleLeaf(p: LogicalPlan,
                      f: DataSourceV2Relation => Option[LogicalPlan]): Option[LogicalPlan] =
      p match {
        case r: DataSourceV2Relation => f(r)
        case fl @ Filter(_, ch) => mapSingleLeaf(ch, f).map(c2 => fl.copy(child = c2))
        case pr: Project => mapSingleLeaf(pr.child, f).map(c2 => pr.copy(child = c2))
        case s: SubqueryAlias => mapSingleLeaf(s.child, f).map(c2 => s.copy(child = c2))
        case _ => None
      }

    /** Griffin–Libkin compensation at a LEFT OUTER join whose signed
      * leaf sits in the (single-leaf) right subtree. The join output's
      * exact multiset delta w.r.t. the right side moving from OLD to
      * NEW has two parts:
      *
      *   1. `L ⋈ ΔR` — the INNER join of the (term-state) left side
      *      against the signed right window: every (l, r) pairing that
      *      appeared or disappeared, at the window row's sign;
      *   2. the NULL-EXTENSION FLIP — for each left row l, with n0 =
      *      |matches in R_old| and m = signed matches in ΔR (so
      *      n1 = n0 + m): the null-extended row (l, NULLs) leaves the
      *      output when n0 = 0 ∧ m > 0 (sign −1) and enters it when
      *      n0 > 0 ∧ n0 + m = 0 (sign +1).
      *
      * Because the condition is equi-split, n0 and m are functions of
      * l's KEY TUPLE — both reduce to per-key aggregates: m over the
      * signed window (tiny), n0 over the OLD right state SEMI-JOINED to
      * the window's keys (key-bounded, file-prunable — never the whole
      * dim). Left rows failing a left-only conjunct never match and
      * never flip (they ride in the flip join's condition). */
    def compensatedLoj(j: Join, l2: LogicalPlan, r2: LogicalPlan,
                       signAttr: Attribute): Option[(LogicalPlan, Option[Attribute])] = {
      val split = splitLojCondition(j.condition, j.left.outputSet, j.right.outputSet)
        .getOrElse(return None)
      val oldPin = signedOldPin.getOrElse(return None)
      val r2old = mapSingleLeaf(j.right,
        leaf => reKey(leaf, oldPin, withSign = false)).getOrElse(return None)
      def riding(base: LogicalPlan) =
        split.rightOnly.reduceOption(And).map(Filter(_, base)).getOrElse(base)
      // m per key over the signed window (right-only join conjuncts
      // restrict it — a window row failing them never matches anything)
      val rKeys = split.eqs.map(_._2)
      val mKeyAliases = rKeys.zipWithIndex.map { case (e, i) =>
        Alias(e, s"graft_ivm_mk$i")() }
      val mAgg = Alias(Sum(signAttr).toAggregateExpression(), "graft_ivm_m")()
      val m = Aggregate(rKeys, mKeyAliases :+ mAgg, riding(r2))
      val mkAttrs = mKeyAliases.map(_.toAttribute)
      // n0 per key over the OLD right state, key-bounded by the window
      val semiCond = split.eqs.zip(mkAttrs).map { case ((_, re, ns), mk) =>
        if (ns) EqualNullSafe(re, mk) else EqualTo(re, mk) }
        .reduce[Expression](And)
      val n0Src = Join(riding(r2old), m, LeftSemi, Some(semiCond), JoinHint.NONE)
      val nKeyAliases = rKeys.zipWithIndex.map { case (e, i) =>
        Alias(e, s"graft_ivm_nk$i")() }
      val n0Agg = Alias(Count(Seq(Literal(1))).toAggregateExpression(), "graft_ivm_n0")()
      val n0 = Aggregate(rKeys, nKeyAliases :+ n0Agg, n0Src)
      val nkAttrs = nKeyAliases.map(_.toAttribute)
      // keys whose flip sign is nonzero (the M↔N0 probe matches
      // null-safe: under a plain-equality condition a null-keyed window
      // row matches no left row, and the flip join below drops it)
      val probeCond = mkAttrs.zip(nkAttrs)
        .map { case (mk, nk) => EqualNullSafe(mk, nk) }.reduce[Expression](And)
      val probe = Join(m, n0, LeftOuter, Some(probeCond), JoinHint.NONE)
      val n0c = Coalesce(Seq(n0Agg.toAttribute, Literal(0L)))
      val mAttr = mAgg.toAttribute
      val flip = CaseWhen(Seq(
        (And(EqualTo(n0c, Literal(0L)), GreaterThan(mAttr, Literal(0L))),
          Literal(-1)),
        (And(GreaterThan(n0c, Literal(0L)), EqualTo(Add(n0c, mAttr), Literal(0L))),
          Literal(1))), Literal(0))
      val flipAlias = Alias(flip, "graft_ivm_flip")()
      val flipKeys = Filter(Not(EqualTo(flipAlias.toAttribute, Literal(0))),
        Project(mkAttrs :+ flipAlias, probe))
      // ONE left-side pass (r16 optimization): the flip keys are a
      // subset of the window's keys, and both the inner term `L ⋈ ΔR`
      // and the flip rows join the left side by the SAME equi keys (+
      // the left-only conjuncts) — so instead of two joins that each
      // scan the left subtree (twice the dominant fact read), union the
      // window rows and the flip keys into ONE key-shaped right side
      // and join once:
      //   - window rows carry their key exprs, their real right
      //     columns, and the threaded window sign;
      //   - flip rows carry the flipped key, NULL right columns (the
      //     null extension), and the flip sign.
      // Union keeps the FIRST child's attribute ids, so the original
      // right-output ids keep resolving above — with NULLs exactly on
      // the flip rows. Semantics are unchanged term by term: the window
      // leg's condition (eqs ∧ leftOnly here, rightOnly already applied
      // in riding(r2)) is j.condition conjunct-for-conjunct, and the
      // flip leg's is the old flipJoin condition verbatim.
      val wKeyAliases = split.eqs.zipWithIndex.map { case ((_, re, _), i) =>
        Alias(re, s"graft_ivm_uk$i")() }
      val wSide = Project(
        (wKeyAliases: Seq[NamedExpression]) ++ j.right.output :+
          Alias(signAttr, "graft_ivm_us")(), riding(r2))
      val ukAttrs = wKeyAliases.map(_.toAttribute)
      val fSide = Project(
        mkAttrs.zipWithIndex.map { case (mk, i) =>
          Alias(mk, s"graft_ivm_uk$i")(): NamedExpression } ++
          j.right.output.map(a => Alias(Literal(null, a.dataType), a.name)()) :+
          Alias(flipAlias.toAttribute, "graft_ivm_us")(), flipKeys)
      val unioned = Union(Seq(wSide, fSide))
      val joinCond = (split.eqs.zip(ukAttrs).map { case ((le, _, ns), uk) =>
        if (ns) EqualNullSafe(le, uk) else EqualTo(le, uk): Expression
      } ++ split.leftOnly).reduce(And)
      // never broadcast the LEFT side: it is the body's fact subtree —
      // table-sized at 100 TB — while the union side is window-shaped.
      // Without the hint, the union's aggregate-laden size ESTIMATE can
      // exceed the fact scan's and the planner broadcasts the fact
      // (measured: q304's compensated merges regressed ~20% locally,
      // and at scale it would OOM). NO_BROADCAST_HASH only forbids the
      // left build; the planner still broadcasts the union when it is
      // actually small, and degrades to ONE shuffle otherwise — still a
      // single fact pass in every regime.
      import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, NO_BROADCAST_HASH}
      // merge NO_BROADCAST_HASH into any hint the view body carried
      // (ADVICE r16: replacing the whole JoinHint silently dropped a
      // user hint on the incremental path); the left STRATEGY must be
      // NO_BROADCAST_HASH regardless — see the regression note above.
      val mergedLeft = j.hint.leftHint match {
        case Some(hi) => hi.copy(strategy = Some(NO_BROADCAST_HASH))
        case None => HintInfo(strategy = Some(NO_BROADCAST_HASH))
      }
      val oneJoin = Join(l2, unioned, Inner, Some(joinCond),
        JoinHint(Some(mergedLeft), j.hint.rightHint))
      val signOut = Alias(wSide.projectList.last.toAttribute, "_sign")()
      val out = Project(
        (j.left.output: Seq[NamedExpression]) ++ j.right.output :+ signOut, oneJoin)
      Some((out, Some(signOut.toAttribute)))
    }

    // visit leaves in the SAME order walkSource collected them; thread
    // the sign attribute up only along the signed occurrence's path
    var idx = -1
    def rec(p: LogicalPlan): Option[(LogicalPlan, Option[Attribute])] =
      p match {
        case r: DataSourceV2Relation =>
          idx += 1
          if (idx == signedIdx)
            reKey(r, signed.get, withSign = true).map { pr =>
              (pr, Some(pr.asInstanceOf[Project].projectList.last.toAttribute))
            }
          else pinned.get(idx) match {
            case Some(pin) => reKey(r, pin, withSign = false).map((_, None))
            case None => Some((r, None))
          }
        case f @ Filter(_, ch) =>
          rec(ch).map { case (c2, s) => (f.copy(child = c2), s) }
        case pr @ Project(pl, ch) =>
          rec(ch).map { case (c2, s) =>
            (pr.copy(projectList = s.map(pl :+ _).getOrElse(pl), child = c2), s)
          }
        case j @ Join(l, r, _, _, _) =>
          rec(l).flatMap { case (l2, sl) =>
            rec(r).flatMap { case (r2, sr) =>
              if (j.joinType == LeftOuter && sr.isDefined)
                compensatedLoj(j, l2, r2, sr.get)
              else Some((j.copy(left = l2, right = r2), sl.orElse(sr)))
            }
          }
        case s @ SubqueryAlias(_, ch) =>
          rec(ch).map { case (c2, sg) => (s.copy(child = c2), sg) }
        case _ => None
      }
    rec(shape.aggregate.child)
  }

  /** The body plan with the hidden state columns appended: same
    * grouping, same child, aggregate list extended with the liveness
    * COUNT(*), each slot's raw aggregate, and each SUM slot's non-null
    * counter. Resolved throughout — callers hand it to ofRows.
    * `childOverride` (r15) swaps the source tree for a version-PINNED
    * rebase ([[pinnedChild]]): state-bearing backings are built only
    * from pinned reads, so the recorded source versions exactly
    * describe the written state even under a racing source commit. */
  def augmentedPlan(shape: Shape, childOverride: Option[LogicalPlan] = None): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId
    val agg = shape.aggregate
    val liveness = Alias(
      Count(Seq(Literal(1))).toAggregateExpression(), LivenessCol)()
    val auxAliases: Seq[NamedExpression] = liveness +: shape.slots.flatMap { s =>
      val raw = Alias(s.raw.copy(resultId = newExprId), s.aux)()
      s.kind match {
        case SumSlot =>
          val child = s.raw.aggregateFunction.asInstanceOf[Sum].child
          Seq(raw, Alias(Count(Seq(child)).toAggregateExpression(), s.nn)())
        case _ => Seq(raw)
      }
    }
    val augAgg = agg.copy(
      aggregateExpressions = agg.aggregateExpressions ++ auxAliases,
      child = childOverride.getOrElse(agg.child))
    shape.contract match {
      case Some(p) =>
        Project(p.projectList ++ auxAliases.map(_.toAttribute), augAgg)
      case None => augAgg
    }
  }

  /** Engine-managed name of a COUNT(DISTINCT) slot's liveness table,
    * a sibling of the `_mv_<view>` backing in the view's namespace.
    * The prefix is `_mvaux_`, NOT `_mv_` (ADVICE r15): under the old
    * `_mv_<view>_d<j>` scheme, the slot table of a view named `sales`
    * collided with the BACKING of a sibling view literally named
    * `sales_d0` — a create/refresh would createOrReplace-clobber the
    * other view's rows and drop_view would delete them. No view name
    * can start with `_` (name validation), so `_mvaux_` is a namespace
    * only the engine writes. */
  def auxTableName(vname: String, j: Int): String = s"_mvaux_${vname}_d$j"

  /** CTAS plan for a DISTINCT slot's per-(group, value) liveness table:
    * group keys (published under their visible names), the value under
    * `graft_ivm_v`, and the value's occurrence count `graft_ivm_c` —
    * NULL values excluded (COUNT(DISTINCT) ignores them). The same
    * `childOverride` pinning contract as [[augmentedPlan]]. */
  def auxTablePlan(shape: Shape, s: Slot,
                   childOverride: Option[LogicalPlan] = None): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.IsNotNull
    val x = s.fnChildren.head
    val agg = shape.aggregate
    val outs: Seq[NamedExpression] =
      shape.groupOuts.map(o => Alias(o.groupExpr.get, o.name)()) ++
        Seq(Alias(x, "graft_ivm_v")(),
          Alias(Count(Seq(Literal(1))).toAggregateExpression(), "graft_ivm_c")())
    Aggregate(agg.groupingExpressions :+ x, outs,
      Filter(IsNotNull(x), childOverride.getOrElse(agg.child)))
  }

  /** The signed per-(group, value) window over the spliced source: one
    * row per (group, value) whose net occurrence count moved, feeding
    * both the liveness-table MERGE and the distinct-count delta leg. */
  def auxDeltaSql(shape: Shape, s: Slot, signedView: String): String = {
    val e = bareSql(s.fnChildren.head)
    val groupSel = shape.groupOuts.map(o => s"(${o.groupSql.get}) AS ${q(o.name)}")
    s"""SELECT ${groupSel.mkString(", ")}, ($e) AS graft_ivm_v,
       |  CAST(SUM(_sign) AS BIGINT) AS graft_ivm_c
       |FROM $signedView
       |WHERE ($e) IS NOT NULL
       |GROUP BY ${(shape.groupOuts.map(o => s"(${o.groupSql.get})") :+ s"($e)").mkString(", ")}
       |HAVING SUM(_sign) <> 0""".stripMargin
  }

  /** Per-group distinct-count delta for slot `s`: the window's value
    * rows LEFT-joined against the PRE-merge liveness state — a value
    * absent before with positive net count is BORN (+1), one present
    * before whose count nets zero DIES (-1), everything else moves the
    * occurrence count without moving the distinct count. Cost ∝ the
    * window's (group, value) rows, never the corpus. */
  private def distinctLegSql(shape: Shape, s: Slot,
                             auxDeltaView: String, auxReadView: String): String = {
    val gw = shape.groupOuts.map(o => s"w.${q(o.name)} AS ${q(o.name)}")
    val on = (shape.groupOuts.map(o => s"w.${q(o.name)} <=> b.${q(o.name)}") :+
      "w.`graft_ivm_v` <=> b.`graft_ivm_v`").mkString(" AND ")
    s"""SELECT ${gw.mkString(", ")},
       |  CAST(SUM(CASE
       |    WHEN COALESCE(b.`graft_ivm_c`, 0) = 0 AND w.`graft_ivm_c` > 0 THEN 1
       |    WHEN COALESCE(b.`graft_ivm_c`, 0) > 0
       |         AND COALESCE(b.`graft_ivm_c`, 0) + w.`graft_ivm_c` = 0 THEN -1
       |    ELSE 0 END) AS BIGINT) AS graft_ivm_dd
       |FROM $auxDeltaView w LEFT JOIN $auxReadView b ON $on
       |GROUP BY ${shape.groupOuts.map(o => s"w.${q(o.name)}").mkString(", ")}""".stripMargin
  }

  /** Maintenance MERGE for a DISTINCT slot's liveness table: signed
    * occurrence counts add; a (group, value) whose count nets zero
    * leaves the table; values born in the window enter it. */
  def auxMergeSql(shape: Shape, auxFqn: String, auxDeltaView: String): String = {
    val on = (shape.groupOuts.map(o => s"b.${q(o.name)} <=> w.${q(o.name)}") :+
      "b.`graft_ivm_v` <=> w.`graft_ivm_v`").mkString(" AND ")
    val cols = shape.groupOuts.map(o => q(o.name)) ++ Seq("`graft_ivm_v`", "`graft_ivm_c`")
    s"""MERGE INTO $auxFqn b
       |USING $auxDeltaView w
       |ON $on
       |WHEN MATCHED AND (b.`graft_ivm_c` + w.`graft_ivm_c`) = 0 THEN DELETE
       |WHEN MATCHED THEN UPDATE SET `graft_ivm_c` = b.`graft_ivm_c` + w.`graft_ivm_c`
       |WHEN NOT MATCHED AND w.`graft_ivm_c` > 0 THEN INSERT (${cols.mkString(", ")})
       |VALUES (${cols.map(c => s"w.$c").mkString(", ")})""".stripMargin
  }

  /** The delta aggregate over a temp view of the SPLICED source tree
    * ([[splicedTerm]] — body filter, projections and joins already
    * applied, `_sign` riding): group keys by the SAME expressions,
    * every slot as a signed sum. Negative or zero net groups are
    * legitimate (deletions); the merge consumes the signs. A MIN/MAX
    * slot carries two extrema: over the +1 rows ([[Slot.aux]], what
    * the merge folds in) and over the -1 rows ([[Slot.retracted]],
    * what [[lostExtremaSql]] checks against the stored one). */
  def deltaSql(shape: Shape, signedView: String,
               auxReadViews: Map[Int, String] = Map.empty,
               auxDeltaViews: Map[Int, String] = Map.empty): String = {
    val groupSel = shape.groupOuts.map(o => s"(${o.groupSql.get}) AS ${q(o.name)}")
    val slotSel = shape.slots.filterNot(_.kind == DistinctSlot).flatMap { s =>
      s.kind match {
        case MinSlot | MaxSlot =>
          val fn = if (s.kind == MinSlot) "MIN" else "MAX"
          val e = bareSql(s.fnChildren.head)
          Seq(s"$fn(CASE WHEN _sign > 0 THEN ($e) END) AS ${q(s.aux)}",
            s"$fn(CASE WHEN _sign < 0 THEN ($e) END) AS ${q(s.retracted)}")
        case _ =>
          s"${s.deltaSql} AS ${q(s.aux)}" +: s.nnDeltaSql.map(n => s"$n AS ${q(s.nn)}").toSeq
      }
    }
    val livenessSel = s"CAST(SUM(_sign) AS BIGINT) AS ${q(LivenessCol)}"
    val groupBy =
      if (shape.groupOuts.nonEmpty)
        "\nGROUP BY " + shape.groupOuts.map(o => s"(${o.groupSql.get})").mkString(", ")
      else ""
    val base =
      s"""SELECT ${(groupSel ++ slotSel :+ livenessSel).mkString(",\n  ")}
         |FROM $signedView$groupBy""".stripMargin
    val ds = shape.distinctSlots
    if (ds.isEmpty) base
    else {
      // each DISTINCT slot left-joins its per-group distinct-count
      // delta leg onto the base delta (both derive from the same
      // signed window, so the leg's groups ⊆ the base's; groups whose
      // window moved no non-null value coalesce to a zero delta)
      val joins = ds.map { s =>
        val leg = distinctLegSql(shape, s, auxDeltaViews(s.j), auxReadViews(s.j))
        val on = shape.groupOuts
          .map(o => s"base.${q(o.name)} <=> dd${s.j}.${q(o.name)}").mkString(" AND ")
        s"LEFT JOIN (\n$leg\n) dd${s.j} ON $on"
      }
      val extra = ds.map(s =>
        s"COALESCE(dd${s.j}.`graft_ivm_dd`, CAST(0 AS BIGINT)) AS ${q(s.aux)}")
      s"""SELECT base.*, ${extra.mkString(", ")}
         |FROM (
         |$base
         |) base
         |${joins.mkString("\n")}""".stripMargin
    }
  }

  /** Merged raw state for slot `s`, as SQL over MERGE aliases b/d. A
    * SUM whose surviving non-null count is zero is NULL (SQL sum
    * semantics the raw addition cannot express); counts add. Under a
    * `repaired` window a MIN/MAX slot of a group the repair recomputed
    * (`graft_ivm_rep`) takes the recomputed extremum: no merge of
    * extrema can express a retraction. */
  private def mergedSql(s: Slot, repaired: Boolean): String = s.kind match {
    case SumSlot =>
      s"CASE WHEN (b.${q(s.nn)} + d.${q(s.nn)}) = 0 THEN CAST(NULL AS ${s.typeSql}) " +
        s"ELSE CAST(coalesce(b.${q(s.aux)}, 0) + coalesce(d.${q(s.aux)}, 0) AS ${s.typeSql}) END"
    case CountSlot => s"CAST(b.${q(s.aux)} + d.${q(s.aux)} AS BIGINT)"
    // the delta view already resolved born/died against pre-merge
    // liveness state — the backing's count just shifts by it
    case DistinctSlot =>
      s"CAST(coalesce(b.${q(s.aux)}, 0) + coalesce(d.${q(s.aux)}, 0) AS BIGINT)"
    case MinSlot | MaxSlot if repaired =>
      s"CASE WHEN d.`$RepairedFlag` THEN d.${q(s.repaired)} " +
        s"ELSE ${mergedSql(s, repaired = false)} END"
    // Spark's least/greatest SKIP nulls (both-null gives NULL) —
    // exactly SQL's MIN/MAX-ignore-nulls merge, no counters needed
    case MinSlot => s"least(b.${q(s.aux)}, d.${q(s.aux)})"
    case MaxSlot => s"greatest(b.${q(s.aux)}, d.${q(s.aux)})"
  }

  /** Slot value for a group new to the backing: the delta IS the state
    * (only net-positive groups can be new — their rows were inserted
    * inside the window). Not always so for a MIN/MAX: rows cancelling
    * across telescoped self-join terms can leave a +1 extremum no live
    * row holds — the probe flags such a group and it takes the
    * recomputed extremum. */
  private def insertSql(s: Slot, repaired: Boolean): String = s.kind match {
    case MinSlot | MaxSlot if repaired =>
      s"CASE WHEN d.`$RepairedFlag` THEN d.${q(s.repaired)} ELSE d.${q(s.aux)} END"
    case _ => s"d.${q(s.aux)}"
  }

  /** Delta column marking the groups whose MIN/MAX the repair
    * recomputed from source. */
  val RepairedFlag = "graft_ivm_rep"

  /** The repair probe of a deleting window: the groups that may have
    * LOST the extremum the merge would keep. Two SQL statements, the
    * second run only when the first returns rows.
    *
    * Per group and MIN slot (MAX mirrors), with the window's signed
    * rows P (+1) and N (-1), stored minimum m and head = rec + P − N
    * as multisets: no head value lies below t = least(m, min P) (a
    * value below both is in neither rec nor P, so it cannot be in N
    * either), so the head minimum is t unless t's head count is zero.
    * That needs t ∈ N — and min N ≥ t, so t ∈ N iff min N = t: the
    * FIRST statement ([[Slot.retracted]] = t, a join of the delta with
    * the backing) keeps those candidates, and is empty in the common
    * case of a DELETE that missed every extremum. The SECOND reads t's
    * net count from the signed rows of the candidate groups only:
    * head(t) = rec(t) + net(t) with rec(t) ≥ 1 exactly when the stored
    * minimum is t, so the group is lost when net(t) < 0 (t stored) or
    * net(t) < 1 (t only in P — possibly a cancelled copy). Rows a
    * rewrite re-images net zero at t, so a compaction keeps every
    * extremum and repairs nothing. A group new to the backing has no
    * stored extremum and falls under the second rule. */
  def lostExtremaSql(shape: Shape, deltaView: String, backingFqn: String,
                     signedView: String, candidateView: String): (String, String) = {
    val mm = shape.minMaxSlots
    val gs = shape.groupOuts.zipWithIndex
    def t(s: Slot) = s"${if (s.kind == MinSlot) "least" else "greatest"}" +
      s"(b.${q(s.aux)}, d.${q(s.aux)})"
    val candidates =
      s"""SELECT ${(gs.map { case (o, i) => s"d.${q(o.name)} AS graft_ivm_g$i" } ++
           mm.flatMap(s => Seq(s"${t(s)} AS graft_ivm_t${s.j}",
             s"coalesce(b.${q(s.aux)} = ${t(s)}, false) AS graft_ivm_s${s.j}",
             s"coalesce(d.${q(s.retracted)} = ${t(s)}, false) AS graft_ivm_h${s.j}")))
           .mkString(",\n  ")}
         |FROM $deltaView d LEFT JOIN $backingFqn b
         |ON ${gs.map { case (o, _) => s"b.${q(o.name)} <=> d.${q(o.name)}" }.mkString(" AND ")}
         |WHERE ${mm.map(s => s"d.${q(s.retracted)} = ${t(s)}").mkString(" OR ")}""".stripMargin
    val candCols = gs.map { case (_, i) => s"c.graft_ivm_g$i" } ++
      mm.flatMap(s => Seq(s"c.graft_ivm_t${s.j}", s"c.graft_ivm_s${s.j}", s"c.graft_ivm_h${s.j}"))
    val lost =
      s"""SELECT ${gs.map { case (o, i) => s"c.graft_ivm_g$i AS ${q(o.name)}" }.mkString(", ")}
         |FROM $signedView JOIN $candidateView c
         |ON ${gs.map { case (o, i) => s"(${o.groupSql.get}) <=> c.graft_ivm_g$i" }.mkString(" AND ")}
         |GROUP BY ${candCols.mkString(", ")}
         |HAVING ${mm.map(s => s"(c.graft_ivm_h${s.j} AND SUM(CASE WHEN " +
           s"(${bareSql(s.fnChildren.head)}) = c.graft_ivm_t${s.j} THEN _sign ELSE 0 END) < " +
           s"CASE WHEN c.graft_ivm_s${s.j} THEN 0 ELSE 1 END)").mkString(" OR ")}""".stripMargin
    (candidates, lost)
  }

  private def fillTemplate(template: String, shape: Shape, bySlot: Slot => String): String =
    // descending index so P10 never matches inside a P1 replacement
    shape.slots.sortBy(-_.j).foldLeft(template) { (t, s) =>
      val sql = bySlot(s)
      t.replace(s"`${placeholder(s.j)}`", sql).replace(placeholder(s.j), sql)
    }

  /** The maintenance MERGE: group-key null-safe match; a group whose
    * net liveness reaches zero is DELETED; matched groups re-derive
    * every visible aggregate column from the MERGED raw state (so the
    * stored value is bit-identical to a recompute); new groups insert
    * the delta state directly. `repaired` (r14, a deleting window over
    * MIN/MAX slots that retracted a stored extremum): the delta view
    * also carries each slot's [[Slot.repaired]] extremum, recomputed
    * from source for the groups flagged [[RepairedFlag]], and both
    * branches take it there — one write of the backing per refresh. */
  def mergeSql(shape: Shape, backingFqn: String, deltaView: String,
               repaired: Boolean): String = {
    val on = shape.groupOuts.map(o => s"b.${q(o.name)} <=> d.${q(o.name)}")
      .mkString(" AND ")
    val onClause = if (on.nonEmpty) on else "true"
    val updateSets =
      (s"${q(LivenessCol)} = b.${q(LivenessCol)} + d.${q(LivenessCol)}" +:
        shape.slots.flatMap { s =>
          s"${q(s.aux)} = ${mergedSql(s, repaired)}" +:
            (if (s.kind == SumSlot) Seq(s"${q(s.nn)} = b.${q(s.nn)} + d.${q(s.nn)}") else Nil)
        }) ++
        shape.outs.filterNot(_.isGroup).map(o =>
          s"${q(o.name)} = ${fillTemplate(o.template.get, shape, mergedSql(_, repaired))}")
    val insertCols =
      shape.outs.map(o => q(o.name)) ++ shape.auxCols.map(q)
    // the aux values in auxCols order: liveness, then each slot's raw
    // state (and a SUM's non-null count)
    val insertVals =
      shape.outs.map {
        case o if o.isGroup => s"d.${q(o.name)}"
        case o => fillTemplate(o.template.get, shape, insertSql(_, repaired))
      } ++ (s"d.${q(LivenessCol)}" +: shape.slots.flatMap(s =>
        insertSql(s, repaired) +: (if (s.kind == SumSlot) Seq(s"d.${q(s.nn)}") else Nil)))
    // the NOT MATCHED guard: a group inserted AND fully deleted inside
    // one window nets liveness 0 — inserting it would fabricate a
    // phantom group the recompute does not have
    s"""MERGE INTO $backingFqn b
       |USING $deltaView d
       |ON $onClause
       |WHEN MATCHED AND (b.${q(LivenessCol)} + d.${q(LivenessCol)}) = 0 THEN DELETE
       |WHEN MATCHED THEN UPDATE SET ${updateSets.mkString(",\n  ")}
       |WHEN NOT MATCHED AND d.${q(LivenessCol)} > 0 THEN INSERT (${insertCols.mkString(", ")})
       |VALUES (${insertVals.mkString(",\n  ")})""".stripMargin
  }
}

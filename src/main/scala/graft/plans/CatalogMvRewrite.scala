package graft.plans

import graft.sources.{GraftCatalog, GraftViews, JsonlStatsTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DateType, DecimalType, LongType, TimestampType}

import java.nio.file.{Files, Path, Paths}

/** TRANSPARENT rewrite of raw-table aggregates onto covering CATALOG
  * materialized views (r13) — the Oracle/Calcite aggregate-rewrite
  * posture over the [[GraftViews]] sidecar metadata (catalog MVs are
  * otherwise read through their name, q291), and the engine's only MV
  * rewrite (q210, q228, q294, q297, q300, q301). So
  * `SELECT event_type, count(*) FROM raw GROUP BY event_type` plans the
  * MV backing table whenever a FRESH covering MV exists — the query
  * author never learns the MV's name.
  *
  * The grain/measure proof is DELEGATED to the IVM shape
  * ([[MvIncremental.detect]]) rather than re-derived: a rewritable MV
  * is exactly a maintainable one, because both need the same algebra —
  * per-group raw state that re-aggregates losslessly. The backing's
  * hidden state columns double as the rewrite's measures:
  *
  *   - `count(*)`        → `coalesce(sum(graft_ivm_n), 0)` (liveness)
  *   - `sum(e)` (exact)  → `cast(sum(graft_ivm_a<j>) as <orig type>)`
  *     for the slot whose input matches `e` — the raw DECIMAL state, so
  *     re-aggregation is bit-identical to the recompute
  *   - `count(e)`        → `coalesce(sum(graft_ivm_a<j>), 0)`
  *
  * and COARSER query grains (a subset of the MV's grouping
  * expressions) re-aggregate correctly by construction. A rewrite
  * fires only when ALL of:
  *
  *   - the query aggregates the LIVE main branch of a graft table (a
  *     snapshot/branch read must not see head-versioned state);
  *   - a sidecar MV lists exactly that table as its ONLY source (one
  *     leaf — join bodies maintain but don't rewrite) and
  *     [[GraftViews.mvFresh]] holds (recorded source version == live
  *     version, no pending refresh) — stale MVs decline, so reads
  *     NEVER trade correctness for speed;
  *   - every query grouping expression matches an MV grain expression
  *     (rebased by column name onto the query's relation attributes);
  *   - every aggregate matches a slot as above (DISTINCT/FILTER
  *     decline); AVG over DECIMAL re-derives from its (sum, count)
  *     slots (r14);
  *   - an MV body WHERE is SUBSUMED by the query's predicate (r14):
  *     every MV conjunct appears semantically among the query's
  *     conjuncts — the "last-90-days" MV answers its own window and
  *     any conjunctive strengthening of it;
  *   - whatever query conjuncts remain are functions of the grain
  *     expressions (a bare column, a derived grain like `to_date(ts)`,
  *     or a midnight cut of the timestamp under a date grain), and are
  *     pushed onto the backing scan (where the connector's file pruning
  *     applies to the much smaller table).
  *
  * Freshness is probed at REWRITE time: a source commit racing the
  * query flips later plans back to the raw scan; the in-flight plan
  * reads the backing at its recorded version — ordinary
  * snapshot-at-planning semantics. Output attribute ids are preserved,
  * so parents never notice. Idempotent: the rewritten aggregate's
  * child is a `_mv_` backing table, which can never be an MV source.
  *
  * Cost of the probe: one `_views` directory listing per aggregate
  * node over a graft table (usually empty), definition + body-shape
  * analysis cached by (sidecar file, mtime).
  */
class CatalogMvRewrite(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {
  import MvIncremental.{CountSlot, LivenessCol, MaxSlot, MinSlot, Shape, SumSlot}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(gs, res, child, _) if gs.nonEmpty =>
      extract(child).flatMap { case (defs, cond, rel, table) =>
        tryRewrite(agg, defs, cond, rel, table)
      }.getOrElse(agg)
  }

  /** The rewritable child shapes: an optional Project (column pruning /
    * pulled-out grouping aliases) and an optional Filter over a LIVE
    * graft relation. Returns the Project's alias definitions for
    * inlining, the filter condition (in relation columns), and the
    * relation. */
  private def extract(p: LogicalPlan)
      : Option[(Map[ExprId, Expression], Option[Expression], DataSourceV2Relation, JsonlStatsTable)] = {
    val (projList, cond, rel) = p match {
      case r: DataSourceV2Relation => (Nil, None, r)
      case Project(pl, r: DataSourceV2Relation) => (pl, None, r)
      case Project(pl, Filter(c, r: DataSourceV2Relation)) => (pl, Some(c), r)
      case Filter(c, Project(pl, r: DataSourceV2Relation)) => (pl, Some(c), r)
      case Filter(c, r: DataSourceV2Relation) => (Nil, Some(c), r)
      case _ => return None
    }
    rel.table match {
      case t: JsonlStatsTable if t.isLiveRead &&
          !Paths.get(t.tableRoot).getFileName.toString.startsWith("_mv_") =>
        val defs = projList.collect { case al @ Alias(e, _) => al.exprId -> e }.toMap
        // a projected filter's condition may reference the aliases —
        // inline so everything speaks in relation columns
        val inlined = cond.map(_.transformUp {
          case a: Attribute if defs.contains(a.exprId) => defs(a.exprId)
        })
        Some((defs, inlined, rel, t))
      case _ => None
    }
  }

  // ---- candidate discovery -------------------------------------------------

  /** (catalog name, catalog, source path relative to the warehouse).
    * Warehouse roots may NEST (a catalog rooted at `/data` and another
    * at `/data/lake`): the LONGEST matching root owns the table — a
    * shallower catalog that merely contains the path must not claim it,
    * or candidate discovery would search the wrong `_views` tree. */
  private def owningCatalog(tableRoot: String)
      : Option[(String, GraftCatalog, String)] = {
    val cm = spark.sessionState.catalogManager
    GraftCatalog.rootsSnapshot
      .filter { case (_, root) =>
        tableRoot.startsWith(root + java.io.File.separator) }
      .sortBy(-_._2.length)
      .view
      .flatMap { case (name, root) =>
        if (!cm.isCatalogRegistered(name)) None
        else try cm.catalog(name) match {
          case g: GraftCatalog if g.warehouseRoot == root =>
            val rel = Paths.get(root).relativize(Paths.get(tableRoot)).toString
            Some((name, g, rel.replace(java.io.File.separatorChar, '/')))
          case _ => None
        } catch { case _: Exception => None }
      }.headOption
  }

  private case class CachedMv(d: GraftViews.ViewDef, ns: Seq[String],
                              srcRel: String, shape: Shape)

  /** sidecar path → (content hash, analyzed candidate); None = not
    * rewritable (plain view, multi-source, non-distributive body). ONE
    * entry per path, replaced on content change — a replace/refresh
    * never accumulates dead keys, and the identity is the sidecar's
    * BYTES (SHA-256), so a same-millisecond CREATE OR REPLACE with a
    * different body can never serve the prior body's shape (the old
    * mtime key could). The candidate carries its OWN source table —
    * callers filter, so a probe from an unrelated table can never
    * poison the entry. */
  private val shapeCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Option[CachedMv])]()

  private def sha256(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
    d.map(b => f"$b%02x").mkString
  }

  /** Fresh covering-MV candidates for a source table. PLACEMENT
    * CONTRACT (pinned in ViewsSpec): sidecars are searched in the
    * source table's own namespace and at the warehouse root — an MV
    * created in a SIBLING namespace over this source never fires the
    * transparent rewrite (reads through its own name still work). The
    * bound keeps the per-aggregate probe at two directory listings
    * instead of a warehouse walk. */
  private def candidates(catName: String, cat: GraftCatalog,
                         srcRel: String): Seq[CachedMv] = {
    val root = Paths.get(cat.warehouseRoot)
    val srcNs = srcRel.split('/').init.toSeq
    val nsDirs: Seq[(Seq[String], Path)] =
      (Seq.empty[String] -> root) +:
        (if (srcNs.nonEmpty) Seq(srcNs -> Paths.get(cat.warehouseRoot, srcNs: _*)) else Nil)
    nsDirs.flatMap { case (ns, nsDir) =>
      GraftViews.list(nsDir).flatMap { name =>
        val f = GraftViews.viewFile(nsDir, name)
        val bytes = try Files.readAllBytes(f) catch { case _: Exception => null }
        if (bytes == null) None
        else {
          val h = sha256(bytes)
          val cached = shapeCache.get(f.toString)
          if (cached != null && cached._1 == h) cached._2
          else {
            val fresh = analyzeCandidate(catName, cat, ns, nsDir, name)
            shapeCache.put(f.toString, (h, fresh))
            fresh
          }
        }
      }
    }.filter(c => c.srcRel == srcRel && GraftViews.mvFresh(cat.warehouseRoot, c.d))
  }

  private def analyzeCandidate(catName: String, cat: GraftCatalog, ns: Seq[String],
                               nsDir: Path, name: String): Option[CachedMv] =
    try {
      val d = GraftViews.read(nsDir, name).getOrElse(return None)
      if (!d.properties.contains(GraftViews.MvTableProp)) return None
      val sources = GraftViews.mvSourcesDecode(
        d.properties.getOrElse(GraftViews.MvSourcesProp, ""))
      if (sources.size != 1) return None
      val ident = org.apache.spark.sql.connector.catalog.Identifier.of(ns.toArray, name)
      val analyzed = org.apache.spark.sql.graftops.Bridge.ofRows(spark,
        new ResolveGraftViews(spark).bodyPlan(catName, cat, ident, d))
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.analyzed
      MvIncremental.detect(analyzed)
        // join/self-join bodies maintain (r14) but do not rewrite: the
        // grain/measure rebasing below assumes ONE relation's columns.
        // Filtered bodies (condExpr) DO rewrite since r14, under the
        // predicate-subsumption proof in rewriteAgainst.
        .filter(_.rewriteEligible)
        .map(sh => CachedMv(d, ns, sources.head._1, sh))
    } catch { case _: Exception => None }

  // ---- the rewrite proof ---------------------------------------------------

  /** Rebase a body-side expression onto the query relation's attributes
    * by column name; None when a name is missing (schema drift). */
  private def rebase(e: Expression, out: Seq[Attribute]): Option[Expression] = {
    var ok = true
    val r = e.transformUp {
      case a: AttributeReference =>
        out.find(o => o.name == a.name) match {
          case Some(x) => x
          case None => ok = false; a
        }
    }
    if (ok) Some(r) else None
  }

  private def tryRewrite(agg: Aggregate, defs: Map[ExprId, Expression],
                         cond: Option[Expression], rel: DataSourceV2Relation,
                         table: JsonlStatsTable): Option[LogicalPlan] = {
    val (catName, cat, srcRel) = owningCatalog(table.tableRoot).getOrElse(return None)
    val cands = candidates(catName, cat, srcRel)
    if (cands.isEmpty) return None
    def inline(e: Expression): Expression = e.transformUp {
      case a: Attribute if defs.contains(a.exprId) => defs(a.exprId)
    }
    cands.view.flatMap(c => rewriteAgainst(agg, inline, cond, rel, catName, c)).headOption
  }

  private def rewriteAgainst(agg: Aggregate, inline: Expression => Expression,
                             cond: Option[Expression], rel: DataSourceV2Relation,
                             catName: String, c: CachedMv): Option[LogicalPlan] = {
    val sh = c.shape
    // grain expressions rebased onto the QUERY's relation attributes
    val grains: Seq[(MvIncremental.OutCol, Expression)] = sh.groupOuts.flatMap { o =>
      rebase(o.groupExpr.get, rel.output).map(o -> _)
    }
    if (grains.size != sh.groupOuts.size) return None
    // the backing relation, resolved fresh (ids are new — they only
    // need consistency within this subtree)
    val backingFqn = (Seq(catName) ++ c.ns :+
      c.d.properties(GraftViews.MvTableProp)).map(p => s"`$p`").mkString(".")
    // strip the SubqueryAlias wrapper: this plan lands INSIDE an
    // already-optimizing tree, where aliases have been eliminated
    def bare(p: LogicalPlan): LogicalPlan = p match {
      case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(_, ch) => bare(ch)
      case other => other
    }
    val mvPlan =
      try bare(spark.table(backingFqn)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.analyzed)
      catch { case _: Exception => return None }
    def mvAttr(n: String): Option[Attribute] = mvPlan.output.find(_.name == n)
    if (!sh.auxCols.forall(a => mvAttr(a).isDefined)) return None

    // predicate subsumption (r14): a FILTERED MV (a WHERE in the body)
    // answers a query only when the query's predicate IMPLIES the MV's.
    // Supported proof: conjunctive strengthening — every MV conjunct
    // appears (semantically equal, rebased onto the query's relation)
    // among the query's conjuncts; each matches away exactly once, and
    // whatever conjuncts REMAIN ride onto the backing through the
    // existing grain-predicate gate. A query missing an MV conjunct
    // (weaker predicate — it needs rows the MV never merged) declines.
    // the MV side is ANALYZED-but-unoptimized (`id < CAST(5 AS
    // BIGINT)`) while the query side arrives constant-folded — fold
    // foldable subtrees on both before comparing, or equal predicates
    // look different
    def fold(e: Expression): Expression = e.transformUp {
      case x if x.foldable && !x.isInstanceOf[Literal] =>
        try Literal.create(x.eval(null), x.dataType) catch { case _: Exception => x }
    }
    val residual: Option[Expression] = sh.condExpr
      .map(e => rebase(e, rel.output).getOrElse(return None)) match {
      case None => cond
      case Some(_) if cond.isEmpty => return None
      case Some(mvC) =>
        val mcs = splitConjunctivePredicates(mvC).map(fold)
        var qcs = splitConjunctivePredicates(cond.get).map(fold)
        mcs.foreach { mc =>
          val i = qcs.indexWhere(_.semanticEquals(mc))
          if (i < 0) return None
          qcs = qcs.patch(i, Nil, 1)
        }
        qcs.reduceOption(And)
    }

    def grainOf(e: Expression): Option[Attribute] =
      grains.find(_._2.semanticEquals(e)).flatMap(g => mvAttr(g._1.name))

    // EXACT grain (r15): every MV grain expression appears among the
    // query's grouping expressions (the reverse containment is what
    // newGs proves), so each backing row IS one query group — the only
    // setting in which a stored COUNT(DISTINCT) can be served (distinct
    // counts do not merge across groups; coarser grains decline)
    val queryGrainExprs = agg.groupingExpressions.map(inline)
    lazy val exactGrain = grains.forall { case (_, rebased) =>
      queryGrainExprs.exists(_.semanticEquals(rebased)) }

    def measure(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.isDefined) return None
      if (ae.isDistinct) return ae.aggregateFunction match {
        // COUNT(DISTINCT x) at the EXACT grain: one backing row per
        // group, so a degenerate MAX over the maintained liveness
        // count reads the stored value verbatim
        case cnt: Count if cnt.children.size == 1 && exactGrain =>
          val e = inline(cnt.children.head)
          sh.slots.find(s => s.kind == MvIncremental.DistinctSlot &&
            rebase(s.fnChildren.head, rel.output).exists(_.semanticEquals(e)))
            .flatMap(s => mvAttr(s.aux).map(a =>
              ae.copy(aggregateFunction = Max(a), isDistinct = false)))
        case _ => None
      }
      def sumOf(aux: String): Option[AggregateExpression] =
        mvAttr(aux).map(a => ae.copy(aggregateFunction = Sum(a)))
      ae.aggregateFunction match {
        case Count(Seq(Literal(1, _))) =>
          sumOf(LivenessCol).map(s => Coalesce(Seq(s, Literal(0L, LongType))))
        case su: Sum =>
          val e = inline(su.child)
          sh.slots.find(s => s.kind == SumSlot &&
            rebase(s.fnChildren.head, rel.output).exists(_.semanticEquals(e)))
            .flatMap(s => sumOf(s.aux))
            // Sum over the (already widened) raw state widens again —
            // cast back; values equal the original total, so lossless
            .map(s => if (s.dataType == ae.dataType) s else Cast(s, ae.dataType))
        case cnt: Count =>
          val es = cnt.children.map(inline)
          sh.slots.find(s => s.kind == CountSlot &&
            s.fnChildren.size == es.size &&
            s.fnChildren.zip(es).forall { case (b, q) =>
              rebase(b, rel.output).exists(_.semanticEquals(q)) })
            .flatMap(s => sumOf(s.aux))
            .map(s => Coalesce(Seq(s, Literal(0L, LongType))))
        // AVG (r14) re-derives from the SAME (sum, count) state AVG
        // maintenance stores: total = Sum(raw sum state) cast back down
        // to Average's own sum type (lossless — the true total fits it,
        // or the recompute would have overflowed too), divided by the
        // summed non-null count under null-on-zero semantics — the
        // exact expression Average evaluates, so coarser-grain AVG
        // re-aggregation is bit-identical to the raw recompute
        case avg: Average if avg.child.dataType.isInstanceOf[DecimalType] =>
          val e = inline(avg.child)
          def slotFor(kind: MvIncremental.SlotKind) =
            sh.slots.find(s => s.kind == kind && s.fnChildren.size == 1 &&
              rebase(s.fnChildren.head, rel.output).exists(_.semanticEquals(e)))
          for {
            ss <- slotFor(SumSlot)
            cs <- slotFor(CountSlot)
            sumA <- mvAttr(ss.aux)
            cntA <- mvAttr(cs.aux)
          } yield {
            // fresh resultIds: the two state aggregates must NOT share
            // the query expression's id, or the result projection binds
            // both to one buffer slot
            import org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId
            val total = Cast(ae.copy(aggregateFunction = Sum(sumA),
              resultId = newExprId), sumA.dataType)
            val n = Cast(ae.copy(aggregateFunction = Sum(cntA),
              resultId = newExprId), DecimalType(20, 0))
            Cast(Divide(total, n,
              org.apache.spark.sql.catalyst.expressions.EvalMode.TRY), ae.dataType)
          }
        // MIN/MAX re-aggregate exactly from the per-group extrema (the
        // backing is FRESH, so deletions are already folded in) — the
        // insert-only restriction is the REFRESH's, not the rewrite's
        case mn: Min =>
          val e = inline(mn.child)
          sh.slots.find(s => s.kind == MinSlot &&
            rebase(s.fnChildren.head, rel.output).exists(_.semanticEquals(e)))
            .flatMap(s => mvAttr(s.aux).map(a => ae.copy(aggregateFunction = Min(a))))
        case mx: Max =>
          val e = inline(mx.child)
          sh.slots.find(s => s.kind == MaxSlot &&
            rebase(s.fnChildren.head, rel.output).exists(_.semanticEquals(e)))
            .flatMap(s => mvAttr(s.aux).map(a => ae.copy(aggregateFunction = Max(a))))
        case _ => None
      }
    }

    val newGs = sequence(agg.groupingExpressions.map(g => grainOf(inline(g))
      .map(a => a: Expression)))
    val newRes = sequence(agg.aggregateExpressions.map {
      // an aggregate-bearing output: every aggregate occurrence maps to
      // a state measure, and the WRAPPER (cast chains, arithmetic over
      // aggregates) replays over the measures — after substitution no
      // raw-relation attribute may remain (a wrapper mixing aggregates
      // with grain columns declines, matching the maintenance posture)
      case al @ Alias(e, name) if e.exists(_.isInstanceOf[AggregateExpression]) =>
        var ok = e.deterministic
        val t = e.transformUp {
          case ae: AggregateExpression => measure(ae).getOrElse { ok = false; ae }
        }
        if (ok && t.references.subsetOf(mvPlan.outputSet))
          Some(Alias(t, name)(al.exprId, al.qualifier, al.explicitMetadata))
        else None
      case al @ Alias(e, name) =>
        grainOf(inline(e)).map(a => Alias(a, name)(al.exprId, al.qualifier, al.explicitMetadata))
      case a: Attribute =>
        grainOf(inline(a)).map(m => Alias(m, a.name)(a.exprId, a.qualifier))
      case _ => None
    })
    // a riding predicate must be a function of the GRAINS — it then
    // keeps/drops whole groups and commutes with the merge; pushed onto
    // the backing scan it prunes the small table's files. Any grain
    // expression (a bare attribute or a derived one like `to_date(ts)`)
    // maps to its backing column. For a DATE grain of a timestamp
    // column, UnwrapCastInBinaryComparison (which runs before this rule
    // in the same batch) has already turned `to_date(ts) >= D` into
    // `ts >= D 00:00`: exactly the midnight-literal comparisons
    // `ts >= M` / `ts < M` are functions of the day and map onto the
    // date column. A sub-day cut or a measure predicate keeps a raw
    // reference and declines.
    val zone = conf.sessionLocalTimeZone
    def dayGrain(ts: Expression): Option[Attribute] =
      if (ts.dataType == TimestampType) grainOf(Cast(ts, DateType, Some(zone))) else None
    def dayCut(ts: Expression, m: Expression): Option[(Attribute, Literal)] = m match {
      case Literal(us: java.lang.Long, TimestampType) =>
        val t = DateTimeUtils.microsToInstant(us).atZone(java.time.ZoneId.of(zone))
        if (t.toLocalTime != java.time.LocalTime.MIDNIGHT) None
        else dayGrain(ts).map(_ -> Literal(t.toLocalDate.toEpochDay.toInt, DateType))
      case _ => None
    }
    def translate(e: Expression): Option[Expression] = grainOf(e).orElse(e match {
      case GreaterThanOrEqual(ts, m) => dayCut(ts, m).map { case (d, l) => GreaterThanOrEqual(d, l) }
      case LessThan(ts, m) => dayCut(ts, m).map { case (d, l) => LessThan(d, l) }
      case LessThanOrEqual(m, ts) => dayCut(ts, m).map { case (d, l) => LessThanOrEqual(l, d) }
      case GreaterThan(m, ts) => dayCut(ts, m).map { case (d, l) => GreaterThan(l, d) }
      case _ => None
    })
    val newCond: Option[Option[Expression]] = residual match {
      case None => Some(None)
      case Some(cnd) if cnd.deterministic =>
        val t = cnd.transformDown(Function.unlift(translate))
        if (t.references.subsetOf(mvPlan.outputSet)) Some(Some(t)) else None
      case _ => None
    }
    for (g2 <- newGs; r2 <- newRes; c2 <- newCond)
      yield Aggregate(g2, r2, c2.map(Filter(_, mvPlan)).getOrElse(mvPlan), agg.hint)
  }

  private def sequence[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None
}

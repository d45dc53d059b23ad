package graft.sources

import graft.plans.MvIncremental
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.graftops.Bridge
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Path, Paths}

/** The materialized-view lifecycle (r12b): the bodies of the
  * `create_materialized_view` and `refresh_materialized_view` entries
  * of the procedure table ([[GraftProcedures.all]]).
  *
  * `create_materialized_view(name, sql)` = the stored view plus an
  * engine-managed backing table `_mv_<name>` (atomic CTAS) plus the
  * source tables' manifest versions recorded BEFORE the build (a commit
  * racing the build makes the MV stale, never wrong).
  * `refresh_materialized_view(name)` applies the sources' change feed
  * to the backing when the body is maintainable ([[tryIncrementalRefresh]])
  * and otherwise rebuilds it atomically (RTAS) from
  * [[graft.plans.ResolveGraftViews.bodyPlan]] — the SAME derivation a
  * stale read expands, so precomputed and recomputed rows agree by
  * construction. Reads route in the resolution rule: fresh -> backing
  * table, stale -> body; both correct, the materialization only picks
  * the cheaper plan. */
object MvLifecycle {

  /** Affected-group count up to which a deleting window's MIN/MAX
    * repair restricts its source read by a driver IN-list per grain
    * column; past it, by a semi-join against the delta's groups. */
  private[graft] val RepairMaxGroups = 10000

  /** Rows read (window legs, version-pinned leaves, MERGE targets) up
    * to which an incremental refresh runs interpreted: no whole-stage
    * codegen, no generated expression classes. A small refresh then
    * compiles next to nothing, where compiled it spends more time in
    * the Java compiler than on its rows. Placed from a measured sweep
    * (SCALING.md "Small refreshes run interpreted"): a join refresh
    * reading 59k rows ran as fast or faster interpreted, one reading
    * 588k rows ran twice as fast compiled. */
  private[graft] val InterpretMaxRows = 100000L

  /** The settings of an interpreted refresh. */
  private val Interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** The body's source TABLES as warehouse-relative paths, resolved
    * under `ctx` (the calling session's context at create — exactly
    * the context the definition stores — or the stored context at
    * refresh). A stored-VIEW source FLATTENS (r15): the walk recurses
    * into its body under the view's OWN stored context, collecting
    * the underlying tables for version tracking plus the view itself
    * as a definition-hash dependency ([[GraftViews.MvViewDepsProp]] —
    * views have no versions, so freshness pins the definition).
    * Every leaf must be a plain table of THIS catalog. */
  private def sourceTables(spark: SparkSession, catName: String, root: String, sql: String,
                           ctx: Seq[String]): (Seq[String], Seq[(String, String)]) = {
    import org.apache.spark.sql.catalyst.analysis.{CTESubstitution, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    val cm = spark.sessionState.catalogManager
    def rels(pl: LogicalPlan): Seq[Seq[String]] = {
      val direct = pl.collect { case UnresolvedRelation(parts, _, false) => parts }
      val inSubq = pl.flatMap(_.expressions.flatMap(_.collect {
        case sq: SubqueryExpression => rels(sq.plan)
      }.flatten))
      direct ++ inSubq
    }
    val tables = scala.collection.mutable.LinkedHashSet.empty[String]
    val viewDeps = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    def walk(sql: String, ctx: Seq[String], seen: Set[String], depth: Int): Unit = {
      require(depth < 16,
        "materialized view source nesting deeper than 16 — flatten the chain")
      val parsed = CTESubstitution.apply(spark.sessionState.sqlParser.parsePlan(sql))
      rels(parsed).foreach { parts =>
        val full =
          if (parts.size == 1) ctx ++ parts
          else if (cm.isCatalogRegistered(parts.head)) parts
          else ctx.head +: parts
        val sameCat = cm.isCatalogRegistered(full.head) && (cm.catalog(full.head) match {
          case g: GraftCatalog => g.warehouseRoot == root
          case _ => false
        })
        require(sameCat,
          s"materialized view sources must be tables of catalog '$catName' — " +
            s"'${parts.mkString(".")}' resolves to '${full.mkString(".")}' " +
            "(temp views and foreign catalogs have no trackable versions)")
        val rel = full.tail.mkString("/")
        if (Files.exists(Paths.get(tableRoot(root, rel), "_stats.jsonl"))) tables += rel
        else {
          val nsDir = if (full.tail.size > 1)
            Paths.get(root, full.tail.init: _*) else Paths.get(root)
          GraftViews.read(nsDir, full.last) match {
            case Some(vd) =>
              require(!seen.contains(rel),
                s"cyclic view reference through '${full.mkString(".")}'")
              viewDeps += (rel -> GraftViews.defHash(nsDir, full.last))
              walk(vd.sql, vd.currentCatalog +: vd.currentNamespace,
                seen + rel, depth + 1)
            case None => throw new IllegalArgumentException(
              s"no such source table '${full.mkString(".")}' for the materialized view")
          }
        }
      }
    }
    walk(sql, ctx, Set.empty, 0)
    (tables.toSeq, viewDeps.toSeq)
  }

  /** `CALL create_materialized_view(name, sql[, or_replace])`. */
  def create(pc: GraftProcedures.ProcCtx, input: InternalRow): Seq[InternalRow] = {
    val (catName, root) = (pc.catalog, pc.root)
    val dotted = input.getUTF8String(0).toString
    val sql = input.getUTF8String(1).toString
    val orReplace = input.getBoolean(2)
    val ident = GraftProcedures.viewIdent(dotted)
    val existing = pc.cat.requireViewSlot(ident, orReplace)
    val (nsDir, ns, vname) = (pc.cat.namespaceDir(ident.namespace()), ident.namespace(), ident.name())
    val spark = SparkSession.active
    // source versions recorded BEFORE the build: a source commit
    // racing the CTAS leaves the MV stale (correct), never serving
    // a backing built from data newer than the recorded versions
    val cm = spark.sessionState.catalogManager
    val (sources, viewDeps) = sourceTables(spark, catName, root, sql,
      cm.currentCatalog.name() +: cm.currentNamespace.toSeq)
    require(sources.nonEmpty, "a materialized view needs at least one source table")
    val versions = versionsNow(root, sources)
    val df = spark.sql(sql)
    val schema = df.schema
    require(schema.fieldNames.toSeq.distinct.size == schema.size,
      s"view body output has duplicate column names " +
        s"(${schema.fieldNames.mkString(", ")}) — alias them apart")
    val backing = s"_mv_$vname"
    // maintainable bodies (distributive SUM/COUNT at the stored
    // grain) back with the AUGMENTED aggregate — visible columns
    // plus hidden graft_ivm_* state (and one liveness table per
    // COUNT(DISTINCT) slot, r15) — built from version-PINNED reads
    // so the recorded versions exactly describe the state. The
    // fresh-read path projects the declared columns, so the state
    // columns never surface.
    // REPLACE crash bracket (ADVICE r15, same family as the refresh
    // rebuild): the OLD sidecar stays live while the shared backing
    // `_mv_<name>` is createOrReplace'd with the NEW body — a crash
    // before the new sidecar publishes would leave the old
    // definition pointing at a backing built from a different body,
    // and its next refresh would merge the old body's delta into
    // it. The standing marker forces that refresh through the
    // rebuild; the new sidecar write below (marker-free properties)
    // clears it.
    existing.foreach { old =>
      if (old.properties.contains(GraftViews.MvTableProp) &&
          !old.properties.contains(GraftViews.MvPendingProp))
        GraftViews.write(nsDir, old.copy(properties = old.properties +
          (GraftViews.MvPendingProp -> "replace")), replace = true)
    }
    val (auxTables, havingSql) = buildMvBacking(
      spark, root, catName, ns.toSeq, vname, df, versions, orReplace)
    // a replaced MV may have owned MORE liveness tables than the
    // new shape: drop the orphans (engine-managed storage)
    existing.foreach(old => dropTables(nsDir, auxTablesOf(old).filterNot(auxTables.contains)))
    GraftViews.write(nsDir, GraftViews.ViewDef(
      name = vname, sql = sql,
      currentCatalog = cm.currentCatalog.name(),
      currentNamespace = cm.currentNamespace.toSeq,
      schema = schema,
      queryColumnNames = schema.fieldNames.toSeq,
      columnAliases = schema.fieldNames.toSeq,
      columnComments = Seq.empty,
      properties = builtProps(Map(GraftViews.MvTableProp -> backing),
        versions, auxTables, havingSql, viewDeps)),
      replace = orReplace)
    GraftProcedures.stringRow(dotted, "created", backing, GraftViews.mvSourcesEncode(versions))
  }

  /** `CALL refresh_materialized_view(name)`. */
  def refresh(pc: GraftProcedures.ProcCtx, input: InternalRow): Seq[InternalRow] = {
    val (catName, root) = (pc.catalog, pc.root)
    val dotted = input.getUTF8String(0).toString
    val ident = GraftProcedures.viewIdent(dotted)
    val (nsDir, ns, vname) = (pc.cat.namespaceDir(ident.namespace()), ident.namespace(), ident.name())
    // ATOMIC CLAIM (r14, ADVICE r13): refreshes of one view
    // serialize on a per-view file lock — without it two concurrent
    // calls could both pass the pending check and both apply the
    // same (fromV, toV] delta window, double-counting it. The lock
    // is an OS FileLock (released on process death, no stale-lock
    // sweep needed) behind a JVM monitor (same-process threads
    // would otherwise hit OverlappingFileLockException). The loser
    // BLOCKS, then re-reads the sidecar: the winner's re-recorded
    // versions make the second refresh a noop (or a genuinely new,
    // disjoint window) — never the same window twice.
    MvRefreshLock.withLock(nsDir, vname) {
    val d = GraftViews.read(nsDir, vname)
      .getOrElse(throw new IllegalArgumentException(s"no such view '$dotted' under $root"))
    val backing = d.properties.getOrElse(GraftViews.MvTableProp,
      throw new IllegalArgumentException(
        s"'$dotted' is a plain view — only materialized views refresh"))
    val spark = SparkSession.active
    val recorded = GraftViews.mvSourcesDecode(
      d.properties.getOrElse(GraftViews.MvSourcesProp, ""))
    // versions re-recorded BEFORE the rebuild — same conservatism
    val versions = versionsNow(root, recorded.map(_._1))
    val backingFqn = quoted(catName +: (ns.toSeq :+ backing))

    // INCREMENTAL path (r13): a single-source distributive body
    // whose backing carries the graft_ivm_* state refreshes by
    // applying the signed change feed of (recorded, head] to the
    // backing with one maintenance MERGE — cost proportional to the
    // DELTA, not the source. Crash protocol: a pending marker
    // brackets the MERGE; while it stands, reads take the (correct)
    // body path and the next refresh rebuilds fully — an
    // interrupted window can never be applied twice.
    // a redefined VIEW dependency (r15) changes the body's meaning
    // with no table version moving — the incremental window cannot
    // express that, so stale deps force the rebuild (which also
    // re-derives the source set: the new definition may reference
    // different tables)
    val depsFresh = GraftViews.mvViewDepsFresh(root, d)
    val mode = (if (depsFresh) tryIncrementalRefresh(
      spark, root, nsDir, catName, pc.cat, ident, backingFqn, d, recorded, versions)
      else None) match {
      case Some(m) => m
      case None =>
        // full RTAS fallback — always correct, and it (re)writes
        // the hidden state columns (and COUNT(DISTINCT) liveness
        // tables, r15) when the body is maintainable, from
        // version-PINNED reads of `versions`, so the NEXT refresh
        // can go incremental. Atomic: readers see the old backing
        // or the new one, and the definition updates only AFTER
        // the swap.
        // crash bracket (ADVICE r15): the backing's createOrReplace
        // commits BEFORE the sidecar re-records versions — reached
        // via a pre-marker decline (stale backing schema, a frozen
        // mover), no marker may be standing, and a crash between
        // the two writes would leave the backing NEWER than the
        // recorded versions: the next refresh's incremental MERGE
        // would re-apply the already-included window (the r14
        // double-count family). Put the marker down first; the
        // sidecar publish below clears it in the same write that
        // re-records versions.
        if (!d.properties.contains(GraftViews.MvPendingProp))
          GraftViews.write(nsDir, d.copy(properties = d.properties +
            (GraftViews.MvPendingProp -> "rebuild")), replace = true)
        // re-derive the source set from the body (a redefined view
        // dependency may reference different tables) and re-record
        // its versions BEFORE the rebuild — same conservatism
        val (srcTabs, newDeps) = sourceTables(spark, catName, root, d.sql,
          d.currentCatalog +: d.currentNamespace)
        val newVersions = versionsNow(root, srcTabs)
        val df = Bridge.ofRows(spark,
          new graft.plans.ResolveGraftViews(spark).bodyPlan(catName, pc.cat, ident, d))
        val (auxTables, havingSql) = buildMvBacking(
          spark, root, catName, ns.toSeq, vname, df, newVersions, orReplace = true)
        dropTables(nsDir, auxTablesOf(d).filterNot(auxTables.contains))
        GraftViews.write(nsDir, d.copy(properties = builtProps(d.properties,
          newVersions, auxTables, havingSql, newDeps)), replace = true)
        "full"
    }
    // readout sources from the POST-refresh sidecar: a rebuild may
    // have re-derived the set through redefined view dependencies
    val sourcesNow = GraftViews.read(nsDir, vname)
      .flatMap(_.properties.get(GraftViews.MvSourcesProp))
      .getOrElse(GraftViews.mvSourcesEncode(versions))
    GraftProcedures.stringRow(dotted, "refreshed", mode, sourcesNow)
    }
  }

  /** Per-view refresh serialization (r14): JVM monitor for same-process
    * threads + OS [[java.nio.channels.FileLock]] for cross-process —
    * the OS releases the lock on process death, so a crashed holder
    * never wedges future refreshes (the pending MARKER, not this lock,
    * carries crash-recovery semantics). */
  private object MvRefreshLock {
    private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()
    def withLock[T](nsDir: Path, vname: String)(f: => T): T = {
      val lockPath = nsDir.resolve("_views").resolve(s".$vname.refresh.lock")
      Files.createDirectories(lockPath.getParent)
      val key = lockPath.toAbsolutePath.normalize.toString
      monitors.computeIfAbsent(key, _ => new Object).synchronized {
        val ch = java.nio.channels.FileChannel.open(lockPath,
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
        try {
          val lock = ch.lock()
          try f finally lock.release()
        } finally ch.close()
      }
    }
  }

  private def classicPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed

  private def quoted(parts: Seq[String]): String = parts.map(p => s"`$p`").mkString(".")

  /** The directory of the table at warehouse-relative path `rel`. */
  private def tableRoot(root: String, rel: String): String =
    Paths.get(root, rel.split('/').toSeq: _*).toString

  /** Each table's current manifest version. */
  private def versionsNow(root: String, tables: Seq[String]): Seq[(String, Int)] =
    tables.map(t => (t, JsonlStats.currentVersion(tableRoot(root, t))))

  /** The sidecar properties a build decides — recorded source
    * versions, liveness tables, the HAVING that reads re-apply, the
    * view dependencies' definition hashes — laid over `base` with any
    * previous build's values and the pending marker removed. */
  private def builtProps(base: Map[String, String], versions: Seq[(String, Int)],
      auxTables: Seq[String], havingSql: Option[String],
      viewDeps: Seq[(String, String)]): Map[String, String] =
    base -- Seq(GraftViews.MvSourcesProp, GraftViews.MvAuxProp, GraftViews.MvHavingProp,
      GraftViews.MvViewDepsProp, GraftViews.MvPendingProp) +
      (GraftViews.MvSourcesProp -> GraftViews.mvSourcesEncode(versions)) ++
      Option.when(auxTables.nonEmpty)(GraftViews.MvAuxProp -> auxTables.mkString(",")) ++
      havingSql.map(GraftViews.MvHavingProp -> _) ++
      Option.when(viewDeps.nonEmpty)(GraftViews.MvViewDepsProp ->
        viewDeps.map { case (r, h) => s"$r@$h" }.mkString(","))

  /** The COUNT(DISTINCT) liveness tables an MV definition owns. */
  private def auxTablesOf(d: GraftViews.ViewDef): Seq[String] =
    d.properties.getOrElse(GraftViews.MvAuxProp, "").split(',').filter(_.nonEmpty).toSeq

  /** Delete those of the named tables under `nsDir` that exist
    * (engine-managed storage, unreachable from listings). */
  private def dropTables(nsDir: Path, names: Seq[String]): Unit = names.foreach { n =>
    val dir = nsDir.resolve(n)
    if (Files.exists(dir.resolve("_stats.jsonl"))) graft.util.Fs.deleteRecursively(dir.toString)
  }

  /** A dropped or replaced materialized view: its backing and liveness
    * tables go with the definition (leaving them would orphan them). */
  private[sources] def dropOwnedTables(nsDir: Path, d: GraftViews.ViewDef): Unit =
    dropTables(nsDir, d.properties.get(GraftViews.MvTableProp).toSeq ++ auxTablesOf(d))

  /** Run `body` with `spark` as this thread's active session, then put
    * back the one that was active before. */
  private def withActive[T](spark: SparkSession)(body: => T): T = {
    import org.apache.spark.sql.classic.{SparkSession => Classic}
    val before = Classic.getActiveSession
    Classic.setActiveSession(spark.asInstanceOf[Classic])
    try body finally before.fold(Classic.clearActiveSession())(Classic.setActiveSession)
  }

  /** Run `bodies` on their own threads with `spark` active (a lone body
    * runs inline), wait for every one to settle, then rethrow the FIRST
    * failure — so the caller never sees an error while another body is
    * still mutating state. */
  private def runConcurrently(spark: SparkSession, bodies: Seq[() => Unit]): Unit =
    if (bodies.size == 1) bodies.head()
    else {
      import java.util.concurrent.{Callable, Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(bodies.size)
      try {
        val fs = bodies.map(body => pool.submit(new Callable[Unit] {
          override def call(): Unit = {
            org.apache.spark.sql.classic.SparkSession
              .setActiveSession(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
            body()
          }
        }))
        val errs = fs.flatMap(f =>
          try { f.get(); None } catch { case t: Throwable => Some(t) })
        errs.headOption.foreach(t => throw (t.getCause match {
          case e: Exception => e
          case _ => t
        }))
      } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.SECONDS) }
    }

  /** Per-grain pushable bands covering the group values in `groups`
    * (grain column `names(i)` of `groups`, applied to `targets(i)`):
    * the grain's [min, max] range, plus the null class ONLY when
    * `groups` holds a null there (an always-on OR IS NULL disjunct
    * would block partition/file pruning), or just the null class when
    * it holds nothing else. A SUPERSET the connector's file pruning
    * understands, so clustered grains prune at any group count. One
    * job computes every grain's bounds. */
  private def groupBands(groups: DataFrame, names: Seq[String], targets: Seq[Column])
      : Seq[Column] = {
    val b = groups.select(names.flatMap { n =>
      val c = col(s"`$n`")
      Seq(functions.min(c), functions.max(c),
        functions.sum(functions.when(c.isNull, 1L).otherwise(0L)))
    }: _*).head()
    targets.zipWithIndex.map { case (e, i) =>
      if (b.isNullAt(3 * i)) e.isNull
      else {
        val range = e >= lit(b.get(3 * i)) && e <= lit(b.get(3 * i + 1))
        val hasNull = !b.isNullAt(3 * i + 2) && b.getLong(3 * i + 2) > 0
        if (hasNull) range || e.isNull else range
      }
    }
  }

  /** Build (or rebuild) an MV backing and its COUNT(DISTINCT)
    * liveness tables from the analyzed body. Maintainable shapes
    * write their hidden `graft_ivm_*` state ONLY from version-PINNED
    * reads of the recorded source versions (r15): a source commit
    * racing the build can then never make the written state disagree
    * with the versions recorded beside it — the MV is merely stale,
    * exactly as recorded. (Without the pin, a racing commit makes the
    * backing NEWER than the recorded versions, and the next
    * incremental refresh re-applies the already-included window —
    * the same double-count family ADVICE r14 closed on the delta
    * path.) Unpinnable shapes write the plain body: correct, and
    * never incrementally refreshed. Returns the liveness table names
    * created, and the body's HAVING predicate (rendered over visible
    * columns) when the backing was built UNFILTERED — the caller
    * stores it so reads re-apply it (r15). */
  private def buildMvBacking(
      spark: SparkSession, root: String, catName: String, ns: Seq[String],
      vname: String, df: DataFrame,
      versions: Seq[(String, Int)], orReplace: Boolean)
      : (Seq[String], Option[String]) = {
    val backingFqn = quoted(catName +: (ns :+ s"_mv_$vname"))
    def write(d: DataFrame, fqn: String): Unit = {
      val w = d.writeTo(fqn)
      if (orReplace) w.createOrReplace() else w.create()
    }
    val verByRoot = versions.map { case (t, v) => tableRoot(root, t) -> v }.toMap
    val pinnable = MvIncremental.detect(classicPlan(df)).filter(_.leaves.forall(_.table match {
      case t: JsonlStatsTable => verByRoot.contains(t.tableRoot)
      case _ => false
    }))
    pinnable match {
      case Some(sh) =>
        val nonce = java.util.UUID.randomUUID().toString.take(8)
        val pins = scala.collection.mutable.Map.empty[(String, Int), LogicalPlan]
        try {
          val leafRoots = sh.leaves.map(_.table.asInstanceOf[JsonlStatsTable].tableRoot)
          def pinnedAt(r: String) = pins.getOrElseUpdate((r, verByRoot(r)),
            classicPlan(ChangeFeed.pinnedScan(spark, r, verByRoot(r), nonce)))
          val pinMap = leafRoots.indices.map(j => j -> pinnedAt(leafRoots(j))).toMap
          MvIncremental.pinnedChild(sh, pinMap) match {
            case Some(pc) =>
              // NOT shared-scan-cached across the backing + aux CTAS:
              // persisting the pinned source for the two builds was
              // measured SLOWER than re-scanning it (r16 — cache fill
              // ~0.2-0.4 s vs ~0.3 s JSONL re-scan at sf0.1, and the
              // cached copy pressures execution memory at scale).
              // Instead the backing CTAS and each aux CTAS OVERLAP
              // (r17, guide §2.6): independent writes to disjoint
              // tables, all reading the same immutable pinned
              // manifests (written eagerly when pinMap was built) —
              // the aux build back-fills the backing build's task
              // tail instead of waiting for it.
              val auxNames = sh.distinctSlots.map(s => s -> MvIncremental.auxTableName(vname, s.j))
              runConcurrently(spark,
                (() => write(Bridge.ofRows(spark, MvIncremental.augmentedPlan(sh, Some(pc))),
                  backingFqn)) +:
                auxNames.map { case (s, an) => () =>
                  write(Bridge.ofRows(spark, MvIncremental.auxTablePlan(sh, s, Some(pc))),
                    quoted(catName +: (ns :+ an)))
                })
              (auxNames.map(_._2), sh.havingSql)
            case None => write(df, backingFqn); (Nil, None)
          }
        } finally pins.keys.foreach { case (r, v) =>
          Files.deleteIfExists(ChangeFeed.pinnedManifest(r, v, nonce)) }
      case None => write(df, backingFqn); (Nil, None)
    }
  }

  /** Attempt the delta-merge refresh; Some(mode) when it (or a no-op)
    * settled the MV, None to fall back to the full rebuild. Every
    * unprovable condition declines BEFORE any state is touched; only
    * the MERGE itself runs inside the pending bracket. The checks read
    * `caller`; everything that runs a query or registers a view does
    * so on a private session derived from it. */
  private def tryIncrementalRefresh(
      caller: SparkSession, root: String, nsDir: Path,
      catName: String, cat: GraftCatalog, ident: Identifier,
      backingFqn: String, d: GraftViews.ViewDef,
      recorded: Seq[(String, Int)], head: Seq[(String, Int)]): Option[String] = {
    // a pending marker from a died refresh: the backing is suspect —
    // force the full rebuild (never re-apply a maybe-applied window)
    if (d.properties.contains(GraftViews.MvPendingProp)) return None
    if (recorded == head) {
      // nothing moved: re-stamp nothing, report the no-op
      return Some("noop")
    }
    // r14/r15 (join-aware, telescoping): the view is LINEAR in every
    // LEAF OCCURRENCE (inner join is bilinear), so the multiset delta
    // telescopes — for mover occurrences L_i in leaf order,
    //   Δview = Σ_i E(..earlier leaves at HEAD.., ΔL_i,
    //                 ..later mover leaves at RECORDED..)
    // — one spliced term per mover occurrence, earlier leaves reading
    // live (unmoved leaves are identical in both states), later mover
    // occurrences version-PINNED at their recorded manifest. One
    // mover is the fact⋈dim case (either side); several movers (and
    // self-joined movers — two occurrences, two terms) union their
    // terms into the same delta aggregate. Rollbacks (a mover whose
    // head precedes its recorded version) decline: windows don't
    // subtract.
    val headMap = head.toMap
    val movers = recorded.filter { case (t, v) => headMap.get(t).exists(_ != v) }
    if (movers.isEmpty) return None // set drift (shouldn't happen): RTAS
    if (movers.exists { case (t, v) => v >= headMap(t) }) return None
    try {
      val analyzed = classicPlan(Bridge.ofRows(caller,
        new graft.plans.ResolveGraftViews(caller).bodyPlan(catName, cat, ident, d)))
      val shape = MvIncremental.detect(analyzed).getOrElse(return None)
      // the backing must already carry the state columns (it might
      // predate r13 or have been built by a non-maintainable twin)
      val backingCols = caller.table(backingFqn).schema.fieldNames.toSet
      if (!shape.auxCols.forall(backingCols.contains)) return None
      // COUNT(DISTINCT) slots (r15) additionally need their
      // per-(group, value) liveness tables — a backing predating the
      // slot's aux table cannot maintain it incrementally
      val auxNameByJ: Map[Int, String] = shape.distinctSlots.map(s =>
        s.j -> MvIncremental.auxTableName(ident.name(), s.j)).toMap
      if (!auxNameByJ.values.forall(an =>
        Files.exists(nsDir.resolve(an).resolve("_stats.jsonl")))) return None
      case class Mover(root: String, fromV: Int, toV: Int)
      val ms = movers.map { case (t, v) => Mover(tableRoot(root, t), v, headMap(t)) }
      val moverRoots = ms.map(_.root).toSet
      val leafRootOpts: Seq[Option[String]] = shape.leaves.map(_.table match {
        case t: JsonlStatsTable => Some(t.tableRoot)
        case _ => None
      })
      // EVERY leaf must be a graft table we can version-pin (ADVICE
      // r14): a leaf we cannot pin would read live at merge-execution
      // time, and a source commit racing the refresh would make the
      // executed delta disagree with the versions recorded below
      if (leafRootOpts.exists(_.isEmpty)) return None
      val leafRoots: Seq[String] = leafRootOpts.map(_.get)
      // every mover must surface as at least one source leaf (a
      // subquery-only mover was already declined by detect, but stay
      // defensive — a missed occurrence would silently drop its term)
      if (!moverRoots.forall(leafRoots.contains)) return None
      // head version of every leaf's table — recorded for ALL sources
      // at refresh start, so every leaf occurrence can pin on it
      val headVerByRoot: Map[String, Int] =
        head.map { case (t, v) => tableRoot(root, t) -> v }.toMap
      if (!leafRoots.forall(headVerByRoot.contains)) return None
      val moverIdxs = leafRoots.zipWithIndex.collect {
        case (r, i) if moverRoots.contains(r) => i }
      // compensated movers (r16): a window moving the single-leaf
      // right side of a left-outer join refreshes via the
      // Griffin–Libkin flip term — its spliced term contains signed
      // DELETIONS (the null-extended rows that flip out) even when
      // the window itself is insert-only
      def statusOf(i: Int) = shape.moverStatus.lift(i)
      val compMover = moverIdxs.exists(i =>
        statusOf(i).contains(MvIncremental.CompMover))
      // each mover's window diff, read once: it decides whether the
      // window deletes and feeds that mover's signed change feed
      val diffs = ms.map(m => m.root -> ChangeFeed.windowDiff(m.root, m.fromV, m.toV)).toMap
      // MIN/MAX slots merge freely over INSERT-ONLY windows (an
      // insert only ever extends an extremum); a DELETING window can
      // retract one, which no merge of extrema can express. Only a
      // group that may have lost its extremum (MvIncremental.
      // lostExtremaSql) REPAIRS (r14: its MIN/MAX recomputed from the
      // source at head — a grain-predicate scan the connector prunes
      // — riding the same MERGE as extra delta columns); every other
      // group merges as if insert-only. A comp-mover window deletes
      // regardless of its own insert-onlyness (its flip rows retract).
      val deleting = shape.minMaxSlots.nonEmpty &&
        (compMover || diffs.valuesIterator.exists(!_.insertOnly))
      // left-outer bodies (r15/r16): a LINEAR mover splices directly;
      // a COMP mover (single-leaf right side of a left-outer join)
      // splices via the Griffin–Libkin flip term, built below with
      // its recorded-version pin; a FROZEN mover (anything else on an
      // outer right side) has no term — only the full rebuild
      // expresses it. Decline before any state.
      if (moverIdxs.exists(i => !statusOf(i).exists(_ != MvIncremental.FrozenMover)))
        return None
      val recordedVerByRoot = ms.map(m => m.root -> m.fromV).toMap
      // the pin version for leaf occurrence j inside the term whose
      // signed occurrence is i (ADVICE r14 — EVERY leaf pins, so the
      // executed delta matches the recorded versions even under a
      // racing source commit): mover occurrences AFTER the signed one
      // read their RECORDED version, everything else reads the
      // recorded HEAD (for unmoved leaves the two coincide)
      def pinVersion(j: Int, signedI: Int): Int = {
        val r = leafRoots(j)
        if (j > signedI && moverRoots.contains(r)) recordedVerByRoot(r)
        else headVerByRoot(r)
      }
      // the version-pinned reads of each term: its other leaves, and a
      // COMP mover's old state
      val termPins = moverIdxs.map(i =>
        leafRoots.indices.filter(_ != i).map(j => j -> (leafRoots(j) -> pinVersion(j, i))).toMap)
      val oldPins = moverIdxs.map(i =>
        Option.when(statusOf(i).contains(MvIncremental.CompMover))(
          leafRoots(i) -> recordedVerByRoot(leafRoots(i))))
      // the MERGE targets: the backing and the liveness tables. They
      // only change under this view's refresh lock, so what is read
      // here holds until the MERGEs.
      val targets = (d.properties(GraftViews.MvTableProp) +: auxNameByJ.values.toSeq)
        .map(n => nsDir.resolve(n).toString).map(r => r -> JsonlStats.readStats(r))
      // Cost-based ELISION of Spark's runtime group-filter subquery
      // (r17, guide §3.2's own logic turned around): for group-based
      // row-level ops the optimizer injects a runtime subquery that
      // pre-computes the affected _file set so the rewrite prunes
      // unaffected files — one extra subquery JOB per MERGE whose
      // only possible benefit is the files it prunes. When the
      // TARGET fits in a single scan task (total bytes ≤
      // maxPartitionBytes over at most a handful of files) the prune
      // can never repay the job, exactly the inverse of the
      // application-side-size threshold Spark's runtime bloom-filter
      // injection uses. The gate reads the target's ACTUAL manifest:
      // a large backing at cluster scale keeps its group filter
      // automatically (past 64 manifest entries the gate does not
      // even stat the files). Semantics are unchanged either way —
      // the filter is purely a rewrite-set prune; without it the
      // rewrite re-emits unmatched rows of unpruned files verbatim.
      def singleTask(r: String, st: Seq[JsonlStats.FileStats]): Boolean =
        st.length <= 64 && {
          val bytes = st.iterator.map { e =>
            try Files.size(Paths.get(r, e.file))
            catch { case _: Exception => Long.MaxValue / 128 }
          }.sum
          bytes <= caller.sessionState.conf.filesMaxPartitionBytes
        }
      val elideGroupFilter = targets.forall { case (r, st) => singleTask(r, st) }
      // the rows the refresh reads, from the manifests above: the
      // window legs, the terms' pinned leaves and the MERGE targets (a
      // MIN/MAX repair reads only its lost groups' files). At most
      // InterpretMaxRows of them run interpreted (see its doc).
      val readRows = diffs.valuesIterator.map(_.rows).sum +
        (termPins.flatMap(_.values) ++ oldPins.flatten).distinct
          .map { case (r, v) => ChangeFeed.liveRowsAt(r, v) }.sum +
        targets.iterator.flatMap(_._2).map(_.live).sum
      // everything from here on runs on a PRIVATE session derived from
      // the caller's: its settings and temp views never reach the
      // caller, whichever other refresh runs beside this one
      val spark = graft.util.Confs.derived(caller,
        (Option.when(elideGroupFilter)(
          "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled" -> "false") ++
          (if (readRows <= InterpretMaxRows) Interpreted else Nil)).toSeq: _*)
      // signed delta + the delta aggregate, ANALYZED before anything
      // mutates (a vacuumed window or unrenderable expression lands
      // here, declining to RTAS). The nonce makes this call's derived
      // _cdf manifests private — deletable on exit without racing a
      // concurrent refresh of ANOTHER view over the same source.
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val signedView = "graft_ivm_signed"
      val deltaView = "graft_ivm_delta"
      val auxDeltaViews = shape.distinctSlots.map(s => s.j -> s"graft_ivm_dvals_${s.j}").toMap
      val auxReadViews = shape.distinctSlots.map(s => s.j -> s"graft_ivm_dcur_${s.j}").toMap
      val termViews = moverIdxs.indices.map(k => s"${signedView}_t$k")
      val candidateView = "graft_ivm_cand"
      // version-pinned scans, one per (root, version) actually used —
      // each a PRIVATE manifest snapshot under _cdf/ (swept below)
      val pinnedScans = scala.collection.mutable.Map.empty[(String, Int), LogicalPlan]
      // parquet spools of the repair rows (swept below)
      val repairSpools = scala.collection.mutable.ArrayBuffer.empty[Path]
      val persistedDeltas = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      withActive(spark) { try {
      // one telescoping term per mover occurrence: that leaf reads
      // its signed (fromV, toV] window at ±1, EARLIER leaves read
      // live, LATER mover occurrences read their recorded manifest
      // (version-pinned scan) — the body's own filter/join structure
      // applies verbatim above each term, and the terms union into
      // one signed view (Δview telescopes over leaf occurrences)
      val signedByRoot = diffs.map { case (r, d) =>
        r -> classicPlan(ChangeFeed.signedChanges(spark, d, nonce)) }
      def pinnedAt(pin: (String, Int)): LogicalPlan = pinnedScans.getOrElseUpdate(pin,
        classicPlan(ChangeFeed.pinnedScan(spark, pin._1, pin._2, nonce)))
      val childNames = shape.aggregate.child.output.map(_.name)
      moverIdxs.zipWithIndex.foreach { case (i, k) =>
        // a COMP mover's flip set needs the moved leaf's OLD state
        // too: the n0 probe reads it at the RECORDED version (the
        // window's fromV), key-bounded by the window's join keys
        val term = MvIncremental.splicedTerm(shape, i, signedByRoot(leafRoots(i)),
          termPins(k).view.mapValues(pinnedAt).toMap, oldPins(k).map(pinnedAt)).getOrElse(return None)
        // normalize column ORDER across terms (the `_sign` tag sits
        // wherever the signed leaf sits in the join output)
        Bridge.ofRows(spark, term)
          .selectExpr((childNames.map(n => s"`$n`") :+ "_sign"): _*)
          .createOrReplaceTempView(termViews(k))
      }
      val signedUnion =
        spark.sql(termViews.map(v => s"SELECT * FROM $v").mkString("\nUNION ALL\n"))
      // DISTINCT slots read the signed window once more (the
      // per-(group, value) delta) on top of the main delta — persist
      // it so the window's files are scanned once either way
      if (shape.distinctSlots.nonEmpty) {
        signedUnion.persist(StorageLevel.MEMORY_AND_DISK)
        persistedDeltas += signedUnion
      }
      signedUnion.createOrReplaceTempView(signedView)
      // each DISTINCT slot (r15): the window's per-(group, value) net
      // counts, plus a PATH-based read of the liveness table (a temp
      // view over a catalog-resolved relation trips Spark 4.1's
      // MERGE analysis). The liveness table is only ever mutated
      // under this view's refresh lock, so the live read is stable.
      val gNames = shape.groupOuts.map(_.name)
      shape.distinctSlots.foreach { s =>
        val auxDelta = spark.sql(MvIncremental.auxDeltaSql(shape, s, signedView))
        // consumed by the distinct leg AND the liveness merge — one
        // signed-window scan, not two
        auxDelta.persist(StorageLevel.MEMORY_AND_DISK)
        persistedDeltas += auxDelta
        auxDelta.createOrReplaceTempView(auxDeltaViews(s.j))
        val auxRoot = nsDir.resolve(auxNameByJ(s.j)).toString
        // PIN the liveness read at its pre-refresh version (r17): the
        // delta's distinct leg must read PRE-merge liveness state,
        // which a live read only guarantees if the liveness MERGE
        // runs strictly after the main MERGE (and even then only
        // because nothing recomputes the delta afterwards). A pinned
        // manifest snapshot makes the pre-merge read hold BY
        // CONSTRUCTION — any re-plan or recompute still sees the old
        // state — which is what lets the main and liveness MERGEs
        // below run CONCURRENTLY (guide §2.6). Registered in
        // pinnedScans, so the finally sweeps the snapshot.
        val auxRead = Bridge.ofRows(spark, pinnedAt(auxRoot -> JsonlStats.currentVersion(auxRoot)))
        // the leg's LEFT JOIN only ever matches inside the window's
        // group bands — restrict the liveness read to them so
        // clustered grains prune its files instead of scanning the
        // whole value-grain table per refresh
        groupBands(auxDelta, gNames, gNames.map(n => col(s"`$n`")))
          .foldLeft(auxRead)(_.filter(_))
          .createOrReplaceTempView(auxReadViews(s.j))
      }
      val delta = spark.sql(MvIncremental.deltaSql(shape, signedView, auxReadViews, auxDeltaViews))
      // a deleting window reads the delta several times (the
      // retracted-extremum probe, the repair restriction's bounds and
      // semi-join build, the maintenance MERGE), and so does a MERGE
      // that keeps its runtime group filter (a subquery over the
      // source) — persist it then, so the signed window is SCANNED
      // ONCE (delta-sized state, spills if ever large). Otherwise the
      // MERGE is its only reader and a cache fill would cost one more
      // job for nothing.
      if (deleting || !elideGroupFilter) {
        delta.persist(StorageLevel.MEMORY_AND_DISK)
        persistedDeltas += delta
      }
      // group-scoped MIN/MAX repair, built BEFORE any state moves, for
      // exactly the groups that may have LOST the extremum the merge
      // would keep: a probe of the delta against the backing finds
      // candidates (usually none), and only then a read of their
      // signed rows decides (MvIncremental.lostExtremaSql). Two
      // restriction strategies by that group count (r15 — the cap no
      // longer forces RTAS):
      //   - up to RepairMaxGroups: a driver IN-list per grain column,
      //     which the connector's file pruning understands (a
      //     per-column list is a SUPERSET of the lost tuples — the
      //     left join onto the delta drops the extras).
      //   - past the cap: a LEFT-SEMI join of the pinned source
      //     against the lost groups — unbounded group count, no
      //     driver materialization. No broadcast HINT (ADVICE r15):
      //     past the cap is exactly the regime where the group set can
      //     be huge, and a hint ignores autoBroadcastJoinThreshold —
      //     the planner picks broadcast when the build side is
      //     actually small, shuffles otherwise.
      // Either way the repaired extrema land in a private parquet
      // spool (never the driver — ADVICE r15 task 9), which left-joins
      // onto the delta null-safe on the group keys and flags the
      // repaired groups for the one MERGE.
      val repairedDelta: Option[DataFrame] = if (!deleting) None else {
        delta.createOrReplaceTempView(deltaView)
        val (candSql, lostSql) = MvIncremental.lostExtremaSql(
          shape, deltaView, backingFqn, signedView, candidateView)
        val cand = spark.sql(candSql)
        if (cand.isEmpty) None
        else {
          cand.createOrReplaceTempView(candidateView)
          val lost = spark.sql(lostSql)
          val affected = lost.limit(RepairMaxGroups + 1).collect()
          if (affected.isEmpty) None
          else {
            // the repair reads the source at the recorded HEAD versions
            // (every leaf pinned), never live — ADVICE r14: a racing
            // source commit would otherwise repair extrema from data
            // newer than the versions this refresh records
            val pinnedAll = leafRoots.indices
              .map(j => j -> pinnedAt(leafRoots(j) -> headVerByRoot(leafRoots(j)))).toMap
            val src = Bridge.ofRows(
              spark, MvIncremental.pinnedChild(shape, pinnedAll).getOrElse(return None))
            val mm = shape.minMaxSlots
            val mmAggs = mm.map(s => expr(s.deltaSql).as(s.repaired)) :+
              lit(true).as(MvIncremental.RepairedFlag)
            val grainExprs = shape.groupOuts.map(o => expr(o.groupSql.get))
            val restricted =
              if (affected.length <= RepairMaxGroups) {
                val conds = grainExprs.zipWithIndex.map { case (e, i) =>
                  val vals = affected.map(_.get(i)).toSeq
                  val nonNull = vals.filter(_ != null).distinct
                  val inList =
                    if (nonNull.isEmpty) lit(false) else e.isin(nonNull: _*)
                  if (vals.contains(null)) inList || e.isNull else inList
                }
                src.filter(conds.reduce(_ && _))
              } else {
                val gdf = lost.select(gNames.zipWithIndex.map { case (n, i) =>
                  col(s"`$n`").as(s"graft_ivm_g$i") }: _*).distinct()
                val cond = grainExprs.zipWithIndex.map { case (e, i) =>
                  e <=> col(s"`graft_ivm_g$i`") }.reduce(_ && _)
                // the semi-join restricts exactly; the group bands ride
                // as an extra pushable filter
                src.filter(groupBands(lost, gNames, grainExprs).reduce(_ && _))
                  .join(gdf, cond, "left_semi")
              }
            val tmp = Files.createTempDirectory("graft_ivm_repair")
            repairSpools += tmp
            restricted.groupBy(shape.groupOuts.map(o => expr(o.groupSql.get).as(o.name)): _*)
              .agg(mmAggs.head, mmAggs.tail: _*)
              .write.mode("overwrite").parquet(tmp.toString)
            val on = gNames.map(n => col(s"d.`$n`") <=> col(s"r.`$n`")).reduce(_ && _)
            Some(delta.as("d").join(spark.read.parquet(tmp.toString).as("r"), on, "left")
              .select(col("d.*") +: mm.map(s => col(s"r.`${s.repaired}`")) :+
                functions.coalesce(col(s"r.`${MvIncremental.RepairedFlag}`"), lit(false))
                  .as(MvIncremental.RepairedFlag): _*))
          }
        }
      }
      repairedDelta.getOrElse(delta).createOrReplaceTempView(deltaView)
      // analyze WITHOUT executing (spark.sql would run the command
      // eagerly): unresolvable merges decline here, before any state
      def assertAnalyzed(sql: String): Unit = spark.sessionState.executePlan(
        spark.sessionState.sqlParser.parsePlan(sql)).assertAnalyzed()
      val merge = MvIncremental.mergeSql(shape, backingFqn, deltaView, repairedDelta.isDefined)
      assertAnalyzed(merge)
      // liveness-table merges (r15), one per DISTINCT slot — analyzed
      // up front like everything else
      val auxMerges = shape.distinctSlots.map(s => MvIncremental.auxMergeSql(shape,
        quoted(catName +: (ident.namespace().toSeq :+ auxNameByJ(s.j))), auxDeltaViews(s.j)))
      auxMerges.foreach(assertAnalyzed)
      // pending bracket: marker down, the MERGE(s), marker up with
      // the new versions. A crash inside the bracket leaves the
      // marker standing — reads stay on the body path, repair is RTAS.
      GraftViews.write(nsDir, d.copy(properties = d.properties +
        (GraftViews.MvPendingProp ->
          ms.map(m => s"${m.fromV}->${m.toV}").mkString(","))), replace = true)
      try {
        // main MERGE and the liveness MERGEs run CONCURRENTLY
        // (r17, guide §2.6 / VERDICT r16 #1 "fuse aux/liveness
        // MERGEs where ordering allows").
        // Ordering is free to drop because (a) the delta's
        // distinct leg reads the liveness state through the
        // version-PINNED snapshot above — the liveness commit
        // cannot change what any plan or recompute of the delta
        // sees; (b) the two chains mutate DISJOINT tables, each
        // behind its own atomic manifest swap; (c) both run inside
        // the same pending bracket, so a failure of either leaves
        // the marker standing exactly as a sequential run would.
        runConcurrently(spark, (() => { spark.sql(merge); () }) +:
          Option.when(auxMerges.nonEmpty)(() => auxMerges.foreach(spark.sql(_))).toSeq)
        GraftViews.write(nsDir, d.copy(properties = d.properties +
          (GraftViews.MvSourcesProp -> GraftViews.mvSourcesEncode(head))
          - GraftViews.MvPendingProp), replace = true)
        Some(if (repairedDelta.isDefined) "incremental-repair" else "incremental")
      } catch {
        case _: Exception =>
          // once spark.sql(merge) has been INVOKED, a failure cannot
          // prove the main MERGE did not commit (a liveness merge,
          // or the version re-record, may be what failed) — so the
          // marker STAYS STANDING (ADVICE r14): reads keep taking the
          // correct body path, and whichever refresh completes next
          // is forced through the full RTAS, which clears the marker
          // AFTER the rebuild commits. Clearing it here would open a
          // crash window (marker gone, half-applied backing, stale
          // recorded versions) in which the same delta window could
          // be applied twice.
          None
      }
      } finally {
        // every exit path — success, merge failure, or a decline
        // AFTER derived manifests were written (a failed splice term,
        // an unpinnable repair child) — sweeps the derived _cdf
        // manifests: the signed window legs per mover plus every
        // version-pin snapshot. Nothing else (vacuum included) would
        // ever sweep them (ADVICE r13/r14). The temp views die with
        // the private session.
        ms.foreach(m => ChangeFeed.signedManifests(m.root, m.fromV, m.toV, nonce)
          .foreach(Files.deleteIfExists))
        pinnedScans.keys.foreach { case (r, v) =>
          Files.deleteIfExists(ChangeFeed.pinnedManifest(r, v, nonce)) }
        repairSpools.foreach(p => graft.util.Fs.deleteRecursively(p.toString))
        persistedDeltas.foreach(_.unpersist(false))
      } }
    } catch {
      case _: Exception => None // any unprovable leg: RTAS
    }
  }
}

package graft.sources

import org.apache.spark.sql.connector.catalog.{Identifier, View}
import org.apache.spark.sql.types.{DataType, StructType}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Persistent SQL views for [[GraftCatalog]] — the storage half of the
  * V2 `ViewCatalog` surface.
  *
  * A view is ONE JSON sidecar, `<namespace dir>/_views/<name>.json`,
  * holding exactly the fields Spark's analyzer needs to re-expand it
  * (`View` interface: the SQL text, the catalog + namespace that were
  * CURRENT at definition time so the text re-resolves against the same
  * tables, the analyzed schema for binding, column aliases/comments,
  * and free-form properties). The `_views` directory rides the
  * engine-internal `_` prefix, so namespace/table listings never see
  * it ([[GraftCatalog.isNamespaceDir]]), and a view can never be
  * mistaken for a table (tables are `_stats.jsonl` directories).
  *
  * Publish discipline matches every other sidecar in the engine:
  * serialize to a temp file, ATOMIC_MOVE into place — a reader
  * resolving the view mid-replace sees the old definition or the new
  * one, never a torn file. Definitions are small (one SQL string), so
  * no caching: `loadView` re-reads the file, which makes cross-session
  * CREATE OR REPLACE VIEW immediately visible — the same
  * freshest-read stance the manifest takes.
  *
  * What the ENGINE adds vs a session temp view: persistence (the
  * definition lives in the warehouse, next to the tables it reads) and
  * catalog scoping (any session that mounts the root sees it). What it
  * deliberately does NOT add: materialization — a graft view is a
  * macro, expanded into the plan at analysis time, so every scan-side
  * capability (filter/column pushdown, file pruning, runtime
  * filtering) applies through it unchanged. Reference: the spec's
  * query tier reads curated SLICES of landed tables
  * (`Stream_Analytics_Phase_2.md` query families); a view is that
  * slice as a durable name.
  */
object GraftViews {

  /** Everything Spark's `View` interface serves, as one value. */
  case class ViewDef(
      name: String,
      sql: String,
      currentCatalog: String,
      currentNamespace: Seq[String],
      schema: StructType,
      queryColumnNames: Seq[String],
      columnAliases: Seq[String],
      columnComments: Seq[String],
      properties: Map[String, String])

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  // ---- materialized views (r12b) -----------------------------------------
  // A materialized view IS a stored view plus two properties: the name
  // of its backing table (engine-managed, `_mv_<name>`, hidden from
  // listings) and the source tables' manifest versions recorded at the
  // LAST refresh. Freshness = every source still at its recorded
  // version; a fresh read serves the backing table, a stale one
  // expands the body — both derivations are the same SQL, so reads are
  // correct in either state and refresh is a pure optimization.

  /** Prefix of every engine-written MV property below — refused in
    * caller-supplied properties and view changes ([[GraftCatalog]]). */
  val EnginePropPrefix = "graft.mv."

  /** Property naming the backing table (presence = materialized). */
  val MvTableProp = "graft.mv.table"

  /** Property recording refresh-time source versions:
    * `<relative table path>@<version>` joined by `,` (table paths are
    * warehouse-relative with `/` separators — never `,` or `@`). */
  val MvSourcesProp = "graft.mv.sources"

  /** In-progress INCREMENTAL refresh marker (r13): written before the
    * maintenance MERGE, cleared with the post-merge version re-record.
    * Its presence means the backing may hold a half-window of applied
    * delta — [[mvFresh]] refuses the fast path while it stands, and
    * the next refresh rebuilds via full RTAS instead of re-applying
    * the same window twice (the crash-safety story: a died refresh
    * degrades reads to the correct body expansion and repair to the
    * always-correct full rebuild — never double-counted state). */
  val MvPendingProp = "graft.mv.pending"

  /** COUNT(DISTINCT) liveness tables (r15): comma-joined names of the
    * engine-managed `_mv_<view>_d<j>` siblings holding per-(group,
    * value) occurrence counts — dropped/moved with the backing. */
  val MvAuxProp = "graft.mv.aux"

  /** View DEPENDENCIES of a materialized view whose body references
    * stored views (r15 — MV-over-view flattening): `<relpath>@<hash>`
    * legs, one per stored view the body expands through, where hash is
    * the dependency's definition-content hash. Views have no versions,
    * so freshness pins the DEFINITION: redefining a dependency makes
    * the MV stale (reads take the correct body path, the next refresh
    * rebuilds and re-records). */
  val MvViewDepsProp = "graft.mv.viewdeps"

  /** Content hash of a stored view definition (the sidecar bytes) —
    * the identity [[MvViewDepsProp]] legs pin. */
  def defHash(nsDir: Path, name: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    java.util.Base64.getUrlEncoder.withoutPadding()
      .encodeToString(md.digest(Files.readAllBytes(viewFile(nsDir, name)))).take(22)
  }

  /** Every recorded view dependency still at its recorded definition
    * hash? (Trivially true for MVs over plain tables.) */
  def mvViewDepsFresh(warehouseRoot: String, d: ViewDef): Boolean =
    d.properties.getOrElse(MvViewDepsProp, "").split(',').filter(_.nonEmpty).forall { leg =>
      val at = leg.lastIndexOf('@')
      at > 0 && {
        val parts = leg.substring(0, at).split('/').toSeq
        val nsDir = Paths.get(warehouseRoot, parts.init: _*)
        try defHash(nsDir, parts.last) == leg.substring(at + 1)
        catch { case _: Exception => false }
      }
    }

  /** HAVING predicate of a maintainable body (r15), rendered over the
    * view's VISIBLE column names. The backing stores ALL groups (state
    * maintenance is HAVING-blind — the predicate filters whole groups,
    * never rows inside them); the fresh-read path re-applies this
    * filter over the backing. Present only when the backing was built
    * unfiltered (the augmented/pinned path). */
  val MvHavingProp = "graft.mv.having"

  def mvSourcesEncode(sources: Seq[(String, Int)]): String =
    sources.map { case (t, v) => s"$t@$v" }.mkString(",")

  def mvSourcesDecode(s: String): Seq[(String, Int)] =
    s.split(',').filter(_.nonEmpty).toSeq.map { leg =>
      val at = leg.lastIndexOf('@')
      require(at > 0, s"malformed mv source leg '$leg'")
      (leg.substring(0, at), leg.substring(at + 1).toInt)
    }

  /** Every recorded source still at its refresh-time version? A source
    * whose versions cannot be read (dropped table) counts STALE — the
    * body expansion then fails with the real resolution error instead
    * of serving a silently orphaned backing table. */
  def mvFresh(warehouseRoot: String, d: ViewDef): Boolean =
    !d.properties.contains(MvPendingProp) &&
      d.properties.get(MvSourcesProp).exists { enc =>
        mvSourcesDecode(enc).forall { case (t, v) =>
          try JsonlStats.currentVersion(
            Paths.get(warehouseRoot, t.split('/').toSeq: _*).toString) == v
          catch { case _: Exception => false }
        }
      } && mvViewDepsFresh(warehouseRoot, d)

  /** Does the MV's backing table actually exist where the definition
    * says? The resolution rule gates the fresh path on this: a sidecar
    * whose backing is missing (crashed rename, external cleanup) must
    * degrade to body expansion — correct, just uncached — never fail
    * a read or serve the wrong table. */
  def mvBackingExists(nsDir: Path, d: ViewDef): Boolean =
    d.properties.get(MvTableProp).forall(b =>
      Files.exists(nsDir.resolve(b).resolve("_stats.jsonl")))

  /** Move a materialized view's backing table alongside its renamed
    * definition: `<oldNs>/_mv_<old>` -> `<newNs>/_mv_<new>`, returning
    * the definition with [[MvTableProp]] rewritten. Plain views (no
    * backing property) pass through untouched; a sidecar already
    * pointing at a missing backing also passes through (the read path
    * treats it as stale). Callers move the backing BEFORE publishing
    * the new sidecar so a crash in between is observable only as a
    * stale MV under the old name. */
  def moveMvBacking(oldNsDir: Path, newNsDir: Path, d: ViewDef, newName: String): ViewDef =
    d.properties.get(MvTableProp) match {
      case Some(oldBacking) if Files.exists(
          oldNsDir.resolve(oldBacking).resolve("_stats.jsonl")) =>
        val newBacking = s"_mv_$newName"
        val target = newNsDir.resolve(newBacking)
        require(!Files.exists(target),
          s"cannot move materialized-view backing: '$target' already exists")
        Files.createDirectories(newNsDir)
        Files.move(oldNsDir.resolve(oldBacking), target)
        // COUNT(DISTINCT) liveness tables (r15) move with the backing:
        // `_mvaux_<old>_d<j>` -> `_mvaux_<new>_d<j>` (the source name
        // comes from the stored property, so pre-rename tables under
        // the retired `_mv_` prefix still move — to the new prefix)
        val movedAux = d.properties.get(MvAuxProp).map { enc =>
          enc.split(',').filter(_.nonEmpty).toSeq.map { aux =>
            val slotSuffix = aux.substring(aux.lastIndexOf("_d"))
            val newAux = s"_mvaux_$newName$slotSuffix"
            if (Files.exists(oldNsDir.resolve(aux).resolve("_stats.jsonl"))) {
              require(!Files.exists(newNsDir.resolve(newAux)),
                s"cannot move liveness table: '${newNsDir.resolve(newAux)}' already exists")
              Files.move(oldNsDir.resolve(aux), newNsDir.resolve(newAux))
            }
            newAux
          }.mkString(",")
        }
        d.copy(properties = d.properties + (MvTableProp -> newBacking) ++
          movedAux.map(MvAuxProp -> _))
      case _ => d
    }

  private def viewsDir(nsDir: Path): Path = nsDir.resolve("_views")

  def viewFile(nsDir: Path, name: String): Path = viewsDir(nsDir).resolve(s"$name.json")

  /** View names share the table-name lexical contract: no separators
    * (a name is one file), no `_` prefix (engine-internal namespace),
    * and no `.` — the dotted CALL surface and the analyzer split on
    * dots to find the namespace, so a dotted NAME could be stored but
    * never addressed again. */
  def requireValidName(name: String): Unit = {
    require(name.nonEmpty && !name.startsWith("_"),
      s"view name must not start with '_' (engine-internal prefix): '$name'")
    require(!name.exists(c => c == '/' || c == '\\' || c == '\u0000' || c == '.'),
      s"view name must not contain path separators, NUL, or '.': '$name'")
  }

  def exists(nsDir: Path, name: String): Boolean = Files.exists(viewFile(nsDir, name))

  def list(nsDir: Path): Seq[String] = {
    val d = viewsDir(nsDir)
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".json"))
      .map(_.getFileName.toString.stripSuffix(".json"))
      .toSeq.sorted
    finally s.close()
  }

  def write(nsDir: Path, d: ViewDef, replace: Boolean): Unit = {
    val n = mapper.createObjectNode()
    n.put("name", d.name)
    n.put("sql", d.sql)
    n.put("currentCatalog", d.currentCatalog)
    val ns = n.putArray("currentNamespace"); d.currentNamespace.foreach(ns.add)
    n.put("schema", d.schema.json)
    val qc = n.putArray("queryColumnNames"); d.queryColumnNames.foreach(qc.add)
    val al = n.putArray("columnAliases"); d.columnAliases.foreach(al.add)
    val cc = n.putArray("columnComments"); d.columnComments.foreach(cc.add)
    val pr = n.putObject("properties")
    d.properties.toSeq.sortBy(_._1).foreach { case (k, v) => pr.put(k, v) }
    val target = viewFile(nsDir, d.name)
    Files.createDirectories(target.getParent)
    val tmp = target.getParent.resolve(
      s".${d.name}.json.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.writeString(tmp, n.toString)
    val opts =
      if (replace) Array[StandardCopyOption](StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      else Array[StandardCopyOption](StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, target, opts: _*)
  }

  def read(nsDir: Path, name: String): Option[ViewDef] = {
    val p = viewFile(nsDir, name)
    if (!Files.exists(p)) return None
    val n = mapper.readTree(Files.readString(p))
    def arr(field: String): Seq[String] =
      Option(n.get(field)).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)
    Some(ViewDef(
      name = n.get("name").asText(),
      sql = n.get("sql").asText(),
      currentCatalog = n.get("currentCatalog").asText(),
      currentNamespace = arr("currentNamespace"),
      schema = DataType.fromJson(n.get("schema").asText()).asInstanceOf[StructType],
      queryColumnNames = arr("queryColumnNames"),
      columnAliases = arr("columnAliases"),
      columnComments = arr("columnComments"),
      properties = Option(n.get("properties")).map(_.fields().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)))
  }

  def drop(nsDir: Path, name: String): Boolean =
    Files.deleteIfExists(viewFile(nsDir, name))

  /** Every namespace directory under `root` (root itself included) —
    * directories that are neither engine-internal (`_` prefix) nor
    * tables (`_stats.jsonl`). Depth-bounded only by the namespace tree:
    * the walk never descends into table data. */
  private def namespaceDirs(root: Path): Seq[(Seq[String], Path)] = {
    def rec(dir: Path, ns: Seq[String]): Seq[(Seq[String], Path)] = {
      val kids =
        if (!Files.isDirectory(dir)) Seq.empty
        else {
          val s = Files.list(dir)
          try s.iterator().asScala.filter { p =>
            val n = p.getFileName.toString
            Files.isDirectory(p) && !n.startsWith("_") && !n.startsWith(".") &&
              !Files.exists(p.resolve("_stats.jsonl"))
          }.toSeq
          finally s.close()
        }
      (ns, dir) +: kids.flatMap(k => rec(k, ns :+ k.getFileName.toString))
    }
    rec(root, Seq.empty)
  }

  /** Dotted names of stored views whose BODY references the view at
    * (`ns`, `name`) — the drop-side dependency probe: dropping a view
    * another view expands through must fail naming the dependents,
    * never succeed and turn the dependents into delayed read errors.
    *
    * Reference detection re-runs the resolution rule's qualification
    * on each candidate's parsed body: a single-part table name means
    * the candidate's stored definition namespace; a name led by the
    * candidate's stored catalog is warehouse-absolute; any other
    * multipart name is a namespace path of the same warehouse
    * (catalogs are per-root, so cross-catalog references cannot point
    * back into this warehouse). Subquery expressions are scanned too.
    * Drop is rare — the full-warehouse walk is fine. */
  def referencingViews(parse: String => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                       root: String, ns: Seq[String], name: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val targetParts = ns :+ name
    // catalog names currently registered FOR THIS warehouse root — a
    // reference led by one of them is warehouse-absolute; one led by a
    // catalog of a DIFFERENT root can never point back here
    val catsForRoot = GraftCatalog.rootsSnapshot.filter(_._2 == root).map(_._1).toSet
    val foreignCats = GraftCatalog.rootsSnapshot.filterNot(_._2 == root).map(_._1).toSet
    def rels(pl: LogicalPlan): Seq[Seq[String]] = {
      val direct = pl.collect { case UnresolvedRelation(parts, _, _) => parts }
      val nested = pl.flatMap(_.expressions.flatMap(_.collect {
        case sq: SubqueryExpression => rels(sq.plan)
      }.flatten))
      direct ++ nested
    }
    namespaceDirs(Paths.get(root)).flatMap { case (candNs, nsDir) =>
      list(nsDir).filterNot(n => candNs == ns && n == name).flatMap { n =>
        read(nsDir, n).filter { d =>
          val defCtxHere = catsForRoot.contains(d.currentCatalog)
          val refs = try rels(parse(d.sql)) catch { case _: Exception => Seq.empty }
          refs.exists { parts =>
            val abs: Option[Seq[String]] =
              if (parts.size == 1)
                (if (defCtxHere) Some(d.currentNamespace ++ parts) else None)
              else if (catsForRoot.contains(parts.head)) Some(parts.tail)
              else if (foreignCats.contains(parts.head)) None
              else if (parts.head == d.currentCatalog) Some(parts.tail)
              else if (defCtxHere) Some(parts) // ns path under the defining catalog
              else None
            abs.contains(targetParts)
          }
        }.map(_ => (candNs :+ n).mkString("."))
      }
    }
  }

  /** Spark's `View` over a stored definition. Column comments are
    * nullable PER ENTRY (the interface contract); an empty stored list
    * means "no comments" and serves nulls of the right arity. */
  class GraftView(d: ViewDef) extends View {
    override def name(): String = d.name
    override def query(): String = d.sql
    override def currentCatalog(): String = d.currentCatalog
    override def currentNamespace(): Array[String] = d.currentNamespace.toArray
    override def schema(): StructType = d.schema
    override def queryColumnNames(): Array[String] = d.queryColumnNames.toArray
    override def columnAliases(): Array[String] =
      if (d.columnAliases.nonEmpty) d.columnAliases.toArray
      else d.schema.fieldNames
    override def columnComments(): Array[String] =
      if (d.columnComments.nonEmpty) d.columnComments.map(c => if (c.isEmpty) null else c).toArray
      else Array.fill[String](d.schema.size)(null)
    override def properties(): java.util.Map[String, String] = d.properties.asJava
  }
}

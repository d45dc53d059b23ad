package graft.plans

import graft.sources.GraftCatalog
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{CurrentNamespace, NoSuchViewException, SchemaEvolution, UnresolvedIdentifier, UnresolvedNamespace}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{CreateView, DropView, LogicalPlan, ShowViews}
import org.apache.spark.sql.catalyst.util.StringUtils
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftops.Bridge
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** SQL surface for persistent-view DDL on graft catalogs.
  *
  * Spark 4.1 ships the V2 `ViewCatalog` interface with no analyzer
  * wiring: `CREATE VIEW cat.v AS ...` dies on MISSING_CATALOG_ABILITY
  * before the catalog is consulted ([[ResolveGraftViews]] documents the
  * wall). This parser closes that gap the way Iceberg's Spark extensions
  * do (`RewriteViewCommands`): it parses every statement with the
  * delegate, once, and rewrites the root of the resulting PLAN — never
  * the SQL text. When the target of
  *
  *   - `CREATE [OR REPLACE] VIEW [IF NOT EXISTS] <name> [(col [COMMENT
  *     '...'], ...)] [COMMENT '...'] [TBLPROPERTIES (...)] AS <body>`
  *   - `DROP VIEW [IF EXISTS] <name>`
  *   - `SHOW VIEWS [IN <namespace>] [LIKE '<pattern>']`
  *
  * resolves to a [[GraftCatalog]] (Spark's own catalog lookup: a leading
  * registered catalog name is explicit, otherwise the current catalog and
  * namespace apply), the statement becomes a [[GraftViewCommand]] that
  * calls the catalog's view method — the one implementation of each verb
  * (identifier space, dependents, owned tables). The parsed clauses map
  * directly onto the `ViewInfo` that [[GraftCatalog.viewInfo]] builds.
  *
  * Everything else is returned untouched: TEMPORARY views (a different
  * plan node), statements over another catalog (`spark_catalog`'s own v1
  * views keep working), and a single-part `DROP VIEW` whose name is a
  * session temp view — Spark's documented precedence drops the temp
  * view, not the stored one of the same name. */
class GraftViewDdlParser(spark: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan = delegate.parsePlan(sqlText) match {
    case c @ CreateView(UnresolvedIdentifier(GraftIdent(cat, ident), _), columns, comment,
        collation, properties, Some(body), _, ifNotExists, orReplace, schemaMode) =>
      require(collation.isEmpty && schemaMode != SchemaEvolution,
        s"CREATE VIEW $ident over a graft catalog: DEFAULT COLLATION and WITH SCHEMA " +
          "EVOLUTION are not supported — a stored view's output contract is its " +
          "definition-time schema")
      GraftViewCommand(c.nodeName, Nil) { s =>
        if (!(ifNotExists && cat.viewExists(ident))) {
          val info = GraftCatalog.viewInfo(s, ident, body, columns, comment, properties)
          if (orReplace) cat.replaceView(info, true) else cat.createView(info)
        }
        Nil
      }
    case d @ DropView(UnresolvedIdentifier(parts @ GraftIdent(cat, ident), _), ifExists)
        if !(parts.size == 1 && hasTempView(parts.head)) =>
      GraftViewCommand(d.nodeName, Nil) { _ =>
        if (!cat.dropView(ident) && !ifExists) throw new NoSuchViewException(ident)
        Nil
      }
    case s @ ShowViews(GraftNamespace(cat, ns), pattern, _) =>
      val output = Seq("namespace", "view").map(AttributeReference(_, StringType, nullable = false)()) :+
        AttributeReference("comment", StringType)()
      GraftViewCommand(s.nodeName, output) { _ =>
        val names = cat.listViews(ns: _*).map(_.name()).toSeq
        pattern.fold(names)(StringUtils.filterPattern(names, _)).map { n =>
          Row(ns.mkString("."), n, cat.loadView(Identifier.of(ns.toArray, n)).properties().get("comment"))
        }
      }
    case other => other
  }

  /** A view identifier that resolves to a graft catalog. */
  private object GraftIdent {
    def unapply(parts: Seq[String]): Option[(GraftCatalog, Identifier)] =
      Bridge.catalogAndIdentifier(spark, parts).collect { case (cat: GraftCatalog, id) => (cat, id) }
  }

  /** SHOW VIEWS' namespace when it resolves to a graft catalog. */
  private object GraftNamespace {
    def unapply(ns: LogicalPlan): Option[(GraftCatalog, Seq[String])] = (ns match {
      case CurrentNamespace =>
        val cm = spark.sessionState.catalogManager
        Some((cm.currentCatalog, cm.currentNamespace.toSeq))
      case UnresolvedNamespace(parts, _) if parts.nonEmpty =>
        Some(Bridge.catalogAndNamespace(spark, parts))
      case _ => None
    }).collect { case (cat: GraftCatalog, parts) => (cat, parts) }
  }

  /** A session TEMP view of this name exists. CREATE VIEW needs no such
    * guard: Spark's non-temporary CREATE always targets the catalog even
    * when a temp view shadows the name. Known gap: SHOW VIEWS over a
    * graft namespace lists stored views only. */
  private def hasTempView(name: String): Boolean =
    spark.sessionState.catalog.getTempView(name).isDefined

  // ---- pure delegation ------------------------------------------------------
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

/** One view statement over a graft catalog, bound to the catalog verb it
  * runs when the statement executes (view DDL is eager, like every
  * command). `statement` names the parsed node it replaces. */
case class GraftViewCommand(statement: String, override val output: Seq[Attribute])(
    verb: SparkSession => Seq[Row]) extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = verb(sparkSession)
  override protected def otherCopyArgs: Seq[AnyRef] = Seq(verb)
}

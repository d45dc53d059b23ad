package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, Reducer, ReducibleFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** `GraftCatalog`: a DataSource V2 **catalog plugin** — the engine
  * extending Spark's catalog layer itself (`TableCatalog` +
  * `FunctionCatalog`), not just its scan API. Registered per session via
  * `spark.sql.catalog.<name> = graft.sources.GraftCatalog` with a
  * `<name>.root` option pointing at a directory of manifest-listed
  * JSONL tables (one subdirectory per table, each a [[JsonlStats]]
  * layout). SQL then addresses tables as `<name>.<table>` with no
  * `createOrReplaceTempView` plumbing, and every connector capability —
  * column/filter/aggregate pushdown, runtime filtering, metadata
  * columns, key-grouped layouts — rides through catalog resolution
  * unchanged (the identifier path and the `format(...)` path meet at
  * the same [[JsonlStatsTable]]).
  *
  * Table DDL (r7 — VERDICT r6 #4): the catalog is a
  * [[StagingTableCatalog]], so `CREATE [OR REPLACE] TABLE … AS SELECT`
  * runs ATOMICALLY on the connector's own commit point — staged data
  * files land in the table directory but stay invisible (readers trust
  * only the manifest) until the write's commit swaps `_stats.jsonl`
  * in one atomic move; an aborted CTAS leaves no table at all.
  * Plain `CREATE TABLE` publishes an empty manifest; `DROP TABLE`
  * removes the directory. Two refusals stay deliberate: a foreign
  * `USING <provider>` (this catalog only serves manifest-listed JSONL
  * tables) and `PARTITIONED BY` (key-grouped layouts are published by
  * the ingest layer, which writes one file per key — the task writer
  * here does not re-key rows, and a silently unkeyed "partitioned"
  * table would downgrade every SPJ join to a shuffle).
  *
  * The function side exposes `sqnorm` (exact squared L2 norm of a float
  * embedding) as a V2 [[ScalarFunction]]: per-element products in
  * double, each rounded to DECIMAL(38,25), summed exactly — the same
  * determinism contract as `ext.SimilarityMath.dotDec`, so the result
  * is bit-identical to the DuckDB oracle's decimal sum regardless of
  * element order or engine. The class also declares the magic `invoke`
  * method, which Spark binds via codegen (an `Invoke` expression, no
  * row boxing) instead of the reflective `produceResult` path.
  */
class GraftCatalog extends TableCatalog with FunctionCatalog with StagingTableCatalog
    with ProcedureCatalog with SupportsNamespaces with ViewCatalog {
  private var catName: String = _
  private var root: String = _

  /** CHECK constraints (r7c) and column DEFAULT values (r8) flow
    * through ALTER TABLE only when the catalog declares the
    * capabilities. */
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = options.get("root")
    require(root != null, s"catalog $name needs a 'root' option")
    GraftCatalog.registeredRoots.put(name, root)
  }
  override def name(): String = catName
  /** The warehouse root this catalog serves — view resolution and the
    * MV freshness probe key source versions off it. */
  def warehouseRoot: String = root

  private def dirOf(ident: Identifier) =
    java.nio.file.Paths.get(root, (ident.namespace() :+ ident.name()): _*)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = java.nio.file.Paths.get(root, namespace: _*)
    if (!java.nio.file.Files.isDirectory(base)) throw new NoSuchNamespaceException(namespace)
    val s = java.nio.file.Files.list(base)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.exists(p.resolve("_stats.jsonl")))
      // engine-internal tables (`_mv_<view>` backing tables) stay out of
      // listings — loadTable still resolves them (r12b)
      .filter(p => !p.getFileName.toString.startsWith("_"))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  /** Sub-identifier fallback (r9): `<table>.files|partitions|history|
    * refs` serves the METADATA tables ([[MetaTables]]) and
    * `<table>.branch_<name>` / `<table>.tag_<name>` address REFS
    * ([[Refs]]) — the Iceberg Spark naming idiom, which keeps branch
    * writes inside plain SQL (`INSERT INTO t.branch_audit …`). Fires
    * ONLY when no real table of that name exists (the parent path must
    * itself be a table), so a genuine table always shadows a selector. */
  private def subTable(ident: Identifier): Option[Table] = {
    if (ident.namespace().isEmpty) return None
    val parent = java.nio.file.Paths.get(root, ident.namespace(): _*)
    if (!java.nio.file.Files.exists(parent.resolve("_stats.jsonl"))) return None
    val sel = ident.name()
    if (MetaTables.Names.contains(sel)) Some(MetaTables.load(parent.toString, sel))
    // a ref selector that PARSES but does not EXIST is table-not-found,
    // not an internal error: the analyzer probes multipart names
    // speculatively during resolution, and an IllegalArgumentException
    // there aborts the whole analysis instead of falling through to the
    // standard NoSuchTableException flow (r9 review)
    else if (sel.startsWith("branch_")) {
      val name = sel.stripPrefix("branch_")
      if (!java.nio.file.Files.exists(parent.resolve(Refs.branchManifest(name))))
        throw new NoSuchTableException(ident)
      Some(branchTable(parent, name))
    }
    else if (sel.startsWith("tag_")) {
      val name = sel.stripPrefix("tag_")
      val m = Refs.tagManifest(name)
      if (!java.nio.file.Files.exists(parent.resolve(m)))
        throw new NoSuchTableException(ident)
      Some(snapshotTable(parent, m))
    }
    else None
  }

  private def branchTable(dir: java.nio.file.Path, name: String): Table = {
    if (!java.nio.file.Files.exists(dir.resolve(Refs.branchManifest(name))))
      throw new IllegalArgumentException(s"no such branch '$name' of $dir (create_branch first)")
    val meta = JsonlStats.readTableMeta(dir.toString)
    new JsonlStatsTable(dir.toString,
      meta.schema.getOrElse(JsonlStats.schema),
      meta.statsCol.getOrElse(JsonlStats.statsColumn),
      meta.partitionCol, Refs.branchManifest(name), meta.bloomCol,
      deleteMode = meta.deleteMode,
      columnMapping = meta.columnMapping,
      gramCol = meta.gramCol,
      branch = Some(name),
      sortCol = meta.sortCol)
  }

  override def loadTable(ident: Identifier): Table = {
    // warehouse-transaction recovery (r11, [[Refs.Wtxn]]): an unsettled
    // multi-table publish rolls FORWARD before any table serves — a
    // catalog-routed reader can never observe the torn middle. One
    // Files.exists per resolution when no marker is present.
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(root, Refs.Wtxn.Marker)))
      Refs.Wtxn.recover(root)
    val dir = dirOf(ident)
    if (!java.nio.file.Files.exists(dir.resolve("_stats.jsonl")))
      return subTable(ident).getOrElse(throw new NoSuchTableException(ident))
    // table-level metadata is authoritative: a user-id-bounded table
    // resolved with the default stats column would prune files against
    // the wrong bounds and answer MIN/MAX pushdown from them — wrong
    // results with no error (r6 review)
    val meta = JsonlStats.readTableMeta(dir.toString)
    new JsonlStatsTable(dir.toString,
      meta.schema.getOrElse(JsonlStats.schema),
      meta.statsCol.getOrElse(JsonlStats.statsColumn),
      meta.partitionCol, bloomCol = meta.bloomCol,
      deleteMode = meta.deleteMode,
      columnMapping = meta.columnMapping,
      gramCol = meta.gramCol,
      sortCol = meta.sortCol,
      sampleMode = meta.sampleMode)
  }

  /** Shared validation for every create path. Returns (statsCol,
    * partitionCol): the stats column the new table's manifest will
    * carry bounds for — the `statsColumn` table property if given, else
    * `value` if present, else the first long/double column, else the
    * first column (whose files then get the conservative never-pruned
    * sentinel bounds) — and the key column of a `PARTITIONED BY
    * (identity)` layout (r7: the keyed WRITE path exists, so
    * partitioned CTAS produces a real SPJ-ready key-grouped table; only
    * multi-column or non-identity transforms and non-string key types
    * are refused — manifest pkeys are strings). */
  private def validateCreate(ident: Identifier, schema: StructType,
                             partitions: Array[Transform],
                             properties: java.util.Map[String, String]): (String, Option[String], Option[String]) = {
    val provider = Option(properties.get(TableCatalog.PROP_PROVIDER))
    if (provider.exists(p => p != "graft-jsonl-stats" && !p.equalsIgnoreCase("jsonl")))
      throw new UnsupportedOperationException(
        s"$catName only serves manifest-listed JSONL tables; USING ${provider.get} " +
          "belongs to another catalog")
    // one identifier space with views (r12b): a table must never shadow
    // a stored view — the mirror of createView's table guard
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    def encodeTransform(t: Transform): String = {
        val refs = t.references()
        if (refs.length != 1 || refs(0).fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"$catName: a partition transform takes exactly one top-level column, got $t")
        val c = refs(0).fieldNames()(0)
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"partition column $c not in schema $schema"))
        // first literal argument of a parameterized transform
        // (`bucket(8, col)` / `truncate(100, col)`) — argument order as
        // parsed, so scan both positions
        def litArg: Long = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value() match {
              case n: Number => n.longValue()
              case other => throw new IllegalArgumentException(
                s"$catName: transform parameter must be numeric, got $other")
            }
        }.getOrElse(throw new UnsupportedOperationException(
          s"$catName: $t needs a numeric parameter"))
        t.name() match {
          case "identity" =>
            if (f.dataType != StringType)
              throw new UnsupportedOperationException(
                s"$catName: partition column $c must be string (manifest pkeys are " +
                  s"strings), got ${f.dataType.simpleString}")
            c
          // hidden partitioning (r9, [[PartitionTransforms]]): the
          // DERIVED key is what the manifest records; queries prune on
          // the source column alone
          case "bucket" =>
            val n = litArg
            // 4096 bounds each writer task's resident sinks (one open
            // buffered stream per bucket it sees — r9 review)
            if (n < 1 || n > 4096)
              throw new IllegalArgumentException(
                s"$catName: bucket count must be in [1, 4096], got $n")
            if (f.dataType != LongType && f.dataType != StringType)
              throw new UnsupportedOperationException(
                s"$catName: bucket($n, $c) needs a long or string source, " +
                  s"got ${f.dataType.simpleString}")
            PartitionTransforms.Bucket(n.toInt, c).encoded
          case "truncate" =>
            val w = litArg
            if (w < 1)
              throw new IllegalArgumentException(
                s"$catName: truncate width must be positive, got $w")
            if (f.dataType != LongType && f.dataType != StringType)
              throw new UnsupportedOperationException(
                s"$catName: truncate($w, $c) needs a long or string source, " +
                  s"got ${f.dataType.simpleString}")
            PartitionTransforms.Trunc(w, c).encoded
          // temporal layouts (r11 days, r12 months/years): pkey = the
          // calendar unit index of a timestamp/date source — daily
          // feeds, monthly rollups and yearly archives as table
          // properties, pruned by time-window predicates alone
          case unit @ ("days" | "months" | "years") =>
            if (f.dataType != org.apache.spark.sql.types.TimestampType &&
                f.dataType != org.apache.spark.sql.types.TimestampNTZType &&
                f.dataType != org.apache.spark.sql.types.DateType)
              throw new UnsupportedOperationException(
                s"$catName: $unit($c) needs a timestamp or date source, " +
                  s"got ${f.dataType.simpleString}")
            unit match {
              case "days"   => PartitionTransforms.Days(c).encoded
              case "months" => PartitionTransforms.Months(c).encoded
              case _        => PartitionTransforms.Years(c).encoded
            }
          case other => throw new UnsupportedOperationException(
            s"$catName: unsupported partition transform $other — identity, " +
              "bucket(n, col), truncate(w, col), days(col), months(col) and " +
              "years(col) are the supported layouts")
        }
    }
    val partitionCol = partitions.toSeq match {
      case Seq() => None
      case Seq(t) => Some(encodeTransform(t))
      // composite layouts (r12): exactly one time transform plus one
      // bucket — the classic time-window x point-lookup 100-TB layout;
      // [[PartitionTransforms.requireValidMulti]] is the contract
      case Seq(t1, t2) =>
        val specs = Seq(t1, t2).map(t => PartitionTransforms.parse(encodeTransform(t)))
        try PartitionTransforms.requireValidMulti(specs)
        catch { case e: IllegalArgumentException =>
          throw new UnsupportedOperationException(s"$catName: ${e.getMessage}") }
        Some(PartitionTransforms.encodedMulti(specs))
      case many => throw new UnsupportedOperationException(
        s"$catName: at most two partition transforms (a time unit x a bucket), " +
          s"got ${many.size}")
    }
    schema.fields.foreach { f =>
      if (!JsonlStats.supportedType(f.dataType))
        throw new UnsupportedOperationException(
          s"$catName: column ${f.name} has type ${f.dataType.simpleString}; " +
            JsonlStats.supportedTypesMsg)
    }
    val statsCol = Option(properties.get("statsColumn"))
      .orElse(schema.fieldNames.find(_ == JsonlStats.statsColumn))
      .orElse(schema.fields.find(f => f.dataType == LongType || f.dataType == DoubleType)
        .map(_.name))
      .getOrElse(schema.fieldNames.head)
    // declared write sort order (r9c): a TABLE property — every later
    // append requests a within-task sort by it, so zone maps and file
    // bounds stay tight with no job discipline
    val sortCol = Option(properties.get("sortColumn"))
    sortCol.foreach(c => require(schema.fieldNames.contains(c),
      s"sortColumn $c not in schema ${schema.fieldNames.mkString(",")}"))
    (statsCol, partitionCol, sortCol)
  }

  /** Plain CREATE TABLE: publish an EMPTY manifest — the table exists,
    * readers see zero files, and the connector's append path fills it. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    val (statsCol, partitionCol, sortCol) = validateCreate(ident, schema, partitions, properties)
    val dir = dirOf(ident)
    if (java.nio.file.Files.exists(dir.resolve("_stats.jsonl")))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    java.nio.file.Files.createDirectories(dir)
    // CREATE TABLE ... DEFAULT lands exists-defaults in the schema
    // metadata (the declared capability) — stamp the protocol feature
    // here too, not just on ALTER (review r8): a default-blind reader
    // must refuse, never serve nulls where defaults belong
    val features =
      if (schema.fields.exists(_.metadata.contains(
          org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .EXISTS_DEFAULT_COLUMN_METADATA_KEY)))
        Seq(JsonlStats.FeatureColumnDefaults)
      else Nil
    JsonlStats.writeTableMeta(dir.toString, statsCol, partitionCol, schema,
      features = features, sortCol = sortCol)
    JsonlStats.publishManifest(dir.toString, java.util.UUID.randomUUID().toString, Seq.empty)
    new JsonlStatsTable(dir.toString, schema, statsCol, partitionCol, sortCol = sortCol)
  }

  /** Atomic CTAS: the staged write's data files are invisible until its
    * commit swaps the manifest — the connector's own commit point IS
    * the staging mechanism, so commitStagedChanges has nothing left to
    * do and an abort before the swap leaves no table. */
  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): StagedTable = {
    val (statsCol, partitionCol, sortCol) = validateCreate(ident, schema, partitions, properties)
    val dir = dirOf(ident)
    if (java.nio.file.Files.exists(dir.resolve("_stats.jsonl")))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    new GraftCatalog.StagedJsonlTable(dir, schema, statsCol, partitionCol, replace = false,
      sortCol = sortCol)
  }

  /** REPLACE/CREATE OR REPLACE AS SELECT: same staging, but the write
    * truncates — its commit publishes ONLY the new generation and GCs
    * the old files after the swap; until that instant readers keep
    * seeing the previous generation in full. */
  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String]): StagedTable = {
    if (!java.nio.file.Files.exists(dirOf(ident).resolve("_stats.jsonl")))
      throw new NoSuchTableException(ident)
    stageCreateOrReplace(ident, schema, partitions, properties)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String]): StagedTable = {
    val (statsCol, partitionCol, sortCol) = validateCreate(ident, schema, partitions, properties)
    new GraftCatalog.StagedJsonlTable(dirOf(ident), schema, statsCol, partitionCol,
      replace = true, sortCol = sortCol)
  }

  /** Schema evolution, metadata-only where that is SOUND: ADD COLUMN
    * rewrites the `_table.json` sidecar and touches no data file — the
    * reader surfaces absent JSON fields as SQL nulls (a connector law,
    * spec-pinned), so every pre-evolution row reads as null in the new
    * column and post-evolution appends carry it. Anything else (drop/
    * rename/retype) would change how EXISTING bytes are interpreted —
    * that is a new generation, published via REPLACE TABLE AS SELECT. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    // read-modify-write of the table sidecar: serialized against the
    // other in-JVM sidecar writer (the DV commit's feature stamp) so
    // neither clobbers the other's update (r8 review)
    JsonlStats.metaLock.synchronized { alterTableLocked(ident, changes) }

  private def alterTableLocked(ident: Identifier, changes: Seq[TableChange]): Table = {
    val dir = dirOf(ident)
    if (!java.nio.file.Files.exists(dir.resolve("_stats.jsonl")))
      throw new NoSuchTableException(ident)
    val meta0 = JsonlStats.readTableMeta(dir.toString)
    var meta = meta0
    var schema = meta.schema.getOrElse(JsonlStats.schema)
    var constraints = meta.constraints
    var mapping = meta.columnMapping
    var reserved = meta.reserved
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames().length != 1)
          throw new UnsupportedOperationException(s"$catName: nested ADD COLUMN unsupported")
        val col = add.fieldNames()(0)
        if (!JsonlStats.supportedType(add.dataType()))
          throw new UnsupportedOperationException(
            s"$catName: column $col type ${add.dataType().simpleString}; " +
              JsonlStats.supportedTypesMsg)
        if (schema.fieldNames.contains(col))
          throw new IllegalArgumentException(s"column $col already exists")
        // A renamed column still OWNS its physical JSON key: after
        // RENAME user_id->uid the mapping is uid->user_id, and a new
        // identity-mapped `user_id` column would read the renamed
        // column's bytes and collide with it on write. The physical
        // namespace is as reserved as the logical one.
        if (mapping.values.exists(_ == col))
          throw new IllegalArgumentException(
            s"column name $col is the physical field of a renamed column; " +
              "pick another name or rename the owner back first")
        // ... and a DROPPED column's physical key is reserved forever:
        // an identity-mapped re-ADD would resurrect its old bytes
        if (reserved.contains(col))
          throw new IllegalArgumentException(
            s"column name $col is the physical field of a DROPPED column; " +
              "old files still carry its bytes — pick another name")
        // DEFAULT values (r8): a LITERAL default lands in the schema
        // metadata under Spark's own keys — CURRENT_DEFAULT drives the
        // analyzer's INSERT-side fill (the capability above), and
        // EXISTS_DEFAULT is the INITIAL default the reader serves for
        // rows written before the column existed (absent JSON field;
        // an explicitly-written null stays null — the Iceberg/Delta
        // initial-default distinction). Only literals: an expression
        // default (current_timestamp()) would make old rows' values
        // depend on WHEN they were read, so it refuses loudly. A table
        // that ever grew an exists-default is readable only by
        // default-aware builds — protocol feature stamped below.
        val fieldMeta = Option(add.defaultValue()) match {
          case None => Metadata.empty
          case Some(d) =>
            val lit = d.getValue
            if (lit == null)
              throw new UnsupportedOperationException(
                s"$catName: column $col DEFAULT ${d.getSql} is not a literal; " +
                  "an expression default would re-evaluate per read — use a literal")
            val sql = lit.value() match {
              case null => "NULL"
              case s: org.apache.spark.unsafe.types.UTF8String =>
                // catalyst escape convention (backslash), matching what
                // Spark's Column round trip re-renders and what both
                // consumers (the reader's unescape, the analyzer's
                // INSERT-fill re-parse) decode — quote-doubling alone
                // leaves backslashes to be mis-decoded (review r8)
                "'" + s.toString.replace("\\", "\\\\").replace("'", "\\'") + "'"
              case v => v.toString
            }
            new MetadataBuilder()
              .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
                .CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
              .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
                .EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql)
              .build()
        }
        schema = schema.add(StructField(col, add.dataType(), nullable = true, fieldMeta))
      // CHECK constraints (r7c): metadata-only — Spark injects the
      // enforcement into write plans from Table.constraints(). Spark
      // pre-validates existing rows when the DDL asks (ENFORCED is the
      // default path: the engine runs the validation scan before
      // calling us with the change).
      case add: TableChange.AddConstraint =>
        add.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            if (constraints.exists(_._1.equalsIgnoreCase(c.name())))
              throw new IllegalArgumentException(s"constraint ${c.name()} already exists")
            constraints = constraints :+ (c.name() -> c.predicateSql())
          case other => throw new UnsupportedOperationException(
            s"$catName: only CHECK constraints are enforced here; " +
              s"${other.toDDL} is informational — track it in the warehouse catalog")
        }
      case drop: TableChange.DropConstraint =>
        if (!drop.ifExists() && !constraints.exists(_._1.equalsIgnoreCase(drop.name())))
          throw new IllegalArgumentException(s"no such constraint ${drop.name()}")
        constraints = constraints.filterNot(_._1.equalsIgnoreCase(drop.name()))
      // RENAME COLUMN (r7c — the Delta column-mapping idea): a pure
      // sidecar rewrite. The data bytes and the manifest's stats keys
      // keep the ORIGINAL (physical) name forever; the schema carries
      // the new logical name and `columnMapping` records logical →
      // physical, translated at the reader/writer/pruning boundaries.
      // Refused for the table's declared layout columns (stats/key/
      // bloom: the physical layout contract is named BY those columns)
      // and for columns a CHECK constraint references (its SQL names
      // the old column; silently rewriting predicates is how
      // constraints drift).
      case ren: TableChange.RenameColumn =>
        if (ren.fieldNames().length != 1)
          throw new UnsupportedOperationException(s"$catName: nested RENAME unsupported")
        val from = ren.fieldNames()(0)
        val to = ren.newName()
        if (!schema.fieldNames.contains(from))
          throw new IllegalArgumentException(s"no such column $from")
        if (schema.fieldNames.contains(to))
          throw new IllegalArgumentException(s"column $to already exists")
        // Same reservation as ADD COLUMN: `to` must not shadow a
        // physical field still owned by some OTHER renamed column.
        if (mapping.exists { case (log, phys) => log != from && phys == to })
          throw new IllegalArgumentException(
            s"column name $to is the physical field of a renamed column; " +
              "pick another name or rename the owner back first")
        if (reserved.contains(to))
          throw new IllegalArgumentException(
            s"column name $to is the physical field of a DROPPED column; " +
              "old files still carry its bytes — pick another name")
        val physical = mapping.getOrElse(from, from)
        val declared = Seq(meta.statsCol.getOrElse(JsonlStats.statsColumn)) ++
          meta.partitionCol.toSeq.flatMap(PartitionTransforms.parseMulti(_).map(_.col)) ++
          meta.bloomCol ++ meta.gramCol
        // match the LOGICAL name too (r9 review): a gram index declared
        // on an already-renamed column records the logical name, and
        // renaming it away would silently kill index maintenance
        if (declared.contains(physical) || declared.contains(from))
          throw new UnsupportedOperationException(
            s"$catName: cannot rename $from — it is the table's declared " +
              "stats/partition/bloom/gram column (the physical layout contract)")
        if (constraints.exists(_._2.contains(from)))
          throw new UnsupportedOperationException(
            s"$catName: cannot rename $from — a CHECK constraint references it; " +
              "drop the constraint first")
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
        mapping = (mapping - from) + (to -> physical)
      // DROP COLUMN (r8): a pure sidecar write, zero data IO — the
      // schema loses the field and the column's PHYSICAL JSON key joins
      // the reserved list forever (old files still carry its bytes; an
      // identity-mapped re-ADD of the name would resurrect them — the
      // reservation makes that refuse loudly). Readers are
      // schema-driven, so the dropped bytes are simply never parsed
      // again; manifest stats under the dropped physical name go
      // unconsulted and vanish at the next rewrite. Refused for the
      // declared layout columns and for constraint-referenced columns,
      // like RENAME. The sidecar is UNVERSIONED (stated since the
      // rename tier): snapshot reads see today's contract.
      case del: TableChange.DeleteColumn =>
        if (del.fieldNames().length != 1)
          throw new UnsupportedOperationException(s"$catName: nested DROP unsupported")
        val col = del.fieldNames()(0)
        if (!schema.fieldNames.contains(col)) {
          if (del.ifExists() != java.lang.Boolean.TRUE)
            throw new IllegalArgumentException(s"no such column $col")
        } else {
          if (schema.fields.length == 1)
            throw new UnsupportedOperationException(
              s"$catName: cannot drop $col — it is the table's only column")
          val physical = mapping.getOrElse(col, col)
          val declared = Seq(meta.statsCol.getOrElse(JsonlStats.statsColumn)) ++
            meta.partitionCol.toSeq.flatMap(PartitionTransforms.parseMulti(_).map(_.col)) ++
            meta.bloomCol ++ meta.gramCol
          if (declared.contains(physical) || declared.contains(col))
            throw new UnsupportedOperationException(
              s"$catName: cannot drop $col — it is the table's declared " +
                "stats/partition/bloom/gram column (the physical layout contract)")
          if (constraints.exists(_._2.contains(col)))
            throw new UnsupportedOperationException(
              s"$catName: cannot drop $col — a CHECK constraint references it; " +
                "drop the constraint first")
          schema = StructType(schema.fields.filterNot(_.name == col))
          mapping = mapping - col
          reserved = (reserved :+ physical).distinct
        }
      // ALTER TABLE ... SET TBLPROPERTIES (r12): the SQL route to the
      // TableMeta slots the engine's own queries used to poke through
      // writeTableMeta directly. Known properties route to their
      // slots with the same validation DDL applies elsewhere; an
      // unknown property REFUSES (a typo'd 'deleteMode' must not
      // silently become an inert bag entry). Layout-contract
      // properties (statsColumn, partitionColumn) refuse with a
      // pointer to the operation that CAN change them.
      case set: TableChange.SetProperty => (set.property(), set.value()) match {
        case ("deleteMode", v) =>
          require(v == "copy-on-write" || v == "merge-on-read",
            s"deleteMode must be copy-on-write | merge-on-read, got '$v'")
          meta = meta.copy(deleteMode = Some(v))
        case ("sortColumn", v) =>
          require(schema.fieldNames.contains(v),
            s"sortColumn '$v' is not a column of ${schema.fieldNames.mkString(", ")}")
          meta = meta.copy(sortCol = Some(v))
        case ("gramColumn", v) =>
          require(schema.fields.exists(f => f.name == v && f.dataType == StringType),
            s"gramColumn '$v' must be an existing string column")
          // declaring the column arms FUTURE writes; existing files
          // have no sidecar and stay conservatively unpruned until
          // CALL build_gram_index backfills them
          meta = meta.copy(gramCol = Some(v))
        case ("sampleMode", v) =>
          // TABLESAMPLE pushdown opt-in (r12b): 'system' declares that
          // sampling this table is FILE-level (block) sampling — the
          // DuckDB/Trino TABLESAMPLE SYSTEM semantics; without it the
          // scan declines the pushdown and Spark samples rows itself
          require(v == "system",
            s"sampleMode must be 'system' (file-level block sampling), got '$v'")
          meta = meta.copy(sampleMode = Some(v))
        case ("statsColumn" | "partitionColumn", _) =>
          throw new UnsupportedOperationException(
            s"$catName: ${set.property()} is the physical layout contract — " +
              "set it at CREATE, or CALL evolve_partition_spec for the partition transform")
        case (p, _) => throw new IllegalArgumentException(
          s"$catName: unknown table property '$p' — settable: deleteMode, " +
            "sortColumn, gramColumn, sampleMode")
      }
      case rm: TableChange.RemoveProperty => rm.property() match {
        case "deleteMode" => meta = meta.copy(deleteMode = None)
        case "sortColumn" => meta = meta.copy(sortCol = None)
        case "gramColumn" => meta = meta.copy(gramCol = None)
        case "sampleMode" => meta = meta.copy(sampleMode = None)
        case p => throw new IllegalArgumentException(
          s"$catName: unknown table property '$p' — unsettable: deleteMode, " +
            "sortColumn, gramColumn, sampleMode")
      }
      // SAFE TYPE PROMOTION (r12): a retype is metadata-only exactly
      // when every EXISTING byte reads correctly under the new type.
      // JSON text gives three such promotions (values are decimal
      // text, so re-parsing wider is exact): float -> double,
      // long -> decimal(>=20, 0) (decimal(20,0) holds every long),
      // decimal(p, s) -> decimal(p' >= p, s). Everything else —
      // including long -> double, which silently rounds magnitudes
      // past 2^53 — reinterprets bytes and stays refused. Stale
      // numeric bounds under a promoted column remain TRUE bounds
      // (values unchanged), so pruning stays sound; manifest-served
      // MIN/MAX pushdown simply declines non-long/double types.
      case upd: TableChange.UpdateColumnType =>
        if (upd.fieldNames().length != 1)
          throw new UnsupportedOperationException(s"$catName: nested retype unsupported")
        val col = upd.fieldNames()(0)
        val f = schema.fields.find(_.name == col).getOrElse(
          throw new IllegalArgumentException(s"no such column $col"))
        val ok = (f.dataType, upd.newDataType()) match {
          case (FloatType, DoubleType) => true
          case (LongType, d: DecimalType) => d.scale == 0 && d.precision >= 20
          case (a: DecimalType, b: DecimalType) =>
            b.scale == a.scale && b.precision >= a.precision
          case _ => false
        }
        if (!ok)
          throw new UnsupportedOperationException(
            s"$catName: unsafe retype of $col: ${f.dataType.simpleString} -> " +
              s"${upd.newDataType().simpleString} reinterprets existing bytes — safe " +
              "promotions are float->double, long->decimal(>=20,0) and " +
              "decimal(p,s)->decimal(p'>=p,s); anything else publishes a new " +
              "generation via REPLACE TABLE AS SELECT")
        // the declared layout columns' arithmetic is TYPE-directed
        // (bucket derivation reads getLong, stats pushdown serves
        // long/double bounds) — their physical contract refuses retype
        // like it refuses rename/drop
        val declaredT = Seq(meta.statsCol.getOrElse(JsonlStats.statsColumn)) ++
          meta.partitionCol.toSeq.flatMap(PartitionTransforms.parseMulti(_).map(_.col)) ++
          meta.bloomCol ++ meta.gramCol
        if (declaredT.contains(mapping.getOrElse(col, col)) || declaredT.contains(col))
          throw new UnsupportedOperationException(
            s"$catName: cannot retype $col — it is the table's declared " +
              "stats/partition/bloom/gram column (the physical layout contract)")
        schema = StructType(schema.fields.map(sf =>
          if (sf.name == col) sf.copy(dataType = upd.newDataType()) else sf))
      // nullability: every column of this format is physically nullable
      // (absent JSON fields read as SQL null), so RELAXING is pure
      // metadata; TIGHTENING would assert a fact about existing bytes
      // no metadata write can prove — add a CHECK constraint instead
      // (AddConstraint validates by scan).
      case upd: TableChange.UpdateColumnNullability =>
        if (upd.fieldNames().length != 1)
          throw new UnsupportedOperationException(s"$catName: nested column unsupported")
        val col = upd.fieldNames()(0)
        if (!schema.fieldNames.contains(col))
          throw new IllegalArgumentException(s"no such column $col")
        if (!upd.nullable())
          throw new UnsupportedOperationException(
            s"$catName: cannot mark $col NOT NULL by metadata alone — existing files " +
              "may hold nulls; add a CHECK ($col IS NOT NULL) constraint, which " +
              "validates by scan")
        schema = StructType(schema.fields.map(sf =>
          if (sf.name == col) sf.copy(nullable = true) else sf))
      case upd: TableChange.UpdateColumnComment =>
        if (upd.fieldNames().length != 1)
          throw new UnsupportedOperationException(s"$catName: nested column unsupported")
        val col = upd.fieldNames()(0)
        if (!schema.fieldNames.contains(col))
          throw new IllegalArgumentException(s"no such column $col")
        schema = StructType(schema.fields.map(sf =>
          if (sf.name == col) sf.withComment(upd.newComment()) else sf))
      case other => throw new UnsupportedOperationException(
        s"$catName: unsupported ALTER $other — retype reinterprets existing " +
          "bytes; publish a new generation via REPLACE TABLE AS SELECT")
    }
    // protocol stamps (r8): a table that ever grew a mapping or an
    // exists-default is READABLE only by builds that implement them
    val stamped = (meta.features ++
      (if (mapping.nonEmpty) Seq(JsonlStats.FeatureColumnMapping) else Nil) ++
      (if (schema.fields.exists(_.metadata.contains(
           org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
             .EXISTS_DEFAULT_COLUMN_METADATA_KEY)))
         Seq(JsonlStats.FeatureColumnDefaults) else Nil)).distinct
    JsonlStats.writeTableMeta(dir.toString,
      meta.copy(schema = Some(schema), constraints = constraints,
        columnMapping = mapping, features = stamped, reserved = reserved))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    val existed = java.nio.file.Files.exists(dir.resolve("_stats.jsonl"))
    if (existed) graft.util.Fs.deleteRecursively(dir.toString)
    existed
  }

  // ---- SupportsNamespaces (r12) ------------------------------------------
  // A namespace IS a directory under the warehouse root (nested allowed),
  // exactly the layout `dirOf`/`listTables` have resolved since r7 — this
  // wires the SQL verbs (CREATE/DROP/SHOW NAMESPACES, SHOW TABLES IN)
  // onto it. A directory holding `_stats.jsonl` is a TABLE, not a
  // namespace; `_`-prefixed entries are engine internals (history,
  // refs, staging debris). Namespace properties (comment/owner) land in
  // a `_namespace.json` sidecar so DESCRIBE NAMESPACE round-trips.
  private def nsDir(namespace: Array[String]): java.nio.file.Path =
    java.nio.file.Paths.get(root, namespace: _*)
  /** The namespace's directory — [[graft.plans.ResolveGraftViews]]
    * reads stored view definitions through this. */
  def namespaceDir(namespace: Array[String]): java.nio.file.Path = nsDir(namespace)
  private def isTableDir(p: java.nio.file.Path): Boolean =
    java.nio.file.Files.exists(p.resolve("_stats.jsonl"))
  private def isNamespaceDir(p: java.nio.file.Path): Boolean =
    java.nio.file.Files.isDirectory(p) && !isTableDir(p) &&
      !p.getFileName.toString.startsWith("_")
  private val nsMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || isNamespaceDir(nsDir(namespace))

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val base = nsDir(namespace)
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    if (!java.nio.file.Files.isDirectory(base)) return Array.empty
    val s = java.nio.file.Files.list(base)
    try s.iterator().asScala.filter(isNamespaceDir)
      .map(p => namespace :+ p.getFileName.toString).toArray
    finally s.close()
  }

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace) || namespace.isEmpty)
      throw new NoSuchNamespaceException(namespace)
    val p = nsDir(namespace).resolve("_namespace.json")
    val m = new java.util.HashMap[String, String]()
    if (java.nio.file.Files.exists(p)) {
      val n = nsMapper.readTree(java.nio.file.Files.readString(p))
      n.fields().asScala.foreach(e => m.put(e.getKey, e.getValue.asText()))
    }
    m
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    require(namespace.nonEmpty, s"$catName: namespace must be non-empty")
    require(!namespace.exists(_.startsWith("_")),
      s"$catName: namespace segments must not start with '_' (engine-internal prefix)")
    val dir = nsDir(namespace)
    if (isNamespaceDir(dir) || isTableDir(dir))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(namespace)
    java.nio.file.Files.createDirectories(dir)
    writeNsMeta(dir, metadata.asScala.toMap.filter(_._2 != null))
  }

  private def writeNsMeta(dir: java.nio.file.Path, props: Map[String, String]): Unit = {
    val n = nsMapper.createObjectNode()
    props.toSeq.sortBy(_._1).foreach { case (k, v) => n.put(k, v) }
    java.nio.file.Files.writeString(dir.resolve("_namespace.json"), n.toString)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace) || namespace.isEmpty)
      throw new NoSuchNamespaceException(namespace)
    var props = loadNamespaceMetadata(namespace).asScala.toMap
    changes.foreach {
      case set: NamespaceChange.SetProperty => props += (set.property() -> set.value())
      case rm: NamespaceChange.RemoveProperty => props -= rm.property()
      case other => throw new UnsupportedOperationException(
        s"$catName: unsupported namespace change $other")
    }
    writeNsMeta(nsDir(namespace), props)
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (namespace.isEmpty) return false
    val dir = nsDir(namespace)
    if (!isNamespaceDir(dir)) return false
    val hasContent = listTables(namespace).nonEmpty || listNamespaces(namespace).nonEmpty ||
      GraftViews.list(dir).nonEmpty // stored views are content too (r12b)
    if (hasContent && !cascade)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(namespace)
    graft.util.Fs.deleteRecursively(dir.toString)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catName: rename would break the path-addressed readers of the old name")

  // ---- ViewCatalog (r12b) --------------------------------------------
  // Persistent SQL views, stored as `_views/<name>.json` sidecars in
  // their namespace directory ([[GraftViews]]). These methods are the one
  // implementation of every view verb: SQL view DDL
  // ([[graft.plans.GraftViewDdlParser]]) and the view CALLs
  // ([[GraftProcedures]]) only call them. Spark 4.1 ships ViewCatalog as
  // an interface: no analyzer rule consults it, so a SELECT over a view
  // resolves through [[graft.plans.ResolveGraftViews]], which re-parses
  // the stored SQL with the stored catalog/namespace as context — the
  // view is a macro, and every scan capability (pushdown, file pruning,
  // runtime filtering) applies through it unchanged. Tables and views
  // share one identifier space by refusal: [[requireViewSlot]] refuses a
  // table's name, validateCreate refuses a view's
  // ([[GraftViews.requireValidName]] keeps both out of the
  // engine-internal `_` prefix).

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    GraftViews.list(nsDir(ns)).map(Identifier.of(ns, _)).toArray
  }

  override def loadView(ident: Identifier): View =
    GraftViews.read(nsDir(ident.namespace()), ident.name())
      .map(new GraftViews.GraftView(_))
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))

  override def viewExists(ident: Identifier): Boolean =
    GraftViews.exists(nsDir(ident.namespace()), ident.name())

  /** Where a view named `ident` may be published: a valid name in an
    * existing namespace, no table of that name (a view must never shadow
    * a table — the analyzer would answer SELECTs with whichever it
    * consults first, silently), and no view of that name unless
    * `replace`. Returns the definition being replaced. Materialized-view
    * creation ([[MvLifecycle.create]]) runs the same checks. */
  def requireViewSlot(ident: Identifier, replace: Boolean): Option[GraftViews.ViewDef] = {
    GraftViews.requireValidName(ident.name())
    if (!namespaceExists(ident.namespace()))
      throw new NoSuchNamespaceException(ident.namespace())
    if (isTableDir(dirOf(ident)))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    val existing = GraftViews.read(nsDir(ident.namespace()), ident.name())
    if (existing.isDefined && !replace)
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    existing
  }

  /** Properties under [[GraftViews.EnginePropPrefix]] are the engine's
    * MV bookkeeping (backing table, recorded versions, the refresh crash
    * marker): a caller who could set or remove one could, say, clear a
    * failed refresh's marker and make the next refresh double-count. */
  private def requireCallerProps(keys: Iterable[String]): Unit =
    keys.find(_.startsWith(GraftViews.EnginePropPrefix)).foreach { k =>
      throw new IllegalArgumentException(
        s"view property '$k' is reserved: '${GraftViews.EnginePropPrefix}*' " +
          "properties are written by the engine only")
    }

  override def createView(info: ViewInfo): View = publishView(info, replace = false)

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    if (!orCreate && !viewExists(info.ident()))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(info.ident())
    publishView(info, replace = true)
  }

  private def publishView(info: ViewInfo, replace: Boolean): View = {
    val ident = info.ident()
    val props = Option(info.properties()).map(_.asScala.toMap).getOrElse(Map.empty[String, String])
    requireCallerProps(props.keys)
    val replaced = requireViewSlot(ident, replace)
    // ATOMIC_MOVE (with REPLACE_EXISTING on replace): a concurrent reader
    // sees the old definition or the new one, never a torn file
    GraftViews.write(nsDir(ident.namespace()), GraftViews.ViewDef(
      name = ident.name(),
      sql = info.sql(),
      currentCatalog = info.currentCatalog(),
      currentNamespace = info.currentNamespace().toSeq,
      schema = info.schema(),
      queryColumnNames = Option(info.queryColumnNames()).map(_.toSeq).getOrElse(Seq.empty),
      columnAliases = Option(info.columnAliases()).map(_.toSeq).getOrElse(Seq.empty),
      columnComments = Option(info.columnComments()).map(_.toSeq.map(c => if (c == null) "" else c))
        .getOrElse(Seq.empty),
      properties = props), replace)
    // a replaced materialized view's tables go once the new sidecar is
    // published: a crash in between leaves orphans, never a dangling MV
    replaced.foreach(MvLifecycle.dropOwnedTables(nsDir(ident.namespace()), _))
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val d = GraftViews.read(nsDir(ident.namespace()), ident.name())
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident))
    var props = d.properties
    changes.foreach {
      case set: ViewChange.SetProperty =>
        requireCallerProps(Seq(set.property())); props += (set.property() -> set.value())
      case rm: ViewChange.RemoveProperty =>
        requireCallerProps(Seq(rm.property())); props -= rm.property()
      case other => throw new UnsupportedOperationException(
        s"$catName: unsupported view change $other")
    }
    GraftViews.write(nsDir(ident.namespace()), d.copy(properties = props), replace = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    GraftViews.read(nsDir(ident.namespace()), ident.name()).exists { defn =>
      // a view referenced by OTHER stored views must not vanish out from
      // under them — fail loudly naming every dependent (the alternative,
      // a nested view that errors at next read, debugs like a corruption)
      val dependents = GraftViews.referencingViews(
        s => org.apache.spark.sql.SparkSession.active.sessionState.sqlParser.parsePlan(s),
        root, ident.namespace().toSeq, ident.name())
      require(dependents.isEmpty,
        s"cannot drop view '${ident}': referenced by stored view(s) " +
          s"${dependents.mkString(", ")} — drop or redefine the dependents first")
      // a materialized view owns its backing table and any COUNT(DISTINCT)
      // liveness tables (r15): they go with the definition
      val dropped = GraftViews.drop(nsDir(ident.namespace()), ident.name())
      if (dropped) MvLifecycle.dropOwnedTables(nsDir(ident.namespace()), defn)
      dropped
    }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val d = GraftViews.read(nsDir(oldIdent.namespace()), oldIdent.name())
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent))
    requireViewSlot(newIdent, replace = false)
    // the stored definition's currentCatalog/currentNamespace stay —
    // the view's BODY still resolves exactly as written; only its
    // address moves (rename is an address operation, not a re-analysis).
    // A MATERIALIZED view owns its backing table (`_mv_<name>`, named
    // after the view and living in the view's namespace): the backing
    // moves WITH the definition, else a fresh read after the rename
    // would resolve a backing that no longer exists and a later drop
    // would delete an unrelated directory in the new namespace.
    // Manifest entries are table-root-relative (JsonlStats), so a
    // directory move is safe. Order: backing first, sidecar second —
    // a crash between the two leaves the OLD sidecar pointing at a
    // missing backing, which the resolution rule treats as stale
    // (body expansion), never a wrong answer.
    val renamed = GraftViews.moveMvBacking(
      nsDir(oldIdent.namespace()), nsDir(newIdent.namespace()), d, newIdent.name())
    GraftViews.write(nsDir(newIdent.namespace()), renamed.copy(name = newIdent.name()),
      replace = false)
    GraftViews.drop(nsDir(oldIdent.namespace()), oldIdent.name())
  }

  /** Time travel (r7): `VERSION AS OF K` reads the archived manifest
    * `_history/v{K}.jsonl` ([[JsonlStats.publishManifest]] archives
    * the outgoing generation at every commit); the live table is
    * the highest surviving archive + 1. Snapshots resolve to READ-ONLY
    * tables over the historical manifest — same scan machinery, frozen
    * file list. Superseded data files stay on disk (deferred GC, r7),
    * so EVERY archived generation reads correctly until
    * `CALL <cat>.vacuum(...)` expires it — after which both the
    * VERSION and TIMESTAMP paths fail loudly (the post-VACUUM
    * contract, enforced via the `_history/_vacuum.json` horizon). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    if (!java.nio.file.Files.exists(dir.resolve("_stats.jsonl")))
      throw new NoSuchTableException(ident)
    // refs (r9): `VERSION AS OF '<name>'` resolves a TAG (frozen
    // snapshot) or BRANCH (its current head) by name — the Iceberg
    // travel-to-ref idiom; numeric strings stay version numbers
    if (version.nonEmpty && !version.forall(_.isDigit)) {
      return Refs.resolveName(dir.toString, version) match {
        case Some(m) => snapshotTable(dir, m)
        case None =>
          val known = Refs.listRefs(dir.toString).map(r => s"${r.kind} '${r.name}'")
          throw new IllegalArgumentException(
            s"no ref '$version' on $ident" +
              (if (known.isEmpty) " (no refs exist)" else s" (refs: ${known.mkString(", ")})"))
      }
    }
    require(version.nonEmpty, s"version must be a positive integer or ref name, got ''")
    val v = version.toInt
    val current = JsonlStats.currentVersion(dir.toString)
    if (v == current) loadTable(ident)
    else if (v >= 1 && v < current) {
      val manifest = s"${JsonlStats.HistoryDir}/v$v.jsonl"
      // a vacuumed generation has no manifest left: fail with the
      // retention story, not a bare NoSuchFileException
      if (!java.nio.file.Files.exists(dir.resolve(manifest)))
        throw new IllegalArgumentException(
          s"version $v of $ident has been vacuumed (oldest available: " +
            s"${JsonlStats.readVacuumHorizon(dir.toString).map(_.minVersion).getOrElse(current)})")
      snapshotTable(dir, manifest)
    }
    else throw new IllegalArgumentException(
      s"no version $v of $ident (versions 1..$current)")
  }

  /** `TIMESTAMP AS OF T` (T in microseconds): version K was current
    * during [supersede(K−1), supersede(K)), and an archive file's
    * mtime IS its supersede instant — so the snapshot as of T is the
    * SMALLEST archived version superseded after T, else the live
    * table. A T before the first generation existed is an error. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (!java.nio.file.Files.exists(dir.resolve("_stats.jsonl")))
      throw new NoSuchTableException(ident)
    val tMillis = timestampMicros / 1000L
    // a T inside a VACUUMED generation's window must fail loudly: the
    // smallest surviving archive superseded after T would resolve, but
    // it was NOT the table's state at T (horizon = supersede instant
    // of the newest expired generation, recorded by VACUUM)
    JsonlStats.readVacuumHorizon(dir.toString).foreach { h =>
      if (tMillis < h.horizonMs)
        throw new IllegalArgumentException(
          s"timestamp $tMillis ms predates the vacuum horizon of $ident " +
            s"(${h.horizonMs} ms; oldest available version: ${h.minVersion})")
    }
    val afterT = JsonlStats.historyVersions(dir.toString).filter { k =>
      java.nio.file.Files.getLastModifiedTime(
        dir.resolve(s"${JsonlStats.HistoryDir}/v$k.jsonl")).toMillis > tMillis
    }
    afterT.minOption match {
      case Some(k) => snapshotTable(dir, s"${JsonlStats.HistoryDir}/v$k.jsonl")
      case None => loadTable(ident) // T is within the live generation
    }
  }

  private def snapshotTable(dir: java.nio.file.Path, manifest: String): Table = {
    val meta = JsonlStats.readTableMeta(dir.toString)
    // the CURRENT mapping applies to snapshots too: the sidecar is
    // table-level, and physical names never change — a rename after
    // the snapshot only relabels the logical view of the same bytes
    new JsonlStatsTable(dir.toString,
      meta.schema.getOrElse(JsonlStats.schema),
      meta.statsCol.getOrElse(JsonlStats.statsColumn),
      meta.partitionCol, manifest, meta.bloomCol,
      columnMapping = meta.columnMapping)
  }

  /** Maintenance procedures (`ProcedureCatalog`): CALL-addressable
    * table services — `CALL <cat>.compact('<table>', <target_bytes>)`
    * bin-packs small data files. Lookup and discovery both read the one
    * procedure table, [[GraftProcedures.all]]. */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.all.get(ident.name()).filter(_ => ident.namespace().isEmpty)
      .map(new GraftProcedures.ProcAdapter(_, GraftProcedures.ProcCtx(this)))
      .getOrElse(throw new RuntimeException(s"no such procedure $ident in $catName"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) GraftProcedures.all.keys.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) GraftCatalog.Functions.keys.map(Identifier.of(namespace, _)).toArray
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftCatalog.Functions.getOrElse(ident.name(), throw new NoSuchFunctionException(ident))
}

object GraftCatalog {

  /** catalog name → warehouse root, recorded at [[initialize]] — the
    * lookup [[graft.plans.CatalogMvRewrite]] uses to map a table's root
    * path back to its owning catalog without guessing at the
    * CatalogManager's registration listing. Names re-registered with a
    * new root overwrite (latest wins, matching session conf). */
  private[graft] val registeredRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def rootsSnapshot: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    registeredRoots.asScala.toSeq
  }

  /** A view definition from its body's text — what SQL `CREATE VIEW`,
    * `CALL create_view` and any API caller hand to [[GraftCatalog]]'s
    * createView/replaceView. The body is analyzed NOW, in `spark`
    * (schema capture, and a loud create-time failure for a body that
    * does not resolve), and the session's current catalog and namespace
    * are stored as the context the body re-resolves in. `columns` — the
    * `CREATE VIEW v (a COMMENT '...', b)` list — renames the body's
    * output positionally: the schema and aliases carry the visible
    * names, queryColumnNames the body's (what the expansion projects
    * by). `comment` lands in the `comment` property. */
  def viewInfo(spark: org.apache.spark.sql.SparkSession, ident: Identifier, sql: String,
               columns: Seq[(String, Option[String])], comment: Option[String],
               properties: Map[String, String]): ViewInfo = {
    val schema = spark.sql(sql).schema
    require(schema.fieldNames.toSeq.distinct.size == schema.size,
      s"view body output has duplicate column names " +
        s"(${schema.fieldNames.mkString(", ")}) — alias them apart")
    val names = columns.map(_._1)
    require(columns.isEmpty || names.size == schema.size,
      s"column list has ${names.size} names but the view body produces " +
        s"${schema.size} columns (${schema.fieldNames.mkString(", ")})")
    require(names.forall(_.nonEmpty) && names.distinct.size == names.size,
      s"view column list must be distinct non-empty names: ${names.mkString(", ")}")
    val visible =
      if (columns.isEmpty) schema
      else StructType(schema.fields.zip(names).map { case (f, a) => f.copy(name = a) })
    val cm = spark.sessionState.catalogManager
    new ViewInfo(ident, sql, cm.currentCatalog.name(), cm.currentNamespace,
      visible, schema.fieldNames, visible.fieldNames,
      if (columns.exists(_._2.isDefined)) columns.map(_._2.orNull).toArray else Array.empty[String],
      (properties ++ comment.map("comment" -> _)).asJava)
  }

  /** The catalog's functions by name; `loadFunction` and
    * `listFunctions` both answer from this one map. */
  private lazy val Functions: Map[String, UnboundFunction] =
    scala.collection.immutable.ListMap(
      Seq(SqNorm, BucketFn, VecCellFn, VecNormFn, MapGetFn).map(f => f.name() -> f): _*)

  /** The staged side of an atomic CTAS/RTAS. Data files land in the
    * final directory under attempt-unique names but are INVISIBLE until
    * the batch write's commit swaps the manifest (readers trust only
    * `_stats.jsonl`) — so the staging protocol needs no temp directory
    * and no rename of data files:
    *   - commitStagedChanges: nothing left to do — the manifest swap
    *     already happened inside the V2 write commit this staged table
    *     handed out. A crash between the two leaves a fully valid table.
    *   - abortStagedChanges: if no manifest ever landed (fresh CTAS
    *     aborted), remove the directory; on an aborted REPLACE the old
    *     manifest still governs and the task-level aborts already
    *     removed their files — the previous generation is untouched. */
  private[sources] class StagedJsonlTable(dir: java.nio.file.Path, tableSchema: StructType,
                                          statsCol: String, partitionCol: Option[String],
                                          replace: Boolean,
                                          sortCol: Option[String] = None)
      extends StagedTable with SupportsWrite {
    java.nio.file.Files.createDirectories(dir)
    private val hadManifest = java.nio.file.Files.exists(dir.resolve("_stats.jsonl"))

    override def name(): String = s"graft-jsonl-stats($dir, staged)"
    override def schema(): StructType = tableSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

    override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
        org.apache.spark.sql.connector.write.WriteBuilder = {
      val wb = new JsonlWriteBuilder(dir.toString, info.schema(), info.queryId(),
        statsCol, partitionCol, sortCol = sortCol)
      if (replace) wb.truncate() else wb
    }

    override def commitStagedChanges(): Unit = ()
    override def abortStagedChanges(): Unit =
      if (!hadManifest && !java.nio.file.Files.exists(dir.resolve("_stats.jsonl")))
        graft.util.Fs.deleteRecursively(dir.toString)
  }

  /** Exact squared-norm accumulation shared by both invocation paths:
    * double products rounded to DECIMAL(38,25) each, summed exactly
    * (order-free), then QUANTIZED to 9 dp before the double conversion —
    * a >17-sig-digit decimal's nearest double can differ by one ulp
    * between engines, so the result is first rounded to a ≤13-sig-digit
    * grid every double represents exactly (the q117/q137 discipline). */
  private def sqNormExact(a: ArrayData): Double = {
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val x = a.getFloat(i).toDouble
      // valueOf (toString-canonical), NOT new BigDecimal (exact binary
      // expansion): Spark's double->decimal cast is canonical-based, and
      // the 25th decimal of the binary expansion can differ from it
      acc = acc.add(java.math.BigDecimal.valueOf(x * x)
        .setScale(25, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    acc.setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  object SqNorm extends UnboundFunction {
    override def name(): String = "sqnorm"
    override def description(): String =
      "sqnorm(array<float>) -> double: exact decimal-summed squared L2 norm"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 1 &&
        inputType.fields(0).dataType == ArrayType(FloatType),
        s"sqnorm expects (array<float>), got $inputType")
      SqNormBound
    }
  }

  /** V2 `bucket` function (r9): what lets Spark RESOLVE the bucket
    * transform a hidden layout reports in its `KeyGroupedPartitioning`
    * — storage-partitioned joins compare both sides' transforms via
    * this function's `canonicalName` and can evaluate it if one side
    * needs re-bucketing. The derivation is the single shared
    * definition in [[PartitionTransforms]] (writer, pruner and join
    * alignment must agree bit-for-bit or files and probes part ways). */
  object BucketFn extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n, col): hidden-partitioning bucket id (engine-stable hash mod n)"
    override def bind(inputType: StructType): BoundFunction =
      inputType.fields.map(_.dataType) match {
        case Array(IntegerType | LongType, LongType)   => BucketLongBound
        case Array(IntegerType | LongType, StringType) => BucketStringBound
        case other => throw new UnsupportedOperationException(
          s"bucket expects (int, long|string), got ${other.mkString(", ")}")
      }
  }

  /** MISMATCHED bucket counts still join shuffle-free
    * ([[functions.ReducibleFunction]], r9): because the derivation is
    * `hash mod N`, `(h mod 16) mod 8 == h mod 8` whenever 8 | 16 — the
    * finer side's ids REDUCE onto the coarser side's, so Spark aligns
    * a bucket(16) fact with a bucket(8) dim by coalescing fine groups
    * instead of shuffling either table
    * (`spark.sql.sources.v2.bucketing.allowCompatibleTransforms`). */
  /** Serializable: reducers ship inside the join tasks. */
  private case class BucketCoalesce(otherN: Int)
      extends Reducer[Integer, Integer] with Serializable {
    override def reduce(i: Integer): Integer = Int.box(i % otherN)
  }

  private def bucketReducer(self: AnyRef, thisN: Int, other: ReducibleFunction[_, _],
                            otherN: Int): Reducer[Integer, Integer] =
    if ((other eq self) && thisN > otherN && thisN % otherN == 0) BucketCoalesce(otherN)
    else null

  object BucketLongBound extends ScalarFunction[Integer]
      with ReducibleFunction[Integer, Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket(long)"
    override def isResultNullable: Boolean = false
    def invoke(n: Int, v: Long): Int = PartitionTransforms.bucketLong(n, v)
    override def produceResult(input: InternalRow): Integer =
      PartitionTransforms.bucketLong(input.getInt(0), input.getLong(1))
    override def reducer(thisN: Int, other: ReducibleFunction[_, _],
                         otherN: Int): Reducer[Integer, Integer] =
      bucketReducer(this, thisN, other, otherN)
  }

  object BucketStringBound extends ScalarFunction[Integer]
      with ReducibleFunction[Integer, Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket(string)"
    override def isResultNullable: Boolean = false
    def invoke(n: Int, v: org.apache.spark.unsafe.types.UTF8String): Int =
      PartitionTransforms.bucketString(n, v.toString)
    override def produceResult(input: InternalRow): Integer =
      PartitionTransforms.bucketString(input.getInt(0), input.getUTF8String(1).toString)
    override def reducer(thisN: Int, other: ReducibleFunction[_, _],
                         otherN: Int): Reducer[Integer, Integer] =
      bucketReducer(this, thisN, other, otherN)
  }

  /** `graft_cell(vec)` / `graft_norm(vec)` (r12): the vector file
    * statistics' derivations as V2 catalog functions. The point is the
    * PUSHDOWN contract: a predicate like `graft_cell(emb) IN (1,5,9)`
    * or `graft_norm(emb) BETWEEN lo AND hi` reaches the scan builder
    * as a `UserDefinedScalarFunc` V2 predicate (this canonicalName),
    * the planner derives the probe set/band FROM that pushed predicate
    * against the per-file `#cell` bitmap / `#norm` bounds, and Spark
    * still evaluates the same function over the surviving rows — the
    * pruning can never under-cover the filter because both sides are
    * one arithmetic ([[JsonlStats.vecCellOf]]/[[JsonlStats.vecNormOf]]).
    * Replaces the r11 trust-me `vecCells`/`vecNorm` scan options. */
  object VecCellFn extends UnboundFunction {
    override def name(): String = "graft_cell"
    override def description(): String =
      "graft_cell(array<float|double>) -> int: 6-bit sign-cell coarse code (pushdown-prunable)"
    override def bind(inputType: StructType): BoundFunction =
      inputType.fields.map(_.dataType) match {
        case Array(ArrayType(FloatType, _))  => CellFloatBound
        case Array(ArrayType(DoubleType, _)) => CellDoubleBound
        case other => throw new UnsupportedOperationException(
          s"graft_cell expects (array<float|double>), got ${other.mkString(", ")}")
      }
  }
  object VecNormFn extends UnboundFunction {
    override def name(): String = "graft_norm"
    override def description(): String =
      "graft_norm(array<float|double>) -> double: L2 norm (pushdown-prunable)"
    override def bind(inputType: StructType): BoundFunction =
      inputType.fields.map(_.dataType) match {
        case Array(ArrayType(FloatType, _))  => NormFloatBound
        case Array(ArrayType(DoubleType, _)) => NormDoubleBound
        case other => throw new UnsupportedOperationException(
          s"graft_norm expects (array<float|double>), got ${other.mkString(", ")}")
      }
  }
  /** One canonical name per function — float and double bounds share
    * it, and the scan builder matches pushed predicates BY it. */
  val CellCanonical = "graft.graft_cell"
  val NormCanonical = "graft.graft_norm"
  val MapGetCanonical = "graft.graft_map_get"

  /** `graft_map_get(map, key)` (r13): string-keyed map access with
    * Spark's own `m[k]` semantics (null on a missing key, null value
    * passes through, null map/key gives null), as a V2 catalog
    * function so predicates over it PUSH — the same contract as
    * `graft_cell`/`graft_norm`. Queries rarely write it by hand:
    * [[graft.plans.MapKeyPushdown]] rewrites `m['k'] cmp v` filter
    * conjuncts over graft relations into it, so the map-key file
    * statistics prune from the very predicate Spark evaluates. */
  object MapGetFn extends UnboundFunction {
    override def name(): String = "graft_map_get"
    override def description(): String =
      "graft_map_get(map<string,V>, key) -> V: map access (pushdown-prunable)"
    override def bind(inputType: StructType): BoundFunction =
      inputType.fields.map(_.dataType) match {
        case Array(MapType(StringType, vt, _), StringType) => MapGetBound(vt)
        case other => throw new UnsupportedOperationException(
          s"graft_map_get expects (map<string,V>, string), got ${other.mkString(", ")}")
      }
  }

  final case class MapGetBound(vt: DataType) extends ScalarFunction[AnyRef] {
    override def inputTypes(): Array[DataType] = Array(MapType(StringType, vt), StringType)
    override def resultType(): DataType = vt
    override def name(): String = "graft_map_get"
    override def canonicalName(): String = MapGetCanonical
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): AnyRef = {
      if (input.isNullAt(0) || input.isNullAt(1)) return null
      val m = input.getMap(0)
      val k = input.getUTF8String(1)
      val ks = m.keyArray(); val vs = m.valueArray()
      var j = 0
      while (j < m.numElements()) {
        if (ks.getUTF8String(j) == k) {
          if (vs.isNullAt(j)) return null
          return vt match {
            case LongType => java.lang.Long.valueOf(vs.getLong(j))
            case IntegerType => java.lang.Integer.valueOf(vs.getInt(j))
            case DoubleType => java.lang.Double.valueOf(vs.getDouble(j))
            case FloatType => java.lang.Float.valueOf(vs.getFloat(j))
            case TimestampType | TimestampNTZType => java.lang.Long.valueOf(vs.getLong(j))
            case DateType => java.lang.Integer.valueOf(vs.getInt(j))
            case StringType => vs.getUTF8String(j)
            case BooleanType => java.lang.Boolean.valueOf(vs.getBoolean(j))
            case dt: DecimalType => vs.getDecimal(j, dt.precision, dt.scale)
            case other => throw new UnsupportedOperationException(
              s"graft_map_get value type $other")
          }
        }
        j += 1
      }
      null
    }
  }
  object CellFloatBound extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(ArrayType(FloatType))
    override def resultType(): DataType = IntegerType
    override def name(): String = "graft_cell"
    override def canonicalName(): String = CellCanonical
    override def isResultNullable: Boolean = false
    def invoke(a: ArrayData): Int = JsonlStats.vecCellOf(a, isFloat = true)
    override def produceResult(input: InternalRow): Integer =
      JsonlStats.vecCellOf(input.getArray(0), isFloat = true)
  }
  object CellDoubleBound extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(ArrayType(DoubleType))
    override def resultType(): DataType = IntegerType
    override def name(): String = "graft_cell"
    override def canonicalName(): String = CellCanonical
    override def isResultNullable: Boolean = false
    def invoke(a: ArrayData): Int = JsonlStats.vecCellOf(a, isFloat = false)
    override def produceResult(input: InternalRow): Integer =
      JsonlStats.vecCellOf(input.getArray(0), isFloat = false)
  }
  object NormFloatBound extends ScalarFunction[Double] {
    override def inputTypes(): Array[DataType] = Array(ArrayType(FloatType))
    override def resultType(): DataType = DoubleType
    override def name(): String = "graft_norm"
    override def canonicalName(): String = NormCanonical
    override def isResultNullable: Boolean = false
    def invoke(a: ArrayData): Double = JsonlStats.vecNormOf(a, isFloat = true)
    override def produceResult(input: InternalRow): Double =
      JsonlStats.vecNormOf(input.getArray(0), isFloat = true)
  }
  object NormDoubleBound extends ScalarFunction[Double] {
    override def inputTypes(): Array[DataType] = Array(ArrayType(DoubleType))
    override def resultType(): DataType = DoubleType
    override def name(): String = "graft_norm"
    override def canonicalName(): String = NormCanonical
    override def isResultNullable: Boolean = false
    def invoke(a: ArrayData): Double = JsonlStats.vecNormOf(a, isFloat = false)
    override def produceResult(input: InternalRow): Double =
      JsonlStats.vecNormOf(input.getArray(0), isFloat = false)
  }

  object SqNormBound extends ScalarFunction[Double] {
    override def inputTypes(): Array[DataType] = Array(ArrayType(FloatType))
    override def resultType(): DataType = DoubleType
    override def name(): String = "sqnorm"
    override def canonicalName(): String = "graft.sqnorm"
    override def isResultNullable: Boolean = false
    /** Magic method — bound by codegen as an Invoke, no row boxing. */
    def invoke(a: ArrayData): Double = sqNormExact(a)
    /** Reflective fallback path. */
    override def produceResult(input: InternalRow): Double =
      sqNormExact(input.getArray(0))
  }
}

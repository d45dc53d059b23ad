package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Stored procedures for [[GraftCatalog]] (`ProcedureCatalog`, Spark 4's
  * V2 procedure API): table MAINTENANCE addressed as SQL —
  * `CALL <catalog>.compact('<table>', <target_bytes>)` — the Iceberg
  * `rewrite_data_files` shape on this engine's manifest protocol.
  *
  * Every procedure is one [[Proc]] entry of the table [[all]]: name,
  * parameters, result schema and body. One adapter, [[ProcAdapter]],
  * serves any entry to Spark, and the catalog's procedure lookup and
  * listing both read the table.
  *
  * Compaction is the inverse pressure of the reader's byte-range
  * splits: splits keep one oversized file from becoming one task, while
  * compaction keeps a thousand undersized files (a streaming ingest's
  * natural output) from costing a thousand task launches and manifest
  * entries. Together they bound task size from both ends.
  *
  * Compaction parses no row, save in the runaway-run bins [[Bin]]
  * describes: JSONL is concatenation-safe, so a bin of small files
  * becomes one file by STREAMING BYTE COPY (the engine guarantees
  * newline-terminated data files; a missing trailing newline is patched
  * during the copy), and the merged manifest entry is derived from the
  * members' entries — bounds = min/max of member bounds, rows = sum of
  * member counts, pkey preserved (bins never cross keys, so a compacted
  * key-grouped table keeps its SPJ layout).
  * Bins copy in parallel as one Spark job; the manifest swap is the
  * commit, so a crash mid-copy leaves invisible orphans and the old
  * generation intact; member files are GC'd only after the swap.
  *
  * Interplay caveats, stated rather than hidden: the streaming source
  * treats a compacted output file as NEW (its offset is the manifested
  * file set), so a drain that already consumed the members would
  * re-deliver their rows — run compaction between drains or behind an
  * idempotent/dedup sink, exactly Delta's guidance for OPTIMIZE under
  * a streaming reader. Compaction publishes a generation like any
  * write; its members stay on disk for the archived snapshots that
  * reference them until [[vacuum]] expires those (deferred GC, r7). */
object GraftProcedures {

  /** One compaction bin: its member entries, in concat order, and the
    * merged output file. `entry` is the merged manifest entry derived
    * from the members' entries when the bin is a pure byte concat. It is
    * None when the bin's coalesced run list crossed
    * [[JsonlStats.MaxRunsPerEntry]] (r12): the bin then rewrites its rows
    * through [[rewriteRows]], which materializes lineage in-row, and
    * publishes the sink's entry (frid = -2, zero runs). */
  private final case class Bin(members: Seq[JsonlStats.FileStats], out: String,
                               entry: Option[JsonlStats.FileStats])

  /** What a procedure body sees besides its arguments: the catalog it
    * was called through, its name and its warehouse root. */
  final case class ProcCtx(cat: GraftCatalog) {
    def catalog: String = cat.name()
    def root: String = cat.warehouseRoot
  }

  /** One CALL procedure: its name, a usage line, its parameters (names,
    * types and defaults as CALL binds them), its result schema, and a
    * body that turns the bound arguments into result rows. */
  final case class Proc(name: String, usage: String, params: Seq[ProcedureParameter],
                        schema: StructType, body: (ProcCtx, InternalRow) => Seq[InternalRow])

  /** Spark's procedure API for any [[Proc]]. The parameters do not
    * depend on the input type, so binding is the identity; the rows
    * come back through [[rowsScan]]. */
  final class ProcAdapter(p: Proc, ctx: ProcCtx) extends UnboundProcedure with BoundProcedure {
    override def name(): String = p.name
    override def description(): String = p.usage
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = p.params.toArray
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      java.util.List.of(rowsScan(p.schema, p.body(ctx, input).toArray, s"CALL ${p.name}")).iterator()
  }

  /** The engine's one in-memory result set: procedure results and the
    * metadata tables ([[MetaTables]]) are both served by it. */
  private[sources] def rowsScan(schema: StructType, result: Array[InternalRow], desc: String): Scan =
    new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = result
      override def description(): String = desc
    }

  /** A table's directory under the warehouse root; refuses a name with
    * no manifest. */
  private def tableDir(root: String, table: String): Path = {
    val dir = Paths.get(root, table)
    require(Files.exists(dir.resolve("_stats.jsonl")), s"no such table $table under $root")
    dir
  }

  private def arg(name: String, t: DataType): ProcedureParameter = ProcedureParameter.in(name, t).build()
  private def arg(name: String, t: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, t).defaultValue(default).build()
  private def field(name: String, t: DataType, nullable: Boolean = false): StructField =
    StructField(name, t, nullable)
  private def strings(names: String*): StructType =
    StructType(names.map(StructField(_, StringType, nullable = false)))
  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  /** One result row of string columns. */
  private[sources] def stringRow(values: String*): Seq[InternalRow] =
    Seq(InternalRow(values.map(utf8): _*))
  private def str(row: InternalRow, i: Int): String = row.getUTF8String(i).toString
  /** An optional string argument: `''` (or null) means absent. */
  private def optStr(row: InternalRow, i: Int): Option[String] =
    Option(row.getUTF8String(i)).map(_.toString).filter(_.nonEmpty)
  private def txnId(prefix: String): String =
    s"$prefix-${java.util.UUID.randomUUID().toString.take(8)}"

  /** REF management (r9, [[Refs]]) — one shape for the seven verbs.
    * `create_tag(table, name[, version])` pins a snapshot (live by
    * default, or `VERSION AS OF version`); `create_branch(table, name)`
    * forks the live manifest for staged writes
    * (`INSERT INTO <cat>.<table>.branch_<name> …`);
    * `fast_forward(table, name)` is the PUBLISH half of
    * write-audit-publish — one OCC commit that conflicts loudly if main
    * diverged since the fork; the drop verbs delete the ref file (its
    * exclusively-staged data files become age-gated vacuum orphans).
    * Returns (ref, action, version): version = the pinned/fork/
    * superseded generation (0 for drops). */
  private def refProc(verb: String, usage: String, params: Seq[ProcedureParameter],
                      refOf: InternalRow => String = str(_, 1))
                     (op: (String, String, InternalRow) => Int): Proc =
    Proc(verb, usage, params,
      StructType(Seq(field("ref", StringType), field("action", StringType),
        field("version", IntegerType))),
      (ctx, row) => {
        val table = str(row, 0)
        val ref = refOf(row)
        val version = op(tableDir(ctx.root, table).toString, ref, row)
        Seq(InternalRow(utf8(ref), utf8(verb), version))
      })

  /** Every CALL procedure, by name. [[GraftCatalog]]'s `loadProcedure`
    * and `listProcedures` both answer from this one table. */
  lazy val all: Map[String, Proc] = {
    val procs = Seq(
      // small-file bin-packing, the Iceberg `rewrite_data_files` shape
      // (see the object doc)
      Proc("compact",
        "compact(table, target_bytes): bin-pack small data files into target-sized ones",
        Seq(arg("table", StringType),
          arg("target_bytes", LongType, JsonlStats.DefaultSplitBytes.toString),
          // SCOPED maintenance (r9c, the Delta `OPTIMIZE ... WHERE` shape):
          // '' = whole table; a partition value compacts only files whose
          // manifest pkey equals it — at 100 TB you compact yesterday's
          // partition, never the table
          arg("partition", StringType, "''")),
        StructType(Seq(field("files_before", IntegerType), field("files_after", IntegerType),
          field("files_merged", IntegerType))),
        (ctx, row) => {
          val table = str(row, 0)
          val target = row.getLong(1)
          require(target > 0, s"target_bytes must be positive, got $target")
          val part = optStr(row, 2)
          val (before, after, merged) = compact(tableDir(ctx.root, table).toString, target, part)
          Seq(InternalRow(before, after, merged))
        }),

      // OPTIMIZE ZORDER BY for the manifest protocol. Unlike [[compact]]
      // (a byte-level repack that never parses a row), zorder is a full
      // REWRITE: rows are re-bucketed by the Morton interleave of the two
      // named columns' 256-rank range buckets and re-written range-
      // partitioned + sorted by that z-value, so each output file covers a
      // compact z-cell run. The payoff is pure synergy with the r7b
      // per-column manifest stats: a z-clustered file has TIGHT bounds on
      // BOTH dimensions at once, so an ordinary 2-D box predicate prunes
      // ≈ the product of the selectivities from the manifest alone — no
      // z-cell arithmetic, no bounds artifact, no special read path: the
      // manifest IS the index and plain range predicates do the work
      // (q122, q190). Either dimension may be a number, a DATE or a
      // timestamp.
      Proc("zorder",
        "zorder(table, col_a, col_b, target_bytes): rewrite data files clustered by the Morton interleave of two columns",
        Seq(arg("table", StringType), arg("col_a", StringType), arg("col_b", StringType),
          arg("target_bytes", LongType, JsonlStats.DefaultSplitBytes.toString),
          // SCOPED maintenance (r12, the `OPTIMIZE ... WHERE` shape): '' =
          // whole table (unkeyed layouts only); a partition value
          // re-clusters ONE pkey's files — at 100 TB you zorder
          // yesterday's partition after it closes, never the table
          arg("partition", StringType, "''")),
        StructType(Seq(field("files_before", IntegerType), field("files_after", IntegerType),
          field("n_rows", LongType))),
        (ctx, row) => {
          val table = str(row, 0)
          val (colA, colB) = (str(row, 1), str(row, 2))
          val target = row.getLong(3)
          require(target > 0, s"target_bytes must be positive, got $target")
          val part = optStr(row, 4)
          val (before, after, rows) =
            zorder(tableDir(ctx.root, table).toString, colA, colB, target, part)
          Seq(InternalRow(before, after, rows))
        }),

      // Iceberg's `rewrite_position_delete_files` / DV major compaction:
      // every data file carrying deletion vectors is rewritten WITHOUT its
      // masked rows, its stats recomputed from the survivors (fresh
      // attained bounds — re-arming the MIN/MAX pushdown that DVs had
      // declined), and the manifest swap replaces entry + DVs in one
      // commit. Clean files regain byte-range splittability and
      // compaction eligibility. One task per DV'd file (metadata-bounded
      // task list, like [[compact]]); untouched files never read. Old
      // files + DVs stay on disk for archived snapshots (deferred GC).
      Proc("rewrite_deletes",
        "rewrite_deletes(table): collapse deletion vectors into clean rewritten data files",
        Seq(arg("table", StringType)),
        StructType(Seq(field("files_rewritten", IntegerType), field("dvs_collapsed", IntegerType),
          field("rows_dropped", LongType))),
        (ctx, row) => {
          val (rewritten, dvsDropped, rowsDropped) =
            rewriteDeletes(tableDir(ctx.root, str(row, 0)).toString)
          Seq(InternalRow(rewritten, dvsDropped, rowsDropped))
        }),

      Proc("detail",
        "detail(table): one-row table report — version, files, rows, deletes, bytes",
        Seq(arg("table", StringType)),
        StructType(Seq(
          field("version", IntegerType),
          field("n_files", IntegerType),
          field("n_rows_physical", LongType, nullable = true),
          field("n_rows_live", LongType, nullable = true),
          field("n_files_with_dvs", IntegerType),
          field("n_rows_masked", LongType),
          field("live_bytes", LongType),
          field("key_grouped", BooleanType),
          field("stats_column", StringType),
          field("n_oversized_no_ckpts", IntegerType),
          field("partition_spec", StringType, nullable = true),
          field("spec_uniform", BooleanType),
          field("gram_column", StringType, nullable = true),
          field("n_delta_snapshots", IntegerType))),
        (ctx, row) => Seq(detail(tableDir(ctx.root, str(row, 0))))),

      // The deletion point of the deferred-GC protocol (Delta VACUUM /
      // Iceberg `expire_snapshots` + `remove_orphan_files` in one
      // service). `retain_last` counts VERSIONS kept including the live
      // one (default 2 = live + newest archive); `orphan_grace_ms` guards
      // the unreferenced-file sweep (default 7 days — an in-flight
      // write's uncommitted task files look exactly like crash orphans,
      // and only AGE distinguishes them; tests pass 0 on quiesced tables).
      Proc("vacuum",
        "vacuum(table, retain_last, orphan_grace_ms): expire old snapshots and GC their files",
        Seq(arg("table", StringType), arg("retain_last", IntegerType, "2"),
          arg("orphan_grace_ms", LongType, (7L * 24 * 3600 * 1000).toString)),
        StructType(Seq(field("expired_versions", IntegerType),
          field("data_files_deleted", IntegerType), field("orphan_files_deleted", IntegerType),
          field("oldest_retained_version", IntegerType))),
        (ctx, row) => {
          val table = str(row, 0)
          val retain = row.getInt(1)
          val grace = row.getLong(2)
          require(retain >= 1, s"retain_last must be >= 1, got $retain")
          require(grace >= 0, s"orphan_grace_ms must be >= 0, got $grace")
          val (expired, dataDeleted, orphans, oldest) =
            vacuum(tableDir(ctx.root, table).toString, retain, grace)
          Seq(InternalRow(expired, dataDeleted, orphans, oldest))
        }),

      // The dev/test-sandbox idiom (Delta SHALLOW CLONE): a new table
      // whose manifest lists the source's CURRENT data files,
      // materialized as HARD LINKS — zero bytes copied, metadata-bounded
      // work. The immutable-data-file contract makes this safe with no
      // refcounting of its own: neither table ever modifies a shared file
      // (every write path publishes new names), and when one side's
      // VACUUM unlinks its link the filesystem's link count keeps the
      // other side's bytes alive. The clone starts with fresh history
      // (version 1) and no horizon; bloom sidecars link along with their
      // files. Cross-device roots degrade to a byte copy per file (still
      // correct, no longer zero-cost).
      Proc("clone",
        "clone(source, target): zero-copy clone — hard-link data files, fresh manifest",
        Seq(arg("source", StringType), arg("target", StringType)),
        StructType(Seq(field("files_linked", IntegerType), field("files_copied", IntegerType))),
        (ctx, row) => {
          val dst = str(row, 1)
          val srcDir = tableDir(ctx.root, str(row, 0))
          val dstDir = Paths.get(ctx.root, dst)
          require(!Files.exists(dstDir.resolve("_stats.jsonl")), s"table $dst already exists")
          val (linked, copied) = cloneTable(srcDir.toString, dstDir.toString)
          Seq(InternalRow(linked, copied))
        }),

      // r9c, [[ColStats]]: one distributed scan computes per-column NDV
      // (HLL++) and string lengths into the `_colstats.json` sidecar; the
      // scan's `estimateStatistics` then serves them to CBO. Returns the
      // analyze accounting, including how stale the previous sidecar had
      // become.
      Proc("analyze_table",
        "analyze_table(table): compute NDV/length column statistics for cost-based planning",
        Seq(arg("table", StringType), arg("histogram", BooleanType, "false"),
          arg("hist_bins", IntegerType, "32"),
          // restrict the (two-pass) histogram work to named columns;
          // '' = every numeric column
          arg("hist_cols", StringType, "''")),
        StructType(Seq(field("columns_analyzed", IntegerType), field("n_rows", LongType),
          field("analyzed_version", IntegerType), field("versions_stale_before", IntegerType),
          field("files_scanned", IntegerType))),
        (ctx, row) => {
          val dir = tableDir(ctx.root, str(row, 0)).toString
          val prev = ColStats.read(dir)
          val hc = optStr(row, 3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          // plain ANALYZE is delta-proportional (r15): only file identities
          // missing from the sketch cache are read; histograms keep the
          // full pass (a second bounded pass is inherently non-incremental)
          val (s, filesScanned) =
            if (row.getBoolean(1))
              (ColStats.analyze(SparkSession.active, dir,
                histogram = true, histBins = row.getInt(2), histCols = hc),
                JsonlStats.readStats(dir).size)
            else ColStats.analyzeIncremental(SparkSession.active, dir)
          Seq(InternalRow(s.cols.size, s.rows, s.version,
            prev.map(p => s.version - p.version).getOrElse(-1), filesScanned))
        }),

      // Declares the substring gram index ([[Bloom]] r9) on a STRING
      // column and BACKFILLS the per-file gram sidecars for every live
      // data file. Declaration lands FIRST (sidecar write under the meta
      // lock), so a write racing the backfill sidecars its own files; the
      // backfill is one Spark job over the manifest's file list — a
      // file-count-bounded maintenance pass, each task one streaming
      // parse (the same shape as rewrite_deletes). Re-CALLing rebuilds —
      // idempotent.
      Proc("build_gram_index",
        "build_gram_index(table, column): declare + backfill the substring gram index",
        Seq(arg("table", StringType), arg("column", StringType)),
        StructType(Seq(field("files_indexed", IntegerType))),
        (ctx, row) => {
          val column = str(row, 1)
          Seq(InternalRow(buildGramIndex(tableDir(ctx.root, str(row, 0)).toString, column)))
        }),

      // HISTORY COMPACTION (r9), see [[compactHistory]]
      Proc("compact_history",
        "compact_history(table, keep_recent, full_every): re-encode archived snapshots as reverse deltas",
        Seq(arg("table", StringType), arg("keep_recent", IntegerType, "4"),
          arg("full_every", IntegerType, "16")),
        StructType(Seq(field("snapshots_rewritten", IntegerType), field("bytes_before", LongType),
          field("bytes_after", LongType))),
        (ctx, row) => {
          val table = str(row, 0)
          val keepRecent = row.getInt(1)
          val fullEvery = row.getInt(2)
          require(keepRecent >= 2, s"keep_recent must be >= 2 (OCC lease slots), got $keepRecent")
          require(fullEvery >= 2, s"full_every must be >= 2, got $fullEvery")
          val (rewritten, before, after) =
            compactHistory(tableDir(ctx.root, table).toString, keepRecent, fullEvery)
          Seq(InternalRow(rewritten, before, after))
        }),

      // PARTITION EVOLUTION ([[PartitionTransforms]] r9), see
      // [[evolvePartitionSpec]]
      Proc("evolve_partition_spec",
        "evolve_partition_spec(table, spec): change the partition transform without rewriting data",
        Seq(arg("table", StringType), arg("spec", StringType)),
        StructType(Seq(field("spec_before", StringType, nullable = true),
          field("spec_after", StringType, nullable = true), field("files_stamped", IntegerType))),
        (ctx, row) => {
          val specStr = str(row, 1)
          val (before, stamped) =
            evolvePartitionSpec(tableDir(ctx.root, str(row, 0)).toString, specStr)
          Seq(InternalRow(before.map(utf8).orNull,
            if (specStr.isEmpty) null else utf8(specStr), stamped))
        }),

      refProc("create_tag", "create_tag(table, name[, version]): pin a named immutable snapshot",
        Seq(arg("table", StringType), arg("name", StringType), arg("version", IntegerType, "-1"))) {
        (dir, ref, row) =>
          val v = row.getInt(2)
          Refs.createTag(dir, ref, if (v < 0) None else Some(v))
      },
      refProc("drop_tag", "drop_tag(table, name): delete a tag (its files become vacuumable)",
        Seq(arg("table", StringType), arg("name", StringType))) { (dir, ref, _) =>
        Refs.dropRef(dir, Refs.tagManifest(ref)); 0
      },
      refProc("create_branch", "create_branch(table, name): fork a writable staging branch",
        Seq(arg("table", StringType), arg("name", StringType))) { (dir, ref, _) =>
        Refs.createBranch(dir, ref)
      },
      refProc("drop_branch", "drop_branch(table, name): delete a branch head",
        Seq(arg("table", StringType), arg("name", StringType))) { (dir, ref, _) =>
        Refs.dropRef(dir, Refs.branchManifest(ref)); 0
      },
      refProc("fast_forward", "fast_forward(table, name): publish a branch head to main (WAP)",
        Seq(arg("table", StringType), arg("name", StringType))) { (dir, ref, _) =>
        Refs.fastForward(dir, ref, txnId("ff"))
      },
      refProc("rollback", "rollback(table, target): restore main to a tag or version - metadata only",
        Seq(arg("table", StringType), arg("name", StringType))) { (dir, ref, _) =>
        Refs.rollbackTo(dir, ref, txnId("rb"))
      },
      refProc("cherry_pick",
        "cherry_pick(table, version): re-apply an append-shaped version's delta onto main",
        Seq(arg("table", StringType), arg("version", IntegerType)),
        _.getInt(1).toString) { (dir, ref, _) =>
        Refs.cherryPick(dir, ref.toInt, txnId("cp"))
      },

      // r11: the ATOMIC multi-table publish — `legs` =
      // "table:branch,table:branch,..." and every named branch head lands
      // on its main or none does ([[Refs.Wtxn]]: marker-committed
      // roll-forward, recovered by every catalog access). The fact + N
      // downstream aggregates WAP shape: stage all, audit all, publish
      // as ONE warehouse transaction.
      Proc("fast_forward_all",
        "fast_forward_all('t1:b1,t2:b2,...'): publish N branch heads atomically",
        Seq(arg("legs", StringType)),
        StructType(Seq(field("tables", StringType), field("legs_applied", IntegerType))),
        (ctx, row) => {
          val legs = str(row, 0).split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { s =>
            s.split(":", 2) match {
              case Array(t, b) if t.nonEmpty && b.nonEmpty => (t, b)
              case _ => throw new IllegalArgumentException(
                s"fast_forward_all: each leg must be table:branch, got '$s'")
            }
          }
          legs.foreach { case (t, _) => tableDir(ctx.root, t) }
          val applied = Refs.Wtxn.publish(ctx.root, legs, txnId("ffa"))
          Seq(InternalRow(utf8(legs.map(_._1).mkString(",")), applied))
        }),

      // the view verbs: each body reads its arguments and calls the
      // catalog's ViewCatalog method, the one implementation of the verb
      Proc("create_view",
        "create_view(name, sql[, comment][, or_replace][, columns]): store a persistent SQL view",
        Seq(arg("name", StringType), arg("sql", StringType), arg("comment", StringType, "''"),
          arg("or_replace", BooleanType, "false"),
          // r14: comma-joined column ALIASES — the view's visible column
          // names, positionally over the body's output (the CREATE VIEW
          // `(a, b, ...)` column-list form)
          arg("columns", StringType, "''")),
        strings("view", "action", "columns"),
        (ctx, row) => {
          val columns = optStr(row, 4).toSeq.flatMap(_.split(',').map(c => (c.trim, None)))
          val info = GraftCatalog.viewInfo(SparkSession.active, viewIdent(str(row, 0)),
            str(row, 1), columns, optStr(row, 2), Map.empty)
          val v = if (row.getBoolean(3)) ctx.cat.replaceView(info, true) else ctx.cat.createView(info)
          stringRow(str(row, 0), "created", v.schema().fieldNames.mkString(","))
        }),
      Proc("drop_view", "drop_view(name): delete a stored view definition",
        Seq(arg("name", StringType), arg("if_exists", BooleanType, "false")),
        strings("view", "action"),
        (ctx, row) => {
          val ident = viewIdent(str(row, 0))
          if (ctx.cat.dropView(ident)) stringRow(str(row, 0), "dropped")
          else if (row.getBoolean(1)) stringRow(str(row, 0), "not-found")
          else throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
        }),
      Proc("rename_view", "rename_view(name, to): move a stored view to a new name/namespace",
        Seq(arg("name", StringType), arg("to", StringType)),
        strings("view", "action", "to"),
        (ctx, row) => {
          ctx.cat.renameView(viewIdent(str(row, 0)), viewIdent(str(row, 1)))
          stringRow(str(row, 0), "renamed", str(row, 1))
        }),
      Proc("list_views", "list_views([namespace]): the stored views of a namespace",
        Seq(arg("namespace", StringType, "''")),
        StructType(Seq(field("namespace", StringType), field("view", StringType),
          field("comment", StringType, nullable = true))),
        (ctx, row) => {
          val ns = optStr(row, 0)
          ctx.cat.listViews(ns.toSeq.flatMap(_.split('.')): _*).toSeq.map { id =>
            val c = ctx.cat.loadView(id).properties().get("comment")
            InternalRow(utf8(ns.getOrElse("")), utf8(id.name()), if (c == null) null else utf8(c))
          }
        }),
      Proc("describe_view", "describe_view(name): a stored view's definition, context and schema",
        Seq(arg("name", StringType)),
        strings("view", "sql", "current_catalog", "current_namespace", "schema", "properties"),
        (ctx, row) => {
          val v = ctx.cat.loadView(viewIdent(str(row, 0)))
          stringRow(str(row, 0), v.query(), v.currentCatalog(), v.currentNamespace().mkString("."),
            v.schema().toDDL,
            v.properties().asScala.toSeq.sortBy(_._1).map { case (k, w) => s"$k=$w" }.mkString(", "))
        }),

      Proc("create_materialized_view",
        "create_materialized_view(name, sql[, or_replace]): store a view with a precomputed backing table",
        Seq(arg("name", StringType), arg("sql", StringType), arg("or_replace", BooleanType, "false")),
        strings("view", "action", "backing", "sources"),
        MvLifecycle.create),
      Proc("refresh_materialized_view",
        "refresh_materialized_view(name): rebuild the backing table and re-record source versions",
        Seq(arg("name", StringType)),
        strings("view", "action", "mode", "sources"),
        MvLifecycle.refresh))
    val byName = scala.collection.immutable.ListMap(procs.map(p => p.name -> p): _*)
    require(byName.size == procs.size, "duplicate procedure name")
    byName
  }

  /** DESCRIBE DETAIL for the manifest protocol: the one-row operational
    * report every table format ships (Delta's DESCRIBE DETAIL): current
    * version, live file/row/byte counts, deletion-vector debt (files
    * carrying DVs + masked rows — the rewrite_deletes backlog), and
    * layout facts (keyed?, stats column). Pure manifest arithmetic plus
    * per-file `Files.size` — metadata-priced, no data file opened. */
  private def detail(dir: Path): InternalRow = {
    val stats = JsonlStats.readStats(dir.toString)
    val meta = JsonlStats.readTableMeta(dir.toString)
    val sized = stats.map { s =>
      val p = dir.resolve(s.file)
      s -> (if (Files.exists(p)) Files.size(p) else 0L)
    }
    val bytes = sized.map(_._2).sum
    val haveRows = stats.forall(_.rows >= 0)
    InternalRow(
      JsonlStats.currentVersion(dir.toString),
      stats.size,
      if (haveRows) Long.box(stats.map(_.rows).sum) else null,
      if (haveRows) Long.box(stats.map(s => s.rows - s.dels).sum) else null,
      stats.count(_.dvs.nonEmpty),
      stats.map(_.dels).sum,
      bytes,
      meta.partitionCol.isDefined,
      utf8(meta.statsCol.getOrElse(JsonlStats.statsColumn)),
      // splittability debt (r8): oversized files whose pre-checkpoint
      // manifests pin whole-file tasks for DV'd/_pos reads — what a
      // compact/rewrite_deletes pass (which regenerates checkpoints)
      // would clear
      sized.count { case (s, sz) =>
        sz > JsonlStats.DefaultSplitBytes && s.ckpts.isEmpty },
      // r9 tier state: the declared partition spec, whether every
      // live file's key derives from it (SPJ eligibility — FALSE mid
      // partition-evolution until rewrites migrate the stragglers),
      // the gram-index column, and how many archived snapshots are
      // delta-encoded (compact_history's footprint)
      meta.partitionCol.map(utf8).orNull,
      meta.partitionCol.forall(pc =>
        stats.forall(_.pspec.forall(_ == pc))) && stats.forall(_.pkey.isDefined ||
          meta.partitionCol.isEmpty),
      meta.gramCol.map(utf8).orNull,
      JsonlStats.historyVersions(dir.toString).count { v =>
        val pth = dir.resolve(s"${JsonlStats.HistoryDir}/v$v.jsonl")
        scala.util.Try(Files.newBufferedReader(pth).readLine())
          .toOption.exists(l => l != null && l.startsWith("{\"delta_base\""))
      })
  }

  /** Declare the gram column in `_table.json` (logical name — layout
    * columns are never renamable) and sidecar every live file. */
  def buildGramIndex(tableRoot: String, column: String): Int = {
    val physical = JsonlStats.metaLock.synchronized {
      val m = JsonlStats.readTableMeta(tableRoot)
      val schema = m.schema.getOrElse(JsonlStats.schema)
      require(schema.fields.exists(f => f.name == column &&
          f.dataType == org.apache.spark.sql.types.StringType),
        s"gram index column $column must be a string column of ${schema.simpleString}")
      // declare FIRST: a writer landing after this sees the contract and
      // sidecars its own files; the backfill below covers the past
      JsonlStats.writeTableMeta(tableRoot, m.copy(schema = Some(schema),
        gramCol = Some(column)))
      m.columnMapping.getOrElse(column, column)
    }
    val files = JsonlStats.readStats(tableRoot).map(_.file)
    val rootCopy = tableRoot
    if (files.nonEmpty) SparkSession.active.sparkContext
      .parallelize(files, math.min(files.size, 32))
      .foreach(f => GraftProcedures.gramIndexOneFile(rootCopy, f, physical))
    files.size
  }

  /** Executor side of [[buildGramIndex]]: one streaming parse of `file`,
    * the indexed column's values fed through [[Bloom.GramTracker]]. */
  private[sources] def gramIndexOneFile(root: String, file: String,
                                        physical: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val grams = new Bloom.GramTracker
    val in = Files.newBufferedReader(Paths.get(root, file))
    try {
      var line = in.readLine()
      while (line != null) {
        if (line.nonEmpty && line != "\r") {
          val v = mapper.readTree(line).get(physical)
          if (v != null && !v.isNull) grams.add(v.asText())
        }
        line = in.readLine()
      }
    } finally in.close()
    grams.writeSidecar(Paths.get(root, file))
  }

  /** `CALL <cat>.compact_history('<table>')` — HISTORY COMPACTION (r9):
    * the MetaBench law (SCALING.md) says every commit archives a FULL manifest, so
    * metadata history grows at manifest-size × commit-rate. This
    * procedure re-encodes archived snapshots as REVERSE DELTAS against
    * their predecessor (adds verbatim + `{"del": line}` removals),
    * keeping periodic FULL snapshots (`full_every`, bounding the
    * reconstruction walk) and the newest `keep_recent` slots untouched
    * (the OCC lease protocol compares their raw bytes). An append-only
    * history shrinks ~manifest/Δ per version; a snapshot whose delta
    * would not shrink (truncate/replace rewrote everything) stays
    * full. Archive mtimes are preserved — they ARE the TIMESTAMP AS OF
    * index. Readers resolve transparently
    * ([[JsonlStats.readManifestLines]]); the first CALL stamps the
    * `history-deltas` read-gating feature (an unaware reader would
    * take a delta's add-lines as the whole snapshot). VACUUM
    * materializes the first retained archive before expiring its
    * bases, so expiry never strands a chain.
    * Returns (rewritten, archive bytes before, after) over the candidate
    * range. */
  def compactHistory(tableRoot: String, keepRecent: Int, fullEvery: Int): (Int, Long, Long) = {
    val versions = JsonlStats.historyVersions(tableRoot)
    val newest = versions.lastOption.getOrElse(0)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def pathOf(v: Int) = Paths.get(tableRoot, JsonlStats.HistoryDir, s"v$v.jsonl")
    def isDelta(v: Int): Boolean = {
      val ls = Files.readAllLines(pathOf(v)).asScala
      ls.headOption.exists(h => h.startsWith("{\"delta_base\"") &&
        mapper.readTree(h).hasNonNull("delta_base"))
    }
    val candidates = versions.filter { v =>
      v <= newest - keepRecent && v % fullEvery != 0 &&
        versions.contains(v - 1) && !isDelta(v)
    }
    if (candidates.isEmpty) return (0, 0L, 0L)
    // stamp the read gate BEFORE the first delta exists (a crash in
    // between over-declares — conservative, same stance as the DV
    // stamp). A table with no schema sidecar CANNOT be gated, so it
    // must not be delta-encoded at all (r9 review): an ungated pre-r9
    // reader would take a delta's add-lines as the whole snapshot.
    JsonlStats.metaLock.synchronized {
      val m = JsonlStats.readTableMeta(tableRoot)
      if (m.schema.isEmpty)
        throw new UnsupportedOperationException(
          s"compact_history($tableRoot): the table has no _table.json schema, so the " +
            "history-deltas read gate cannot be stamped — refusing to encode deltas " +
            "an ungated reader would silently truncate")
      if (!m.features.contains(JsonlStats.FeatureHistoryDeltas))
        JsonlStats.writeTableMeta(tableRoot,
          m.copy(features = m.features :+ JsonlStats.FeatureHistoryDeltas))
    }
    var rewritten = 0; var before = 0L; var after = 0L
    candidates.foreach { v =>
      val p = pathOf(v)
      val fullBytes = Files.size(p)
      val cur = JsonlStats.readManifestLines(tableRoot, s"${JsonlStats.HistoryDir}/v$v.jsonl")
      val prev = JsonlStats.readManifestLines(tableRoot, s"${JsonlStats.HistoryDir}/v${v - 1}.jsonl")
      val prevSet = prev.toSet; val curSet = cur.toSet
      val adds = cur.filterNot(prevSet)
      val dels = prev.filterNot(curSet)
      val header = {
        val n = mapper.createObjectNode(); n.put("delta_base", v - 1); n.toString
      }
      val delLines = dels.map { l =>
        val n = mapper.createObjectNode(); n.put("del", l); n.toString
      }
      val deltaLines = header +: (adds ++ delLines)
      val deltaBytes = deltaLines.map(_.length + 1L).sum
      before += fullBytes
      if (deltaBytes < fullBytes) {
        val mtime = Files.getLastModifiedTime(p)
        val tmp = p.resolveSibling(s"v$v.jsonl.tmp-histc")
        Files.write(tmp, deltaLines.asJava,
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(p, mtime) // the TIMESTAMP AS OF index
        rewritten += 1
        after += Files.size(p)
      } else after += fullBytes
    }
    (rewritten, before, after)
  }

  /** VACUUM phase-0 helper (r9): before archive expiry deletes versions
    * 1..m, the FIRST retained archive must become self-contained — its
    * delta chain may pass through the expired range. Reconstruct and
    * materialize it full (mtime preserved); later retained deltas base
    * on retained versions only, so one materialization suffices. */
  private[sources] def materializeFirstRetained(tableRoot: String, retained: Seq[Int]): Unit =
    retained.minOption.foreach { r =>
      val p = Paths.get(tableRoot, JsonlStats.HistoryDir, s"v$r.jsonl")
      if (Files.exists(p)) {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val head = Files.readAllLines(p).asScala.headOption
        val isDelta = head.exists(h => h.startsWith("{\"delta_base\"") &&
          mapper.readTree(h).hasNonNull("delta_base"))
        if (isDelta) {
          val full = JsonlStats.readManifestLines(tableRoot,
            s"${JsonlStats.HistoryDir}/v$r.jsonl")
          val mtime = Files.getLastModifiedTime(p)
          val tmp = p.resolveSibling(s"v$r.jsonl.tmp-histm")
          Files.write(tmp, full.asJava,
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
          Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          Files.setLastModifiedTime(p, mtime)
        }
      }
    }

  /** `CALL <cat>.evolve_partition_spec('<table>', '<spec>')` — PARTITION
    * EVOLUTION ([[PartitionTransforms]] r9): the table's layout contract
    * changes (`bucket(16,user_id)`, `truncate(100,event_id)`, a bare
    * string column for identity, or `''` to unpartition) while every
    * existing byte stays where it is — the Iceberg marquee move. One
    * OCC commit stamps each live KEYED entry with the spec its pkey was
    * derived under (`ps`; entries already stamped keep theirs — a
    * racing append is self-describing), then the sidecar's
    * `partitionColumn` becomes the new spec. From then on: new writes
    * derive keys under the new spec, scans prune each file under its
    * OWN spec, COW rewrites lazily migrate the files they touch, and
    * key-grouped reporting (SPJ) stays OFF until every surviving file
    * is uniform under the current spec. A crash between the two steps
    * leaves explicit stamps equal to the still-current spec — a no-op,
    * re-CALL to finish.
    * Returns (previous spec, entries stamped). */
  def evolvePartitionSpec(tableRoot: String, newSpecStr: String): (Option[String], Int) = {
    val newSpec = if (newSpecStr.isEmpty) None else Some(newSpecStr)
    val meta = JsonlStats.readTableMeta(tableRoot)
    val schema = meta.schema.getOrElse(JsonlStats.schema)
    newSpec.foreach { ns =>
      // composite targets validate per component (parseMulti enforces
      // the one-time-unit-plus-one-bucket contract itself, r12)
      PartitionTransforms.parseMulti(ns).foreach { spec =>
      val f = schema.fields.find(_.name == spec.col).getOrElse(
        throw new IllegalArgumentException(
          s"partition source column ${spec.col} not in ${schema.simpleString}"))
      spec match {
        case PartitionTransforms.Identity(c) =>
          require(f.dataType == org.apache.spark.sql.types.StringType,
            s"identity partition column $c must be a string column")
        case PartitionTransforms.Bucket(n, _) =>
          require(n >= 1 && n <= 4096,
            s"bucket count must be in [1, 4096], got $n (writer fan-out bound)")
          require(f.dataType == org.apache.spark.sql.types.LongType ||
              f.dataType == org.apache.spark.sql.types.StringType,
            s"hidden transforms need a long or string source, got ${f.dataType}")
        case PartitionTransforms.Trunc(w, _) =>
          require(w >= 1, s"truncate width must be positive, got $w")
          require(f.dataType == org.apache.spark.sql.types.LongType ||
              f.dataType == org.apache.spark.sql.types.StringType,
            s"hidden transforms need a long or string source, got ${f.dataType}")
        case t: PartitionTransforms.TimeSpec =>
          require(f.dataType == org.apache.spark.sql.types.TimestampType ||
              f.dataType == org.apache.spark.sql.types.TimestampNTZType ||
              f.dataType == org.apache.spark.sql.types.DateType,
            s"${t.encoded} needs a timestamp or date source, got ${f.dataType}")
      }
      }
    }
    val oldSpec = meta.partitionCol
    var stamped = 0
    // step 1: make every keyed live entry self-describing. The rebase
    // maps whatever base wins, so entries appended during the CALL keep
    // their own stamps (writers stamp ps at commit since r9).
    JsonlStats.commitAtomic(tableRoot, "evolve-spec", base => {
      stamped = 0
      // one shared mapper + one parse per line (r9 review — the
      // normLines stance): this map runs per OCC attempt over O(files)
      val entries = JsonlStats.parseStatsLines(base).map(e => e.file -> e).toMap
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      base.map { line =>
        val n = mapper.readTree(line)
        if (!n.hasNonNull("file")) line
        else {
          val entry = entries(n.get("file").asText())
          if (entry.pkey.isEmpty || entry.pspec.isDefined || oldSpec.isEmpty) line
          else { stamped += 1; JsonlStats.statsLine(entry.copy(pspec = oldSpec)) }
        }
      }
    })
    // step 2: the sidecar swap — new writes and table resolution see
    // the new contract (serialized with every other DDL sidecar write)
    JsonlStats.metaLock.synchronized {
      val m = JsonlStats.readTableMeta(tableRoot)
      JsonlStats.writeTableMeta(tableRoot,
        m.copy(partitionCol = newSpec, schema = Some(schema)))
    }
    (oldSpec, stamped)
  }

  /** Link (or, cross-device, copy) the live generation's files and
    * publish the clone's own manifest + table sidecar. Returns
    * (hardLinked, byteCopied) file counts. */
  def cloneTable(srcRoot: String, dstRoot: String): (Int, Int) = {
    val stats = JsonlStats.readStats(srcRoot)
    Files.createDirectories(Paths.get(dstRoot))
    var linked = 0; var copied = 0
    def bring(rel: String): Unit = {
      val from = Paths.get(srcRoot, rel)
      val to = Paths.get(dstRoot, rel)
      Option(to.getParent).foreach(Files.createDirectories(_))
      try { Files.createLink(to, from); linked += 1 }
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(from, to, java.nio.file.StandardCopyOption.REPLACE_EXISTING); copied += 1
      }
    }
    stats.foreach { s =>
      bring(s.file)
      if (Files.exists(Paths.get(srcRoot, Bloom.sidecarName(s.file))))
        bring(Bloom.sidecarName(s.file))
      if (Files.exists(Paths.get(srcRoot, Bloom.gramSidecarName(s.file))))
        bring(Bloom.gramSidecarName(s.file))
      s.dvs.foreach(bring) // deletion vectors ride with their files
    }
    // equality deletes (r9b) are part of the live image exactly like
    // DVs: a clone without its source's outstanding retractions would
    // resurrect every upserted-away key
    val eqdels = JsonlEqualityDeletes.readEqDeletes(srcRoot, "_stats.jsonl")
    eqdels.foreach(d => bring(d.file))
    val tm = Paths.get(srcRoot, "_table.json")
    if (Files.exists(tm))
      Files.copy(tm, Paths.get(dstRoot, "_table.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // column statistics (r9c) describe the cloned content verbatim —
    // carry them (advisory; the clone diverges like any other table)
    val cs = Paths.get(srcRoot, ColStats.Sidecar)
    if (Files.exists(cs))
      Files.copy(cs, Paths.get(dstRoot, ColStats.Sidecar),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the clone's OWN manifest (fresh history: a clone is version 1 of
    // a new table, not a continuation of the source's timeline) — PLUS
    // the source's row-id counter line: fully-materialized sources
    // (frid = -2 after zorder/rewrite_deletes) give the floor pass
    // nothing, so without the carry the clone's first append would
    // stamp from 0 and collide with the in-row ids just linked (r11)
    JsonlStats.publishManifest(dstRoot, "clone",
      (stats.map(JsonlStats.statsLine) ++ eqdels.map(JsonlEqualityDeletes.line)).sorted ++
        JsonlStats.counterCarry(srcRoot))
    (linked, copied)
  }

  /** The GC core. Three phases, each safe in isolation:
    *  1. EXPIRE: archived versions below `current − retainLast + 1`
    *     lose their manifests. The horizon sidecar records the newest
    *     expired generation's supersede instant FIRST, so a crash
    *     between sidecar and deletes fails time travel conservatively
    *     (claims slightly more vacuumed than is) rather than serving a
    *     wrong snapshot.
    *  2. DATA GC: a file is deletable iff some expired manifest
    *     references it and NO retained manifest (live included) does —
    *     pure manifest arithmetic, no directory listing, metadata-
    *     bounded like every planning step.
    *  3. ORPHAN SWEEP: directory listing minus all surviving
    *     references, gated by `graceMs` of file age — the one place the
    *     engine lists a directory, because crash debris is by
    *     definition unreferenced by any manifest. Tmp manifests from
    *     torn publishes (`_stats.jsonl.tmp-*`) fall out the same way.
    * Returns (expired, dataFilesDeleted, orphansDeleted, oldestRetained). */
  def vacuum(tableRoot: String, retainLast: Int, graceMs: Long): (Int, Int, Int, Int) = {
    val current = JsonlStats.currentVersion(tableRoot)
    val keepFrom = math.max(1, current - retainLast + 1)
    val (expired, retained) =
      JsonlStats.historyVersions(tableRoot).partition(_ < keepFrom)
    val dir = Paths.get(tableRoot)
    def manifestOf(v: Int) = s"${JsonlStats.HistoryDir}/v$v.jsonl"
    // a manifest references its data files AND their deletion-vector
    // sidecars (r7c): a DV is alive exactly as long as some manifest
    // names it — same refcount law as the data bytes it masks
    // a manifest references its data files, their DV sidecars AND its
    // equality-delete files (r9b) — one refcount law for all three
    def filesOfManifest(m: String): Seq[String] = {
      val raw = JsonlStats.readManifestLines(tableRoot, m)
      JsonlStats.parseStatsLines(raw).flatMap(s => s.file +: s.dvs) ++
        JsonlEqualityDeletes.filesOf(raw)
    }
    val retainedRefs: Set[String] =
      (retained.map(manifestOf) :+ "_stats.jsonl")
        .flatMap(filesOfManifest).toSet ++
        // refs (r9) are live ROOTS: a tag-pinned or branch-staged file is
        // neither expirable nor an orphan, whatever `_history/` retention
        // says — tag durability IS this refcount, and a staged-but-not-
        // yet-published branch load survives any maintenance pass
        Refs.referencedFiles(tableRoot)
    var dataDeleted = 0
    if (expired.nonEmpty) {
      // history deltas (r9): the first retained archive may be a delta
      // whose chain passes through the expired range — make it
      // self-contained while its bases still exist
      materializeFirstRetained(tableRoot, retained)
      // horizon first (see phase 1): supersede instant of the newest
      // expired generation = its own archive's mtime
      val horizonMs = Files.getLastModifiedTime(
        dir.resolve(manifestOf(expired.max))).toMillis
      JsonlStats.writeVacuumHorizon(tableRoot,
        JsonlStats.VacuumHorizon(horizonMs, keepFrom))
      val deletable = expired
        .flatMap(v => filesOfManifest(manifestOf(v)))
        .distinct.filterNot(retainedRefs)
      deletable.foreach { f =>
        if (Files.deleteIfExists(dir.resolve(f))) dataDeleted += 1
        Files.deleteIfExists(dir.resolve(Bloom.sidecarName(f))) // rides with its file
        Files.deleteIfExists(dir.resolve(Bloom.gramSidecarName(f)))
      }
      expired.foreach(v => Files.deleteIfExists(dir.resolve(manifestOf(v))))
    }
    var orphansDeleted = 0
    val cutoff = System.currentTimeMillis() - graceMs
    val listing = Files.list(dir)
    try listing.iterator().asScala
      .filter(Files.isRegularFile(_))
      .foreach { p =>
        val n = p.getFileName.toString
        // a bloom/gram sidecar is referenced iff its data file is
        val ref =
          if (n.endsWith(".jsonl.bloom")) n.stripSuffix(".bloom")
          else if (n.endsWith(".jsonl.grams")) n.stripSuffix(".grams")
          else n
        val sweepable =
          (n.endsWith(".jsonl") || n.endsWith(".jsonl.bloom") ||
            n.endsWith(".jsonl.grams") || n.contains(".jsonl.tmp-")) &&
          n != "_stats.jsonl" && !retainedRefs.contains(ref)
        if (sweepable && Files.getLastModifiedTime(p).toMillis < cutoff &&
            Files.deleteIfExists(p)) orphansDeleted += 1
      }
    finally listing.close()
    // same sweep over the deletion-vector dir: a DV fragment written by
    // a crashed DELETE is referenced by no manifest — age-gated debris
    val dvDir = dir.resolve(JsonlDeleteVectors.DeletesDir)
    if (Files.isDirectory(dvDir)) {
      val dvListing = Files.list(dvDir)
      try dvListing.iterator().asScala
        .filter(Files.isRegularFile(_))
        .foreach { p =>
          val rel = s"${JsonlDeleteVectors.DeletesDir}/${p.getFileName}"
          if (!retainedRefs.contains(rel) &&
              Files.getLastModifiedTime(p).toMillis < cutoff &&
              Files.deleteIfExists(p)) orphansDeleted += 1
        }
      finally dvListing.close()
    }
    // and the equality-delete dir (r9b): same age-gated debris law
    val eqDir = dir.resolve(JsonlEqualityDeletes.DeletesDir)
    if (Files.isDirectory(eqDir)) {
      val eqListing = Files.list(eqDir)
      try eqListing.iterator().asScala
        .filter(Files.isRegularFile(_))
        .foreach { p =>
          val rel = s"${JsonlEqualityDeletes.DeletesDir}/${p.getFileName}"
          if (!retainedRefs.contains(rel) &&
              Files.getLastModifiedTime(p).toMillis < cutoff &&
              Files.deleteIfExists(p)) orphansDeleted += 1
        }
      finally eqListing.close()
    }
    (expired.size, dataDeleted, orphansDeleted, keepFrom)
  }

  /** The zorder rewrite: read the live rows through the connector,
    * cluster them by the Morton interleave of `colA`/`colB`, and write
    * them back through the connector's own write path. One body serves
    * both scopes; they differ only in which entries they read and how
    * they commit.
    *
    *   - Global (`partition` = None): the whole live generation,
    *     committed as an OVERWRITE of the table. Self-overwrite is safe
    *     by the table format's own laws: the scan pins the live
    *     manifest at planning, writer tasks emit attempt-unique new
    *     files, the atomic manifest swap is the only visibility change,
    *     and deferred GC keeps the old generation's files on disk for
    *     its archived snapshot — so `VERSION AS OF` still reads the
    *     pre-zorder layout afterwards. Refuses key-grouped layouts:
    *     re-clustering would destroy the one-pkey-per-file contract the
    *     SPJ leg depends on ([[compact]] preserves keys by never binning
    *     across them; zorder by definition mixes rows across files).
    *   - Scoped (r12, the `OPTIMIZE ... WHERE` shape for keyed layouts):
    *     ONE partition's files, every other entry byte-untouched. At
    *     100 TB you zorder yesterday's `days(ts)` partition after it
    *     closes — never the table. The scope's rows are read through a
    *     TEMPORARY manifest naming exactly the scoped entries (plus the
    *     table's eqdel/txn lines, so masks apply with their seq
    *     semantics), the z-clustered output lands via a STAGED plain
    *     write (no keyed distribution requirement to fight the z
    *     range-partitioning — the pkey is a constant over the scope, so
    *     it is stamped onto the fresh entries directly, `pspec`
    *     included), files and their bloom/gram sidecars move into the
    *     table directory, and ONE rewrite commit replaces the scoped
    *     entries under the same OCC law as row-level DML: a rival that
    *     touched a scoped file (DV attach, compaction) conflicts loudly.
    *
    * Row lineage (r10): a clustering rewrite SCATTERS rows, so ids ride
    * through as projected metadata columns and land as materialized
    * in-row fields (the write sees `_row_id`/`_luv` in its schema →
    * publishes frid = -2 and keeps them out of stats and the table
    * contract) — only when the scope has assigned ids; an unstamped
    * table rewrites plainly and gets stamped fresh. */
  def zorder(tableRoot: String, colA: String, colB: String, targetBytes: Long,
             partition: Option[String] = None): (Int, Int, Long) = {
    import org.apache.spark.sql.functions._
    val meta = JsonlStats.readTableMeta(tableRoot)
    require(partition.isDefined || meta.partitionCol.isEmpty,
      "zorder refuses key-grouped layouts: re-clustering would destroy the " +
        "one-pkey-per-file SPJ contract (compact preserves keys; zorder cannot) — " +
        "scope it instead: zorder(table, a, b, target, partition => '<pkey>') " +
        "re-clusters ONE partition and keeps the contract")
    val statsCol = meta.statsCol.getOrElse(JsonlStats.statsColumn)
    val spark = SparkSession.active
    val all = JsonlStats.readStats(tableRoot)
    val scope = partition.fold(all)(p => all.filter(_.pkey.contains(p)))
    partition.foreach { p =>
      require(scope.nonEmpty,
        s"zorder($tableRoot, partition => '$p'): no live file carries that pkey " +
          s"(pkeys: ${all.flatMap(_.pkey).distinct.sorted.take(10).mkString(", ")})")
    }
    val unchanged = (all.size, all.size, math.max(0L, scope.map(_.rows).sum))
    if (partition.isDefined && scope.size == 1 && scope.head.dvs.isEmpty) return unchanged
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // the scoped read goes through a read-only snapshot manifest of
    // exactly the scope: scoped entry lines verbatim + every non-entry
    // line except the counter (eqdels keep their seq semantics; the
    // counter is commit-protocol state)
    val scopeManifest = partition.map { _ =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val names = scope.map(_.file).toSet
      val lines = JsonlStats.readManifestLines(tableRoot, "_stats.jsonl").filter(_.nonEmpty)
        .filter { l =>
          val n = mapper.readTree(l)
          if (n.hasNonNull("file")) names.contains(n.get("file").asText())
          else !l.contains(JsonlStats.NextRowIdKey)
        }
      val name = s"_zscope-$runId.jsonl"
      Files.write(Paths.get(tableRoot, name), lines.asJava)
      name
    }
    val staging = partition.map(_ => Paths.get(tableRoot, s"_zorder-staging-$runId"))
    try {
      var reader = spark.read.format("graft-jsonl-stats")
        .option("path", tableRoot).option("statsColumn", statsCol)
      scopeManifest.foreach(m => reader = reader.option("manifest", m))
      meta.bloomCol.foreach(bc => reader = reader.option("bloomColumn", bc))
      meta.gramCol.foreach(gc => reader = reader.option("gramColumn", gc))
      meta.schema.foreach(s => reader = reader.schema(s))
      val df = reader.load()
      require(df.columns.contains(colA) && df.columns.contains(colB),
        s"zorder columns must exist in the table schema: $colA, $colB vs ${df.columns.mkString(",")}")
      val (rankA, rankB) = (zRank(df, colA), zRank(df, colB))
      val b = df.agg(min(rankA), max(rankA), min(rankB), max(rankB)).head()
      // empty scope or an all-null dimension: no meaningful clustering
      if (b.isNullAt(0) || b.isNullAt(2)) return unchanged
      // 256 range buckets per dimension (8 bits each → 16-bit z), monotone
      val zc = mortonColumn(rankA, rankB, b.getDouble(0), b.getDouble(1),
        b.getDouble(2), b.getDouble(3))
      val hasLineage = scope.exists(s => s.frid >= 0L || s.frid == -2L || s.runs.nonEmpty)
      val src =
        if (!hasLineage) df
        else df.select(col("*"), col(JsonlStats.RowIdMeta),
          col(JsonlStats.LuvMeta).as(JsonlStats.LuvField))
      val liveBytes = scope.map { s =>
        val p = Paths.get(tableRoot, s.file)
        if (Files.exists(p)) Files.size(p) else 0L
      }.sum
      val nOut = math.max(1L, (liveBytes + targetBytes - 1) / targetBytes).toInt
      staging.foreach { st =>
        Files.createDirectories(st)
        // the staged write must speak the TABLE's physical dialect —
        // column mapping renames are metadata-only and files carry
        // PHYSICAL keys, so seed the staging sidecar with the table meta
        // (minus the layout columns: partitionCol would re-key the write
        // and fight the z range-partitioning; sortCol would re-sort it)
        JsonlStats.writeTableMeta(st.toString, meta.copy(partitionCol = None, sortCol = None))
      }
      var writer = src.withColumn("__graft_z", zc)
        .repartitionByRange(nOut, col("__graft_z"))
        .sortWithinPartitions("__graft_z")
        .drop("__graft_z")
        .write.format("graft-jsonl-stats")
        .option("path", staging.fold(tableRoot)(_.toString)).option("statsColumn", statsCol)
      meta.bloomCol.foreach(bc => writer = writer.option("bloomColumn", bc))
      meta.gramCol.foreach(gc => writer = writer.option("gramColumn", gc))
      writer.mode("overwrite").save()
      (partition, staging) match {
        case (Some(p), Some(st)) =>
          val staged = JsonlStats.readStats(st.toString)
          // each data file moves WITH its index sidecars — the fresh
          // entries stay bloom/gram-probeable like the ones they replace
          staged.flatMap(s => Seq(s.file, Bloom.sidecarName(s.file), Bloom.gramSidecarName(s.file)))
            .filter(f => Files.exists(st.resolve(f)))
            .foreach(f => Files.move(st.resolve(f), Paths.get(tableRoot, f)))
          // the scope's pkey is a row-level invariant (every source file
          // carried it), so fresh entries stamp it directly — the staged
          // write was deliberately UNKEYED so z range-partitioning survives
          val fresh = staged.map { s =>
            val keyed = s.copy(pkey = Some(p), pspec = meta.partitionCol)
            if (hasLineage) keyed // frid = -2, ids materialized in-row
            else keyed.copy(frid = -1L, luv = 0L, runs = Nil) // stays unassigned/restamps like any rewrite
          }
          JsonlStats.commitAtomic(tableRoot, s"zorder-scoped-$runId", base => {
            val m = JsonlEqualityDeletes.maxSeq(base)
            val freshLines = fresh.map(fs => JsonlStats.statsLine(
              if (m == 0L) fs else fs.copy(seq = m)))
            JsonlStats.rebaseRewrite(scope.map(JsonlStats.statsLine), freshLines)(base)
          })
          (all.size, all.size - scope.size + staged.size, fresh.map(_.rows).sum)
        case _ =>
          val after = JsonlStats.readStats(tableRoot)
          (all.size, after.size, after.map(_.rows).sum)
      }
    } finally {
      scopeManifest.foreach(m => Files.deleteIfExists(Paths.get(tableRoot, m)))
      staging.filter(Files.exists(_)).foreach(st => graft.util.Fs.deleteRecursively(st.toString))
    }
  }

  /** A z dimension's numeric rank: the value itself for numbers, the
    * epoch day / epoch microsecond for dates and timestamps (ANSI casts
    * refuse DATE and TIMESTAMP_NTZ → DOUBLE). Monotone in the value,
    * which is all bucketing needs. */
  private def zRank(df: org.apache.spark.sql.DataFrame, c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    df.schema(c).dataType match {
      case DateType => unix_date(col(c)).cast("double")
      case TimestampType | TimestampNTZType => unix_micros(col(c).cast(TimestampType)).cast("double")
      case _ => col(c).cast("double")
    }
  }

  /** Morton z-value of two 256-rank range buckets over the dimensions'
    * [[zRank]]s and their observed [lo, hi] — monotone, which is all
    * clustering needs (no read-side mirror exists to disagree with: the
    * manifest bounds the writer measures ARE the index). Null dimension
    * values rank as bucket 0. */
  private def mortonColumn(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      aLo: Double, aHi: Double, bLo: Double, bHi: Double): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    def bucket(c: Column, mn: Double, mx: Double): Column =
      if (mx <= mn) lit(0)
      else least(lit(255), greatest(lit(0),
        floor((c - lit(mn)) / lit(mx - mn) * 256).cast("int")))
    val bx = coalesce(bucket(a, aLo, aHi), lit(0))
    val by = coalesce(bucket(b, bLo, bHi), lit(0))
    (0 until 8).map { i =>
      shiftleft(shiftright(bx, i).bitwiseAND(lit(1)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(by, i).bitwiseAND(lit(1)), 2 * i))
    }.reduce(_ bitwiseOR _)
  }

  /** The one row-rewrite path of table maintenance: each output file —
    * its members as whole-file scan partitions ([[wholeFile]]), its
    * name and its pkey — is one Spark task. The connector's own reader
    * serves each member's surviving rows (DVs, equality deletes and
    * lineage applied exactly as a scan applies them), `_row_id` and
    * `_last_updated_version` included, into one [[JsonlFileSink]]
    * configured from the table's metadata, so the output carries every
    * statistic and sidecar the writer publishes and keeps its members'
    * row order. Returns each output's commit in order; `file` is null
    * when no row survived (the sink leaves no file). */
  private def rewriteRows(tableRoot: String,
      outputs: Seq[(Seq[JsonlFilePartition], String, Option[String])]): Seq[JsonlFileCommit] = {
    if (outputs.isEmpty) return Nil
    val meta = JsonlStats.readTableMeta(tableRoot)
    // lineage rides as the two metadata columns the reader serves and
    // the sink materializes in-row
    val schema = meta.schema.getOrElse(JsonlStats.schema)
      .add(JsonlStats.RowIdMeta, LongType).add(JsonlStats.LuvMeta, LongType)
    val statsCol = meta.statsCol.getOrElse(JsonlStats.statsColumn)
    val (bloomCol, gramCol, mapping) = (meta.bloomCol, meta.gramCol, meta.columnMapping)
    val readers = new JsonlReaderFactory(schema, columnMapping = mapping)
    SparkSession.active.sparkContext
      .parallelize(outputs, math.min(outputs.size, 32))
      .map { case (members, out, pkey) =>
        val sink = new JsonlFileSink(tableRoot, out, schema, statsCol, bloomCol, mapping, gramCol)
        try {
          members.foreach { m =>
            val r = readers.createReader(m)
            try while (r.next()) sink.write(r.get()) finally r.close()
          }
          sink.finish(pkey)
        } catch { case e: Throwable => sink.abort(); throw e }
      }
      .collect().toSeq // file-count-bounded: one commit per output
  }

  /** `s`'s whole file as a scan partition, with its DVs, the given
    * applicable equality deletes and its manifest lineage. */
  private def wholeFile(tableRoot: String, s: JsonlStats.FileStats,
                        eqds: Seq[(String, Seq[String])] = Nil): JsonlFilePartition =
    JsonlFilePartition(Paths.get(tableRoot, s.file).toString,
      dvs = s.dvs.map(Paths.get(tableRoot, _).toString), eqds = eqds,
      lin = JsonlStats.Lineage.of(s))

  /** The DV-collapse core: each DV'd (or equality-deleted) file becomes
    * one fresh file holding its survivors, written by [[rewriteRows]] —
    * the one maintenance op that must parse, because attained bounds
    * cannot be derived from masked entries. Survivors SHIFT physical
    * positions, so their lineage materializes in-row and the entry
    * declares frid = -2. Returns (filesRewritten, dvsCollapsed,
    * rowsDropped). */
  def rewriteDeletes(tableRoot: String): (Int, Int, Long) = {
    val stats = JsonlStats.readStats(tableRoot)
    // equality deletes (r9b) materialize here too: every file an eqdel
    // still applies to is rewritten without its key-masked rows, and
    // the eqdel lines leave the manifest in the same commit — after
    // which COUNT/MIN/MAX pushdown re-arms and the read-side probe tax
    // is gone (the Iceberg rewrite_position/equality_deletes service,
    // one verb here)
    val eqdels = JsonlEqualityDeletes.readEqDeletes(tableRoot, "_stats.jsonl")
    def eqdsFor(s: JsonlStats.FileStats): Seq[(String, Seq[String])] =
      eqdels.filter(_.seq > s.seq)
        .map(d => (Paths.get(tableRoot, d.file).toString, d.cols))
    val dirty = stats.filter(s => s.dvs.nonEmpty || eqdsFor(s).nonEmpty)
    if (dirty.isEmpty && eqdels.isEmpty) return (0, 0, 0L)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val commits = rewriteRows(tableRoot, dirty.zipWithIndex.map { case (s, i) =>
      (Seq(wholeFile(tableRoot, s, eqdsFor(s))), f"part-rwdel-$runId-$i%05d.jsonl", s.pkey)
    })
    // a wholly-deleted file rewrites to nothing: no entry, no file. The
    // collapse preserves the file's LAYOUT — same pkey, same partition
    // spec (lazy spec migration is COW's job, not this one's) and the
    // same sort stamp (survivors keep the source's row order); seq stays
    // 0, so an eqdel a concurrent upsert commits still applies
    val fresh = dirty.zip(commits).collect {
      case (s, c) if c.file != null => c.entry(s.pspec, s.sorted)
    }
    // OCC rewrite (r8): the collapsed files' planned entries must
    // survive verbatim — a DV attached since planning would mean the
    // rewritten survivors resurrect freshly-masked rows, so that
    // CONFLICTS; concurrent appends ride through (maintenance commutes
    // with ingest — the Iceberg rewrite-procedure contract)
    // the materialized eqdel LINES leave in the same swap (a concurrent
    // upsert's NEW eqdel line is not in the removed set, survives the
    // rebase, and still applies to the fresh unstamped entries — its
    // retraction is never lost)
    JsonlStats.commitAtomic(tableRoot, s"rwdel-$runId",
      JsonlStats.rebaseRewrite(
        dirty.map(JsonlStats.statsLine) ++ eqdels.map(JsonlEqualityDeletes.line),
        fresh.map(JsonlStats.statsLine)))
    // rows_dropped is the MATERIALIZED count — DV'd positions AND
    // eq-masked keys (review r9c: the DV-only sum reported 0 for a
    // pure-upsert rewrite): physical in minus physical out
    (dirty.size, dirty.map(_.dvs.size).sum,
      dirty.map(_.rows).sum - fresh.map(_.rows).sum)
  }

  /** The maintenance core. Greedy first-fit over size-sorted
    * sub-target files, binned WITHIN each pkey (an unkeyed table is one
    * key group of None); only bins of ≥2 members rewrite anything. A bin
    * is a byte concat whose entry merges its members' entries, unless
    * its lineage runs would pass [[JsonlStats.MaxRunsPerEntry]]: then
    * its rows go through [[rewriteRows]] (see [[Bin]]).
    * Returns (files_before, files_after, files_merged). */
  def compact(tableRoot: String, targetBytes: Long,
              partition: Option[String] = None): (Int, Int, Int) = {
    val stats = JsonlStats.readStats(tableRoot)
    // scoped compaction (r9c): only files whose manifest pkey equals
    // the requested partition are candidates; everything else is
    // untouched BY CONSTRUCTION (it never enters a bin). On an unkeyed
    // table a partition scope matches nothing — loud, not silent
    partition.foreach { p =>
      require(stats.exists(_.pkey.contains(p)),
        s"compact($tableRoot, partition => '$p'): no live file carries that pkey " +
          s"(pkeys: ${stats.flatMap(_.pkey).distinct.sorted.take(10).mkString(", ")})")
    }
    val sized = stats.map(s => s -> {
      val p = Paths.get(tableRoot, s.file)
      if (Files.exists(p)) Files.size(p) else 0L
    })
    // candidates: under-target files with exact row counts (a merged
    // entry must stay exact; unknown-count files are left untouched).
    // DV'd files are excluded too — byte concatenation shifts physical
    // positions out from under their deletion vectors; rewrite_deletes
    // collapses the DVs first, after which the clean file can compact
    val (candidates, untouched) =
      sized.partition { case (s, bytes) => bytes < targetBytes && s.rows >= 0 &&
        s.dvs.isEmpty && partition.forall(s.pkey.contains) }
    val runId = java.util.UUID.randomUUID().toString.take(8)
    var binSeq = 0
    // partition evolution (r9): a bin's files must share BOTH the key
    // and the spec the key derives from — merging across specs would
    // publish one entry whose pkey lies for half its rows. Equality
    // deletes (r9b): the SEQUENCE NUMBER is part of the merge key too —
    // concatenating a seq-3 upsert file into a seq-0 base bin would
    // publish one entry whose seq lies for half its rows, making
    // outstanding deletes re-retract the upserted images (or spare
    // rows they should mask)
    val bins = candidates.groupBy(c => (c._1.pkey, c._1.pspec, c._1.seq)).toSeq.sortBy(_._1)
        .flatMap {
      case ((pkey, pspec, seq), files) =>
        val sorted = files.sortBy(-_._2) // big-first first-fit packs tighter
        val groups = scala.collection.mutable.ArrayBuffer.empty[(scala.collection.mutable.ArrayBuffer[(JsonlStats.FileStats, Long)], Long)]
        sorted.foreach { case (s, b) =>
          groups.indexWhere(_._2 + b <= targetBytes) match {
            case -1 => groups += ((scala.collection.mutable.ArrayBuffer((s, b)), b))
            case i  => val (g, tot) = groups(i); g += ((s, b)); groups(i) = (g, tot + b)
          }
        }
        groups.filter(_._1.size >= 2).map { case (g0, _) =>
          // bin membership is packed big-first, but the CONCAT order
          // within a bin is free — order by first row id (r12) so
          // same-commit neighbors land position-contiguous and their
          // runs coalesce; unstamped/materialized members follow by
          // file name (any order is correct, this one compresses)
          val g = g0.sortBy { case (m, _) =>
            val firstId =
              if (m.frid >= 0L) m.frid
              else m.runs.filter(_._2 >= 0L).map(_._2).minOption.getOrElse(Long.MaxValue)
            (firstId, m.file)
          }
          val members = g.map(_._1).toSeq
          val out = f"part-compact-$runId-$binSeq%05d.jsonl"
          binSeq += 1
          // a member with the all-null SENTINEL bounds poisons the bin:
          // a half-merged (MinValue, realMax) entry would escape the
          // aggregate-pushdown sentinel check and serve MinValue as
          // MIN(data) — the merged entry must be fully sentinel (never
          // pruned, min/max pushdown declined), matching the writer's
          // own all-null convention
          val hasSentinel = members.exists(m =>
            m.min == Double.MinValue && m.max == Double.MaxValue)
          val (mn, mx) =
            if (hasSentinel) (Double.MinValue, Double.MaxValue)
            else (members.map(_.min).min, members.map(_.max).max)
          // per-column bounds (r7b) survive the merge only for columns
          // EVERY member recorded — a member with unknown bounds for a
          // column poisons that column (absent = never pruned), the
          // same conservatism as the sentinel rule above
          val sharedCols = members.map(_.cols.keySet).reduce(_ intersect _)
          val mergedCols0 = sharedCols.map { c =>
            c -> (members.map(_.cols(c)._1).min, members.map(_.cols(c)._2).max)
          }.toMap
          // map-key stats (r13) merge by UNION under the completeness
          // marker: when EVERY member carries `<col>#mk`, a key absent
          // from a member means "no row of that member has it" — the
          // interval union over the members that DO is exact. The
          // intersection rule above would DROP such keys while keeping
          // the marker, and the marker would then prune files that
          // hold the key — wrong results after compaction. A member
          // without the marker (poisoned cap, legacy) drops the
          // column's key stats wholesale, the usual conservatism.
          val mapMerged = sharedCols.filter(_.endsWith("#mk")).flatMap { mk =>
            val pre = mk.stripSuffix("#mk") + "."
            members.flatMap(_.cols.keySet.filter(_.startsWith(pre))).toSet.map {
              (k: String) =>
                val bs = members.flatMap(_.cols.get(k))
                k -> (bs.map(_._1).min, bs.map(_._2).max)
            }
          }.toMap
          val mergedCols = mergedCols0 ++ mapMerged
          // vector cell bitmaps (r12) merge by UNION — exact, like the
          // members themselves; a member without the bitmap poisons the
          // column (absent = interval fallback), same conservatism
          val sharedV = members.map(_.vcells.keySet).reduce(_ intersect _)
          val mergedV = sharedV.map(c => c -> members.map(_.vcells(c)).reduce(_ | _)).toMap
          // non-null counts sum iff every member recorded one — a member
          // with unknown counts poisons that column (same conservatism)
          val sharedN = members.map(_.colNonNull.keySet).reduce(_ intersect _)
          val mergedN = sharedN.map(c => c -> members.map(_.colNonNull(c)).sum).toMap
          // string bounds (r8) merge under the one-sided invariants:
          // lower = min of lowers (still ≤ attained min), upper = max of
          // uppers UNLESS any member's upper is unknown (None poisons)
          val sharedS = members.map(_.strCols.keySet).reduce(_ intersect _)
          val mergedS = sharedS.map { c =>
            val bs = members.map(_.strCols(c))
            val lo = bs.map(_._1).min(Ordering.fromLessThan[String](
              JsonlStats.strCompare(_, _) < 0))
            val hi =
              if (bs.exists(_._2.isEmpty)) None
              else Some(bs.map(_._2.get).max(Ordering.fromLessThan[String](
                JsonlStats.strCompare(_, _) < 0)))
            c -> (lo, hi)
          }.toMap ++
          // STRING map-key bounds (r14) merge by UNION under the
          // completeness marker, like the numeric leg above: a key
          // absent from a marker-carrying member has no rows there, so
          // the union over the members that DO carry it is exact — the
          // intersection rule would drop such keys while keeping the
          // marker, which would then WRONGLY prune files holding them
          sharedCols.filter(_.endsWith("#mk")).flatMap { mk =>
            val pre = mk.stripSuffix("#mk") + "."
            members.flatMap(_.strCols.keySet.filter(_.startsWith(pre))).toSet.map {
              (k: String) =>
                val bs = members.flatMap(_.strCols.get(k))
                val lo = bs.map(_._1).min(Ordering.fromLessThan[String](
                  JsonlStats.strCompare(_, _) < 0))
                val hi =
                  if (bs.exists(_._2.isEmpty)) None
                  else Some(bs.map(_._2.get).max(Ordering.fromLessThan[String](
                    JsonlStats.strCompare(_, _) < 0)))
                k -> (lo, hi)
            }
          }.toMap
          // checkpoints (r8) survive the byte concat: each member's
          // pairs shift by its byte/row offset in the bin, and every
          // member boundary is itself an exact (line start, rows
          // before) pair — a compacted file splits as well as a
          // freshly-written one. Valid only when the concat IS pure
          // bytes: concatFiles patches a missing trailing newline,
          // which would shift every later offset by one — the sink
          // always terminates files, but a hand-made member without
          // the terminator drops the merged checkpoints (conservative:
          // absent ckpts = pre-r8 whole-file behavior, never wrong).
          val pureConcat = members.forall(m => endsWithNewline(tableRoot, m.file))
          val offs = g.toSeq.scanLeft((0L, 0L)) { case ((bo, ro), (m, b)) =>
            (bo + b, ro + m.rows)
          }
          val mergedK = if (!pureConcat) Nil
          else g.toSeq.zip(offs).flatMap { case ((m, _), (bo, ro)) =>
            (if (bo > 0) Seq((bo, ro)) else Nil) ++
              m.ckpts.map { case (o, r) => (bo + o, ro + r) }
          }.sortBy(_._1)
          // zone maps (r8) survive the concat: each member contributes
          // its segments in order (member boundaries are themselves
          // checkpoints, so merged segments = concat of member
          // segments); a checkpoint-free member IS one segment whose
          // bounds are its file bounds. A member whose zones are
          // unknown/mismatched poisons the whole bin — conservative.
          val memberSegs = g.toSeq.map { case (m, _) =>
            if (m.segb.size == m.ckpts.size + 1) m.segb
            else if (m.ckpts.isEmpty) Seq((m.min, m.max))
            else Nil
          }
          val mergedSegB =
            if (!pureConcat || memberSegs.exists(_.isEmpty)) Nil
            else memberSegs.flatten
          // row lineage (r10) survives the byte concat as manifest
          // arithmetic: member i's id range lands at its row offset in
          // the bin — one run per stamped member (or its own shifted
          // runs when the member was itself a compaction product).
          // A materialized member (frid = -2) carries ids IN its rows,
          // which the concat copies verbatim — the reader's in-row
          // fallback serves positions no run covers. An unstamped
          // member contributes nothing (its rows never had ids); the
          // merged entry still declares `frids` so the commit never
          // re-stamps rows whose neighbors hold assigned ids.
          val mergedRuns0 = g.toSeq.zip(offs).flatMap { case ((m, _), (_, ro)) =>
            if (m.frid >= 0L) Seq((ro, m.frid, m.rows, m.luv))
            // luv-only run (r12, ADVICE r11 high): a materialized
            // member whose ENTRY carried a luv backs its null-luv rows
            // (COW-update images) through that entry — which this merge
            // replaces. Record a degenerate run (firstId = -1: ids stay
            // in-row) carrying the luv so the reader's fallback
            // survives the concat instead of serving NULL.
            else if (m.frid == -2L && m.luv > 0L) Seq((ro, -1L, m.rows, m.luv))
            else m.runs.map(r => (ro + r._1, r._2, r._3, r._4))
          }
          // run-list hygiene (r12): same-commit neighbors coalesce
          // (contiguous positions + consecutive ids + one luv); a list
          // still past the ceiling trips the MATERIALIZE path — the bin
          // rewrites its rows through the sink, lineage lands in-row and
          // the entry stays O(1) instead of accreting one run per member
          // per generation (SCALING.md's LineageDeepBench kilocommit
          // bloat).
          val mergedRuns = JsonlStats.coalesceRuns(mergedRuns0)
          // an ALL-materialized bin produces no runs — the entry must
          // still declare in-row lineage (frid = -2) or the commit
          // would re-stamp it and override every row's carried id
          // (r10 review)
          val mergedFrid =
            if (mergedRuns.isEmpty && members.exists(_.frid == -2L)) -2L else -1L
          Bin(members, out,
            if (mergedRuns.size > JsonlStats.MaxRunsPerEntry) None
            else Some(JsonlStats.FileStats(out, mn, mx, members.map(_.rows).sum, pkey,
              mergedCols, colNonNull = mergedN, strCols = mergedS, ckpts = mergedK,
              segb = mergedSegB, pspec = pspec, seq = seq,
              frid = mergedFrid, runs = mergedRuns, vcells = mergedV)))
        }
    }
    if (bins.isEmpty) return (stats.size, stats.size, 0)
    val (concat, materialized) = bins.partition(_.entry.isDefined)
    // byte-concat bins copy in parallel as one job — a metadata-bounded
    // maintenance task list, each task a streaming byte concat on
    // shared storage
    if (concat.nonEmpty) {
      val rootCopy = tableRoot
      val work = concat.map(b => (b.members.map(_.file), b.out))
      SparkSession.active.sparkContext
        .parallelize(work, math.min(work.size, 32))
        .foreach { case (members, out) => GraftProcedures.concatFiles(rootCopy, members, out) }
    }
    // runaway-run bins (r12) rewrite their rows through the sink, in
    // concat order: lineage lands in-row, and the writer's entry
    // (frid = -2, zero runs, regenerated checkpoints and zones) keeps
    // the bin's key, spec and sequence number
    val matEntries = materialized.zip(rewriteRows(tableRoot, materialized.map(b =>
      (b.members.map(wholeFile(tableRoot, _)), b.out, b.members.head.pkey))))
      .collect { case (b, c) if c.file != null =>
        c.entry(b.members.head.pspec).copy(seq = b.members.head.seq) }
    val entries = concat.flatMap(_.entry) ++ matEntries
    // OCC rewrite (r8): every bin member's planned entry must survive
    // verbatim — a DV attached to a member since planning would have
    // its masked rows resurrected by the byte concat, so that
    // CONFLICTS; files appended concurrently ride through untouched
    // (compaction commutes with ingest)
    val mergedNames = bins.flatMap(_.members.map(_.file)).toSet
    JsonlStats.commitAtomic(tableRoot, s"compact-$runId",
      JsonlStats.rebaseRewrite(
        stats.filter(s => mergedNames.contains(s.file)).map(JsonlStats.statsLine),
        entries.map(JsonlStats.statsLine)))
    // members leave the live manifest but stay on disk: the archived
    // pre-compaction snapshot still references them, so VERSION AS OF
    // keeps working until [[vacuum]] expires it (deferred GC, r7)
    (stats.size, stats.size - mergedNames.size + entries.size, mergedNames.size)
  }

  /** Does the file's last byte equal `\n`? (Empty = vacuously true.)
    * Driver-side, one positioned read per compaction member. */
  private def endsWithNewline(tableRoot: String, file: String): Boolean = {
    val p = Paths.get(tableRoot, file)
    try {
      val ch = Files.newByteChannel(p)
      try {
        if (ch.size() == 0) true
        else {
          ch.position(ch.size() - 1)
          val bb = java.nio.ByteBuffer.allocate(1)
          ch.read(bb)
          bb.get(0) == '\n'
        }
      } finally ch.close()
    } catch { case _: Throwable => false }
  }

  /** Streaming byte concat of newline-terminated JSONL members; patches
    * a missing trailing newline between members so lines never fuse. */
  private[sources] def concatFiles(tableRoot: String, members: Seq[String], out: String): Unit = {
    val dest = Paths.get(tableRoot, out)
    val os = new java.io.BufferedOutputStream(
      Files.newOutputStream(dest, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING), 1 << 16)
    try {
      members.foreach { m =>
        val in = new java.io.BufferedInputStream(
          Files.newInputStream(Paths.get(tableRoot, m)), 1 << 16)
        try {
          var last = -1
          var b = in.read()
          while (b >= 0) { os.write(b); last = b; b = in.read() }
          if (last >= 0 && last != '\n') os.write('\n')
        } finally in.close()
      }
    } finally os.close()
  }

  /** A CALL's dotted view name as an identifier: the last part is the
    * view, the rest its namespace under the warehouse root. */
  private[sources] def viewIdent(dotted: String): Identifier = {
    val parts = dotted.split('.')
    require(parts.nonEmpty && parts.forall(_.nonEmpty), s"malformed view name '$dotted'")
    Identifier.of(parts.init, parts.last)
  }
}

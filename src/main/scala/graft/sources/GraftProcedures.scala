package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Stored procedures for [[GraftCatalog]] (`ProcedureCatalog`, Spark 4's
  * V2 procedure API): table MAINTENANCE addressed as SQL —
  * `CALL <catalog>.compact('<table>', <target_bytes>)` — the Iceberg
  * `rewrite_data_files` shape on this engine's manifest protocol.
  *
  * Compaction is the inverse pressure of the reader's byte-range
  * splits: splits keep one oversized file from becoming one task, while
  * compaction keeps a thousand undersized files (a streaming ingest's
  * natural output) from costing a thousand task launches and manifest
  * entries. Together they bound task size from both ends.
  *
  * The operation never parses a row: JSONL is concatenation-safe, so a
  * bin of small files becomes one file by STREAMING BYTE COPY (the
  * engine guarantees newline-terminated data files; a missing trailing
  * newline is patched during the copy), and the merged manifest entry
  * is derived from the members' entries — bounds = min/max of member
  * bounds, rows = sum of member counts, pkey preserved (bins never
  * cross keys, so a compacted key-grouped table keeps its SPJ layout).
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

  /** One compaction bin: member data files (relative names) → the
    * merged output file, with its ready-made manifest entry.
    * `matLineages` (r12): present when the bin's run list crossed
    * [[JsonlStats.MaxRunsPerEntry]] — the copy job then SPLICES each
    * member's manifest lineage in-row (one `Lineage` per member, in
    * order) instead of a pure byte concat, and the entry declares
    * frid = -2 with no runs. */
  private final case class Bin(members: Seq[String], out: String,
                               entry: JsonlStats.FileStats,
                               matLineages: Option[Seq[JsonlStats.Lineage]] = None)

  class CompactUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "compact"
    override def description(): String =
      "compact(table, target_bytes): bin-pack small data files into target-sized ones"
    override def bind(inputType: StructType): BoundProcedure = new CompactBound(root)
  }

  class CompactBound(root: String) extends BoundProcedure {
    override def name(): String = "compact"
    override def description(): String =
      "bin-pack small manifest files into target-sized ones (manifest-swap commit)"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("target_bytes", LongType)
        .defaultValue(JsonlStats.DefaultSplitBytes.toString).build(),
      // SCOPED maintenance (r9c, the Delta `OPTIMIZE ... WHERE` shape):
      // '' = whole table; a partition value compacts only files whose
      // manifest pkey equals it — at 100 TB you compact yesterday's
      // partition, never the table
      ProcedureParameter.in("partition", StringType).defaultValue("''").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val target = input.getLong(1)
      require(target > 0, s"target_bytes must be positive, got $target")
      val part = Option(input.getUTF8String(2)).map(_.toString).filter(_.nonEmpty)
      val dir = Paths.get(root, table)
      require(Files.exists(dir.resolve("_stats.jsonl")), s"no such table $table under $root")
      val (before, after, merged) = GraftProcedures.compact(dir.toString, target, part)
      java.util.List.of[Scan](new CompactResultScan(before, after, merged)).iterator()
    }
  }

  /** CALL's result set: one row of compaction accounting. */
  class CompactResultScan(before: Int, after: Int, merged: Int) extends LocalScan {
    override def readSchema(): StructType = StructType(Seq(
      StructField("files_before", IntegerType, nullable = false),
      StructField("files_after", IntegerType, nullable = false),
      StructField("files_merged", IntegerType, nullable = false)))
    override def rows(): Array[InternalRow] =
      Array(InternalRow(before, after, merged))
    override def description(): String =
      s"compact result: $before -> $after files ($merged merged)"
  }

  class ZOrderUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "zorder"
    override def description(): String =
      "zorder(table, col_a, col_b, target_bytes): rewrite data files clustered by the Morton interleave of two columns"
    override def bind(inputType: StructType): BoundProcedure = new ZOrderBound(root)
  }

  /** `CALL <cat>.zorder('<table>', 'col_a', 'col_b'[, target_bytes])` —
    * OPTIMIZE ZORDER BY for the manifest protocol. Unlike [[compact]]
    * (a byte-level repack that never parses a row), zorder is a full
    * REWRITE: rows are re-bucketed by the Morton interleave of the two
    * named columns' 256-rank range buckets and re-written range-
    * partitioned + sorted by that z-value, so each output file covers a
    * compact z-cell run. The payoff is pure synergy with the r7b
    * per-column manifest stats: a z-clustered file has TIGHT bounds on
    * BOTH dimensions at once, so an ordinary 2-D box predicate prunes
    * ≈ the product of the selectivities from the manifest alone — no
    * z-cell arithmetic, no bounds artifact, no special read path (the
    * `ingest/ZOrder` parquet variant needs all three; here the manifest
    * IS the index and plain range predicates do the work). */
  class ZOrderBound(root: String) extends BoundProcedure {
    override def name(): String = "zorder"
    override def description(): String =
      "rewrite the table clustered by the Morton interleave of two columns"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("col_a", StringType).build(),
      ProcedureParameter.in("col_b", StringType).build(),
      ProcedureParameter.in("target_bytes", LongType)
        .defaultValue(JsonlStats.DefaultSplitBytes.toString).build(),
      // SCOPED maintenance (r12, the `OPTIMIZE ... WHERE` shape): '' =
      // whole table (unkeyed layouts only); a partition value
      // re-clusters ONE pkey's files — at 100 TB you zorder
      // yesterday's partition after it closes, never the table
      ProcedureParameter.in("partition", StringType).defaultValue("''").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val colA = input.getUTF8String(1).toString
      val colB = input.getUTF8String(2).toString
      val target = input.getLong(3)
      require(target > 0, s"target_bytes must be positive, got $target")
      val part = Option(input.getUTF8String(4)).map(_.toString).filter(_.nonEmpty)
      val dir = Paths.get(root, table)
      require(Files.exists(dir.resolve("_stats.jsonl")), s"no such table $table under $root")
      val (before, after, rows) = part match {
        case Some(p) => GraftProcedures.zorderScoped(dir.toString, colA, colB, target, p)
        case None => GraftProcedures.zorder(dir.toString, colA, colB, target)
      }
      java.util.List.of[Scan](new ZOrderResultScan(before, after, rows)).iterator()
    }
  }

  /** CALL's result set: one row of rewrite accounting. */
  class ZOrderResultScan(before: Int, after: Int, rows: Long) extends LocalScan {
    override def readSchema(): StructType = StructType(Seq(
      StructField("files_before", IntegerType, nullable = false),
      StructField("files_after", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false)))
    override def rows(): Array[InternalRow] =
      Array(InternalRow(before, after, rows))
    override def description(): String =
      s"zorder result: $before -> $after files, $rows rows"
  }

  class RewriteDeletesUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "rewrite_deletes"
    override def description(): String =
      "rewrite_deletes(table): collapse deletion vectors into clean rewritten data files"
    override def bind(inputType: StructType): BoundProcedure = new RewriteDeletesBound(root)
  }

  /** `CALL <cat>.rewrite_deletes('<table>')` — Iceberg's
    * `rewrite_position_delete_files` / DV major compaction: every data
    * file carrying deletion vectors is rewritten WITHOUT its masked
    * rows, its stats recomputed from the survivors (fresh attained
    * bounds — re-arming the MIN/MAX pushdown that DVs had declined),
    * and the manifest swap replaces entry + DVs in one commit. Clean
    * files regain byte-range splittability and compaction eligibility.
    * One task per DV'd file (metadata-bounded task list, like
    * [[compact]]); untouched files never read. Old files + DVs stay on
    * disk for archived snapshots (deferred GC). */
  class RewriteDeletesBound(root: String) extends BoundProcedure {
    override def name(): String = "rewrite_deletes"
    override def description(): String =
      "collapse deletion vectors into clean rewritten data files"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val dir = Paths.get(root, table)
      require(Files.exists(dir.resolve("_stats.jsonl")), s"no such table $table under $root")
      val (rewritten, dvsDropped, rowsDropped) = GraftProcedures.rewriteDeletes(dir.toString)
      val schema = StructType(Seq(
        StructField("files_rewritten", IntegerType, nullable = false),
        StructField("dvs_collapsed", IntegerType, nullable = false),
        StructField("rows_dropped", LongType, nullable = false)))
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] =
          Array(InternalRow(rewritten, dvsDropped, rowsDropped))
        override def description(): String =
          s"rewrite_deletes result: $rewritten files, $dvsDropped DVs, $rowsDropped rows dropped"
      }).iterator()
    }
  }

  class DetailUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "detail"
    override def description(): String =
      "detail(table): one-row table report — version, files, rows, deletes, bytes"
    override def bind(inputType: StructType): BoundProcedure = new DetailBound(root)
  }

  /** `CALL <cat>.detail('<table>')` — DESCRIBE DETAIL for the manifest
    * protocol: the one-row operational report every table format ships
    * (Delta's DESCRIBE DETAIL): current version, live file/row/byte
    * counts, deletion-vector debt (files carrying DVs + masked rows —
    * the rewrite_deletes backlog), and layout facts (keyed?, stats
    * column). Pure manifest arithmetic plus per-file `Files.size` —
    * metadata-priced, no data file opened. */
  class DetailBound(root: String) extends BoundProcedure {
    override def name(): String = "detail"
    override def description(): String = "one-row table report from manifest arithmetic"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val dir = Paths.get(root, table)
      require(Files.exists(dir.resolve("_stats.jsonl")), s"no such table $table under $root")
      val stats = JsonlStats.readStats(dir.toString)
      val meta = JsonlStats.readTableMeta(dir.toString)
      val sized = stats.map { s =>
        val p = dir.resolve(s.file)
        s -> (if (Files.exists(p)) Files.size(p) else 0L)
      }
      val bytes = sized.map(_._2).sum
      val haveRows = stats.forall(_.rows >= 0)
      val row = InternalRow(
        JsonlStats.currentVersion(dir.toString),
        stats.size,
        if (haveRows) Long.box(stats.map(_.rows).sum) else null,
        if (haveRows) Long.box(stats.map(s => s.rows - s.dels).sum) else null,
        stats.count(_.dvs.nonEmpty),
        stats.map(_.dels).sum,
        bytes,
        meta.partitionCol.isDefined,
        org.apache.spark.unsafe.types.UTF8String.fromString(
          meta.statsCol.getOrElse(JsonlStats.statsColumn)),
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
        meta.partitionCol.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull,
        meta.partitionCol.forall(pc =>
          stats.forall(_.pspec.forall(_ == pc))) && stats.forall(_.pkey.isDefined ||
            meta.partitionCol.isEmpty),
        meta.gramCol.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull,
        JsonlStats.historyVersions(dir.toString).count { v =>
          val pth = dir.resolve(s"${JsonlStats.HistoryDir}/v$v.jsonl")
          scala.util.Try(Files.newBufferedReader(pth).readLine())
            .toOption.exists(l => l != null && l.startsWith("{\"delta_base\""))
        })
      val schema = StructType(Seq(
        StructField("version", IntegerType, nullable = false),
        StructField("n_files", IntegerType, nullable = false),
        StructField("n_rows_physical", LongType),
        StructField("n_rows_live", LongType),
        StructField("n_files_with_dvs", IntegerType, nullable = false),
        StructField("n_rows_masked", LongType, nullable = false),
        StructField("live_bytes", LongType, nullable = false),
        StructField("key_grouped", BooleanType, nullable = false),
        StructField("stats_column", StringType, nullable = false),
        StructField("n_oversized_no_ckpts", IntegerType, nullable = false),
        StructField("partition_spec", StringType),
        StructField("spec_uniform", BooleanType, nullable = false),
        StructField("gram_column", StringType),
        StructField("n_delta_snapshots", IntegerType, nullable = false)))
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(row)
        override def description(): String = s"detail of $table"
      }).iterator()
    }
  }

  class HistoryUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "history"
    override def description(): String =
      "history(table): one row per generation — version, supersede time, files, rows"
    override def bind(inputType: StructType): BoundProcedure = new HistoryBound(root)
  }

  /** `CALL <cat>.history('<table>')` — DESCRIBE HISTORY for the
    * manifest protocol: version number, the instant it was superseded
    * (null for the live generation — an archive file's mtime IS that
    * instant, the same convention TIMESTAMP AS OF resolves by), and
    * the generation's file/row counts read from its archived manifest.
    * Metadata-only: no data file is touched. */
  class HistoryBound(root: String) extends BoundProcedure {
    override def name(): String = "history"
    override def description(): String = "per-generation version/supersede/files/rows"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val dir = Paths.get(root, table)
      require(Files.exists(dir.resolve("_stats.jsonl")), s"no such table $table under $root")
      val current = JsonlStats.currentVersion(dir.toString)
      // vacuumed generations have no manifest to describe: list only
      // the surviving archive versions (a vacuumed prefix is a gap)
      val generations = (JsonlStats.historyVersions(dir.toString) :+ current).map { v =>
        val (manifest, supersedeUs) =
          if (v == current) ("_stats.jsonl", null)
          else {
            val p = s"${JsonlStats.HistoryDir}/v$v.jsonl"
            (p, Long.box(Files.getLastModifiedTime(dir.resolve(p)).toMillis * 1000L))
          }
        val stats = JsonlStats.readStats(dir.toString, manifest)
        InternalRow(v, supersedeUs,
          stats.size, if (stats.forall(_.rows >= 0)) Long.box(stats.map(_.rows).sum) else null)
      }
      val schema = StructType(Seq(
        StructField("version", IntegerType, nullable = false),
        StructField("superseded_at", TimestampType),
        StructField("n_files", IntegerType, nullable = false),
        StructField("n_rows", LongType)))
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = generations.toArray
        override def description(): String = s"history of $table: $current generations"
      }).iterator()
    }
  }

  class VacuumUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "vacuum(table, retain_last, orphan_grace_ms): expire old snapshots and GC their files"
    override def bind(inputType: StructType): BoundProcedure = new VacuumBound(root)
  }

  /** `CALL <cat>.vacuum('<table>', retain_last, orphan_grace_ms)` — the
    * deletion point of the deferred-GC protocol (Delta VACUUM / Iceberg
    * `expire_snapshots` + `remove_orphan_files` in one service).
    * `retain_last` counts VERSIONS kept including the live one
    * (default 2 = live + newest archive); `orphan_grace_ms` guards the
    * unreferenced-file sweep (default 7 days — an in-flight write's
    * uncommitted task files look exactly like crash orphans, and only
    * AGE distinguishes them; tests pass 0 on quiesced tables). */
  class VacuumBound(root: String) extends BoundProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "expire archived generations beyond retention; delete their unreferenced files"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("retain_last", IntegerType).defaultValue("2").build(),
      ProcedureParameter.in("orphan_grace_ms", LongType)
        .defaultValue((7L * 24 * 3600 * 1000).toString).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val retain = input.getInt(1)
      val grace = input.getLong(2)
      require(retain >= 1, s"retain_last must be >= 1, got $retain")
      require(grace >= 0, s"orphan_grace_ms must be >= 0, got $grace")
      val dir = Paths.get(root, table)
      require(Files.exists(dir.resolve("_stats.jsonl")), s"no such table $table under $root")
      val (expired, dataDeleted, orphans, oldest) =
        GraftProcedures.vacuum(dir.toString, retain, grace)
      val schema = StructType(Seq(
        StructField("expired_versions", IntegerType, nullable = false),
        StructField("data_files_deleted", IntegerType, nullable = false),
        StructField("orphan_files_deleted", IntegerType, nullable = false),
        StructField("oldest_retained_version", IntegerType, nullable = false)))
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] =
          Array(InternalRow(expired, dataDeleted, orphans, oldest))
        override def description(): String =
          s"vacuum result: $expired versions expired, $dataDeleted + $orphans files deleted"
      }).iterator()
    }
  }

  class CloneUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "clone"
    override def description(): String =
      "clone(source, target): zero-copy clone — hard-link data files, fresh manifest"
    override def bind(inputType: StructType): BoundProcedure = new CloneBound(root)
  }

  /** `CALL <cat>.clone('<src>', '<dst>')` — the dev/test-sandbox idiom
    * (Delta SHALLOW CLONE): a new table whose manifest lists the
    * source's CURRENT data files, materialized as HARD LINKS — zero
    * bytes copied, metadata-bounded work. The immutable-data-file
    * contract makes this safe with no refcounting of its own: neither
    * table ever modifies a shared file (every write path publishes new
    * names), and when one side's VACUUM unlinks its link the
    * filesystem's link count keeps the other side's bytes alive. The
    * clone starts with fresh history (version 1) and no horizon; bloom
    * sidecars link along with their files. Cross-device roots degrade
    * to a byte copy per file (still correct, no longer zero-cost). */
  class CloneBound(root: String) extends BoundProcedure {
    override def name(): String = "clone"
    override def description(): String = "hard-link clone of a table's live generation"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("source", StringType).build(),
      ProcedureParameter.in("target", StringType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = input.getUTF8String(0).toString
      val dst = input.getUTF8String(1).toString
      val srcDir = Paths.get(root, src)
      val dstDir = Paths.get(root, dst)
      require(Files.exists(srcDir.resolve("_stats.jsonl")), s"no such table $src under $root")
      require(!Files.exists(dstDir.resolve("_stats.jsonl")), s"table $dst already exists")
      val (linked, copied) = GraftProcedures.cloneTable(srcDir.toString, dstDir.toString)
      val schema = StructType(Seq(
        StructField("files_linked", IntegerType, nullable = false),
        StructField("files_copied", IntegerType, nullable = false)))
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(InternalRow(linked, copied))
        override def description(): String = s"clone result: $linked linked, $copied copied"
      }).iterator()
    }
  }

  /** `CALL analyze_table(table)` (r9c, [[ColStats]]): one distributed
    * scan computes per-column NDV (HLL++) and string lengths into the
    * `_colstats.json` sidecar; the scan's `estimateStatistics` then
    * serves them to CBO. Returns the analyze accounting, including how
    * stale the previous sidecar had become. */
  class AnalyzeUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "analyze_table"
    override def description(): String =
      "analyze_table(table): compute NDV/length column statistics for cost-based planning"
    override def bind(inputType: StructType): BoundProcedure = new AnalyzeBound(root)
  }

  class AnalyzeBound(root: String) extends BoundProcedure {
    override def name(): String = "analyze_table"
    override def description(): String = "one-pass column statistics scan"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("histogram", BooleanType).defaultValue("false").build(),
      ProcedureParameter.in("hist_bins", IntegerType).defaultValue("32").build(),
      // restrict the (two-pass) histogram work to named columns;
      // '' = every numeric column
      ProcedureParameter.in("hist_cols", StringType).defaultValue("''").build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val dir = Paths.get(root, table)
      require(Files.exists(dir.resolve("_stats.jsonl")), s"no such table $table under $root")
      val prev = ColStats.read(dir.toString)
      val hc = Option(input.getUTF8String(3)).map(_.toString).filter(_.nonEmpty)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      // plain ANALYZE is delta-proportional (r15): only file identities
      // missing from the sketch cache are read; histograms keep the
      // full pass (a second bounded pass is inherently non-incremental)
      val (s, filesScanned) =
        if (input.getBoolean(1))
          (ColStats.analyze(SparkSession.active, dir.toString,
            histogram = true, histBins = input.getInt(2), histCols = hc),
            JsonlStats.readStats(dir.toString).size)
        else ColStats.analyzeIncremental(SparkSession.active, dir.toString)
      val schema = StructType(Seq(
        StructField("columns_analyzed", IntegerType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("analyzed_version", IntegerType, nullable = false),
        StructField("versions_stale_before", IntegerType, nullable = false),
        StructField("files_scanned", IntegerType, nullable = false)))
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(InternalRow(
          s.cols.size, s.rows, s.version,
          prev.map(p => s.version - p.version).getOrElse(-1), filesScanned))
        override def description(): String = s"analyze_table $table"
      }).iterator()
    }
  }

  class GramIndexUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "build_gram_index"
    override def description(): String =
      "build_gram_index(table, column): declare + backfill the substring gram index"
    override def bind(inputType: StructType): BoundProcedure = new GramIndexBound(root)
  }

  /** `CALL <cat>.build_gram_index('<table>', '<column>')` — declares
    * the substring gram index ([[Bloom]] r9) on a STRING column and
    * BACKFILLS the per-file gram sidecars for every live data file.
    * Declaration lands FIRST (sidecar write under the meta lock), so a
    * write racing the backfill sidecars its own files; the backfill is
    * one Spark job over the manifest's file list — a file-count-bounded
    * maintenance pass, each task one streaming parse (the same shape as
    * rewrite_deletes). Re-CALLing rebuilds — idempotent. */
  class GramIndexBound(root: String) extends BoundProcedure {
    override def name(): String = "build_gram_index"
    override def description(): String = "backfill substring gram sidecars"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("column", StringType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val column = input.getUTF8String(1).toString
      val dir = Paths.get(root, table)
      require(Files.exists(dir.resolve("_stats.jsonl")), s"no such table $table under $root")
      val n = GraftProcedures.buildGramIndex(dir.toString, column)
      val schema = StructType(Seq(
        StructField("files_indexed", IntegerType, nullable = false)))
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(InternalRow(n))
        override def description(): String = s"gram index: $n files indexed"
      }).iterator()
    }
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

  class CompactHistoryUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "compact_history"
    override def description(): String =
      "compact_history(table, keep_recent, full_every): re-encode archived snapshots as reverse deltas"
    override def bind(inputType: StructType): BoundProcedure = new CompactHistoryBound(root)
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
    * bases, so expiry never strands a chain. */
  class CompactHistoryBound(root: String) extends BoundProcedure {
    override def name(): String = "compact_history"
    override def description(): String = "reverse-delta encoding of archived manifests"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep_recent", IntegerType).defaultValue("4").build(),
      ProcedureParameter.in("full_every", IntegerType).defaultValue("16").build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val keepRecent = input.getInt(1)
      val fullEvery = input.getInt(2)
      require(keepRecent >= 2, s"keep_recent must be >= 2 (OCC lease slots), got $keepRecent")
      require(fullEvery >= 2, s"full_every must be >= 2, got $fullEvery")
      val dir = Paths.get(root, table)
      require(Files.exists(dir.resolve("_stats.jsonl")), s"no such table $table under $root")
      val (rewritten, before, after) =
        GraftProcedures.compactHistory(dir.toString, keepRecent, fullEvery)
      val schema = StructType(Seq(
        StructField("snapshots_rewritten", IntegerType, nullable = false),
        StructField("bytes_before", LongType, nullable = false),
        StructField("bytes_after", LongType, nullable = false)))
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(InternalRow(rewritten, before, after))
        override def description(): String =
          s"history compaction: $rewritten snapshots, $before -> $after bytes"
      }).iterator()
    }
  }

  /** Core of [[CompactHistoryBound]]. Returns (rewritten, archive bytes
    * before, after) over the candidate range. */
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

  class EvolveSpecUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "evolve_partition_spec"
    override def description(): String =
      "evolve_partition_spec(table, spec): change the partition transform without rewriting data"
    override def bind(inputType: StructType): BoundProcedure = new EvolveSpecBound(root)
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
    * re-CALL to finish. */
  class EvolveSpecBound(root: String) extends BoundProcedure {
    override def name(): String = "evolve_partition_spec"
    override def description(): String = "stamp per-file specs and swap the table transform"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("spec", StringType).build())

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val specStr = input.getUTF8String(1).toString
      val dir = Paths.get(root, table)
      require(Files.exists(dir.resolve("_stats.jsonl")), s"no such table $table under $root")
      val (before, stamped) = GraftProcedures.evolvePartitionSpec(dir.toString, specStr)
      val schema = StructType(Seq(
        StructField("spec_before", StringType, nullable = true),
        StructField("spec_after", StringType, nullable = true),
        StructField("files_stamped", IntegerType, nullable = false)))
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(InternalRow(
          before.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull,
          if (specStr.isEmpty) null
          else org.apache.spark.unsafe.types.UTF8String.fromString(specStr),
          stamped))
        override def description(): String =
          s"partition evolution: ${before.getOrElse("<none>")} -> $specStr"
      }).iterator()
    }
  }

  /** Stamp + swap core of [[EvolveSpecBound]]. Returns (previous spec,
    * entries stamped). */
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

  /** The maintenance core. Greedy first-fit over size-sorted
    * sub-target files, binned WITHIN each pkey (an unkeyed table is one
    * key group of None); only bins of ≥2 members rewrite anything.
    * Returns (files_before, files_after, files_merged). */
  /** The zorder rewrite: read the live generation through the connector,
    * cluster by the Morton interleave of `colA`/`colB`, write back
    * through the connector's own overwrite path. Self-overwrite is safe
    * by the table format's own laws: the scan pins the live manifest at
    * planning, writer tasks emit attempt-unique new files, the atomic
    * manifest swap is the only visibility change, and deferred GC keeps
    * the old generation's files on disk for its archived snapshot —
    * so `VERSION AS OF` still reads the pre-zorder layout afterwards.
    *
    * Refuses key-grouped layouts: re-clustering would destroy the
    * one-pkey-per-file contract the SPJ leg depends on ([[compact]]
    * preserves keys by never binning across them; zorder by definition
    * mixes rows across files). Bucket ranks use double math over the
    * observed [min, max] of each dimension — monotone, which is all
    * clustering needs (no read-side mirror exists to disagree with:
    * the manifest bounds the writer measures ARE the index).
    * Null dimension values rank as bucket 0 (clustered together,
    * still within every file's recorded non-null bounds only). */
  /** SCOPED zorder (r12, the `OPTIMIZE ... WHERE` shape for keyed
    * layouts): re-cluster ONE partition's files by the Morton
    * interleave, leaving every other entry byte-untouched. At 100 TB
    * you zorder yesterday's `days(ts)` partition after it closes —
    * never the table. The scope's rows are read through a TEMPORARY
    * manifest naming exactly the scoped entries (plus the table's
    * eqdel/txn lines, so masks apply with their seq semantics), the
    * z-clustered output lands via a STAGED plain write (no keyed
    * distribution requirement to fight the z range-partitioning — the
    * pkey is a constant over the scope, so it is stamped onto the
    * fresh entries directly, `pspec` included), files move into the
    * table directory, and ONE rewrite commit replaces the scoped
    * entries under the same OCC law as row-level DML: a rival that
    * touched a scoped file (DV attach, compaction) conflicts loudly.
    * Lineage rides in-row exactly like the global path (ids project
    * through the rewrite, entries publish frid = -2); an unassigned
    * table's fresh entries stay unassigned. */
  def zorderScoped(tableRoot: String, colA: String, colB: String,
                   targetBytes: Long, partition: String): (Int, Int, Long) = {
    import org.apache.spark.sql.functions._
    val meta = JsonlStats.readTableMeta(tableRoot)
    val statsCol = meta.statsCol.getOrElse(JsonlStats.statsColumn)
    val spark = SparkSession.active
    val raw = JsonlStats.readManifestLines(tableRoot, "_stats.jsonl").filter(_.nonEmpty)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def isEntry(l: String) = mapper.readTree(l).hasNonNull("file")
    val all = JsonlStats.parseStatsLines(raw)
    val scoped = all.filter(_.pkey.contains(partition))
    require(scoped.nonEmpty,
      s"zorder($tableRoot, partition => '$partition'): no live file carries that pkey " +
        s"(pkeys: ${all.flatMap(_.pkey).distinct.sorted.take(10).mkString(", ")})")
    if (scoped.size == 1 && scoped.head.dvs.isEmpty) return (all.size, all.size, scoped.head.rows)
    val scopedNames = scoped.map(_.file).toSet
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // a read-only snapshot manifest of exactly the scope: scoped entry
    // lines verbatim + every non-entry line except the counter (eqdels
    // keep their seq semantics; the counter is commit-protocol state)
    val tmpManifest = s"_zscope-$runId.jsonl"
    val tmpLines = raw.filter(l =>
      if (isEntry(l)) scopedNames.contains(mapper.readTree(l).get("file").asText())
      else !l.contains(JsonlStats.NextRowIdKey))
    Files.write(Paths.get(tableRoot, tmpManifest), tmpLines.asJava)
    val staging = Paths.get(tableRoot, s"_zorder-staging-$runId")
    try {
      var reader = spark.read.format("graft-jsonl-stats")
        .option("path", tableRoot).option("manifest", tmpManifest)
        .option("statsColumn", statsCol)
      meta.schema.foreach(s => reader = reader.schema(s))
      val df = reader.load()
      require(df.columns.contains(colA) && df.columns.contains(colB),
        s"zorder columns must exist in the table schema: $colA, $colB vs ${df.columns.mkString(",")}")
      val b = df.agg(
        min(col(colA)).cast("double"), max(col(colA)).cast("double"),
        min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
      if (b.isNullAt(0) || b.isNullAt(2)) return (all.size, all.size, scoped.map(_.rows).sum)
      val zc = mortonColumn(colA, colB, b.getDouble(0), b.getDouble(1),
        b.getDouble(2), b.getDouble(3))
      val hasLineage = scoped.exists(s => s.frid >= 0L || s.frid == -2L || s.runs.nonEmpty)
      val src =
        if (!hasLineage) df
        else df.select(col("*"), col(JsonlStats.RowIdMeta),
          col(JsonlStats.LuvMeta).as(JsonlStats.LuvField))
      val liveBytes = scoped.map { s =>
        val p = Paths.get(tableRoot, s.file)
        if (Files.exists(p)) Files.size(p) else 0L
      }.sum
      val nOut = math.max(1L, (liveBytes + targetBytes - 1) / targetBytes).toInt
      Files.createDirectories(staging)
      // the staged write must speak the TABLE's physical dialect —
      // column mapping renames are metadata-only and files carry
      // PHYSICAL keys, so seed the staging sidecar with the table meta
      // (minus the layout columns: partitionCol would re-key the write
      // and fight the z range-partitioning; sortCol would re-sort it)
      JsonlStats.writeTableMeta(staging.toString,
        meta.copy(partitionCol = None, sortCol = None))
      var writer = src.withColumn("__graft_z", zc)
        .repartitionByRange(nOut, col("__graft_z"))
        .sortWithinPartitions("__graft_z")
        .drop("__graft_z")
        .write.format("graft-jsonl-stats")
        .option("path", staging.toString).option("statsColumn", statsCol)
      meta.bloomCol.foreach(bc => writer = writer.option("bloomColumn", bc))
      meta.gramCol.foreach(gc => writer = writer.option("gramColumn", gc))
      writer.mode("overwrite").save()
      val staged = JsonlStats.readStats(staging.toString)
      staged.foreach(s => Files.move(staging.resolve(s.file), Paths.get(tableRoot, s.file)))
      // the scope's pkey is a row-level invariant (every source file
      // carried it), so fresh entries stamp it directly — the staged
      // write was deliberately UNKEYED so z range-partitioning survives
      val fresh = staged.map { s =>
        val keyed = s.copy(pkey = Some(partition), pspec = meta.partitionCol)
        if (hasLineage) keyed // frid = -2, ids materialized in-row
        else keyed.copy(frid = -1L, luv = 0L, runs = Nil) // stays unassigned/restamps like any rewrite
      }
      val removedLines = scoped.map(JsonlStats.statsLine)
      JsonlStats.commitAtomic(tableRoot, s"zorder-scoped-$runId", base => {
        val m = JsonlEqualityDeletes.maxSeq(base)
        val freshLines = fresh.map(fs => JsonlStats.statsLine(
          if (m == 0L) fs else fs.copy(seq = m)))
        JsonlStats.rebaseRewrite(removedLines, freshLines)(base)
      })
      (all.size, all.size - scoped.size + staged.size, fresh.map(_.rows).sum)
    } finally {
      Files.deleteIfExists(Paths.get(tableRoot, tmpManifest))
      if (Files.exists(staging)) graft.util.Fs.deleteRecursively(staging.toString)
    }
  }

  /** Morton z-value of two 256-rank range buckets (shared by the
    * global and scoped zorder paths). */
  private def mortonColumn(colA: String, colB: String,
      aLo: Double, aHi: Double, bLo: Double, bHi: Double): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    def bucket(c: Column, mn: Double, mx: Double): Column =
      if (mx <= mn) lit(0)
      else least(lit(255), greatest(lit(0),
        floor((c.cast("double") - lit(mn)) / lit(mx - mn) * 256).cast("int")))
    val bx = coalesce(bucket(col(colA), aLo, aHi), lit(0))
    val by = coalesce(bucket(col(colB), bLo, bHi), lit(0))
    (0 until 8).map { i =>
      shiftleft(shiftright(bx, i).bitwiseAND(lit(1)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(by, i).bitwiseAND(lit(1)), 2 * i))
    }.reduce(_ bitwiseOR _)
  }

  def zorder(tableRoot: String, colA: String, colB: String, targetBytes: Long): (Int, Int, Long) = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val meta = JsonlStats.readTableMeta(tableRoot)
    require(meta.partitionCol.isEmpty,
      "zorder refuses key-grouped layouts: re-clustering would destroy the " +
        "one-pkey-per-file SPJ contract (compact preserves keys; zorder cannot) — " +
        "scope it instead: zorder(table, a, b, target, partition => '<pkey>') " +
        "re-clusters ONE partition and keeps the contract")
    val statsCol = meta.statsCol.getOrElse(JsonlStats.statsColumn)
    val spark = SparkSession.active
    val stats = JsonlStats.readStats(tableRoot)
    val liveBytes = stats.map { s =>
      val p = Paths.get(tableRoot, s.file)
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
    val nOut = math.max(1L, (liveBytes + targetBytes - 1) / targetBytes).toInt
    var reader = spark.read.format("graft-jsonl-stats")
      .option("path", tableRoot).option("statsColumn", statsCol)
    meta.bloomCol.foreach(bc => reader = reader.option("bloomColumn", bc))
    meta.gramCol.foreach(gc => reader = reader.option("gramColumn", gc))
    meta.schema.foreach(s => reader = reader.schema(s))
    val df = reader.load()
    require(df.columns.contains(colA) && df.columns.contains(colB),
      s"zorder columns must exist in the table schema: $colA, $colB vs ${df.columns.mkString(",")}")
    val b = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    if (b.isNullAt(0) || b.isNullAt(2))
      // empty table or an all-null dimension: no meaningful clustering
      return (stats.size, stats.size, math.max(0L, stats.map(_.rows).sum))
    // 256 range buckets per dimension (8 bits each → 16-bit z), monotone
    val zc = mortonColumn(colA, colB, b.getDouble(0), b.getDouble(1),
      b.getDouble(2), b.getDouble(3))
    // row lineage (r10): a clustering rewrite SCATTERS rows, so ids
    // ride through the rewrite as projected metadata columns and land
    // as materialized in-row fields (the write sees `_row_id`/`_luv`
    // in its schema → publishes frid = -2 and keeps them out of stats
    // and the table contract). Only when the table has assigned ids —
    // an unstamped table rewrites plainly and gets stamped fresh.
    val hasLineage = stats.exists(s => s.frid >= 0L || s.frid == -2L || s.runs.nonEmpty)
    val src =
      if (!hasLineage) df
      else df.select(col("*"), col(JsonlStats.RowIdMeta),
        col(JsonlStats.LuvMeta).as(JsonlStats.LuvField))
    var writer = src.withColumn("__graft_z", zc)
      .repartitionByRange(nOut, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.format("graft-jsonl-stats")
      .option("path", tableRoot).option("statsColumn", statsCol)
    meta.bloomCol.foreach(bc => writer = writer.option("bloomColumn", bc))
    meta.gramCol.foreach(gc => writer = writer.option("gramColumn", gc))
    writer.mode("overwrite").save()
    val after = JsonlStats.readStats(tableRoot)
    (stats.size, after.size, after.map(_.rows).sum)
  }

  /** The DV-collapse core: one Spark task per DV'd file, each streaming
    * its survivors to a fresh file while re-deriving the full stats the
    * writer would have (statsCol bounds, per-numeric-column bounds,
    * bloom hashes) by parsing kept lines — the one maintenance op that
    * must parse, because attained bounds cannot be derived from masked
    * entries. Returns (filesRewritten, dvsCollapsed, rowsDropped). */
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
    val meta = JsonlStats.readTableMeta(tableRoot)
    val schema = meta.schema.getOrElse(JsonlStats.schema)
    val schemaJson = schema.json
    val statsCol = meta.statsCol.getOrElse(JsonlStats.statsColumn)
    val bloomCol = meta.bloomCol
    val gramCol = meta.gramCol
    val mapping = meta.columnMapping
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val work = dirty.zipWithIndex.map { case (s, i) =>
      (s.file, s.dvs, s.pkey, s.pspec, f"part-rwdel-$runId-$i%05d.jsonl", eqdsFor(s),
        JsonlStats.Lineage.of(s), s.sorted)
    }
    val rootCopy = tableRoot
    val fresh: Seq[JsonlStats.FileStats] =
      if (work.isEmpty) Nil
      else SparkSession.active.sparkContext
        .parallelize(work, math.min(work.size, 32))
        .map { case (file, dvs, pkey, pspec, out, eqds, lin, sorted) =>
          GraftProcedures.rewriteOneFile(rootCopy, file, dvs, pkey, out,
            schemaJson, statsCol, bloomCol, mapping, gramCol, pspec, eqds, lin, sorted)
        }
        .collect().toSeq // file-count-bounded: one manifest entry per task
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
        fresh.filter(_.rows > 0).map(JsonlStats.statsLine)))
    // rows_dropped is the MATERIALIZED count — DV'd positions AND
    // eq-masked keys (review r9c: the DV-only sum reported 0 for a
    // pure-upsert rewrite): physical in minus physical out
    (dirty.size, dirty.map(_.dvs.size).sum,
      dirty.map(_.rows).sum - fresh.map(_.rows).sum)
  }

  /** Executor side of [[rewriteDeletes]]: stream `file` minus the DV'd
    * positions into `out`, tracking exactly the stats
    * [[JsonlFileSink]] would. Position counting mirrors the reader
    * (physical non-blank lines, 0-based). */
  private[sources] def rewriteOneFile(root: String, file: String, dvs: Seq[String],
                                      pkey: Option[String], out: String,
                                      schemaJson: String, statsCol: String,
                                      bloomCol: Option[String],
                                      columnMapping: Map[String, String] = Map.empty,
                                      gramCol: Option[String] = None,
                                      pspec: Option[String] = None,
                                      eqds: Seq[(String, Seq[String])] = Nil,
                                      lin: JsonlStats.Lineage = JsonlStats.Lineage(),
                                      sorted: Option[String] = None): JsonlStats.FileStats = {
    import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructType}
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val deleted = JsonlDeleteVectors.readDvPositions(dvs.map(d => Paths.get(root, d).toString))
    // equality deletes (r9b): materialize the key-scoped masks too —
    // the rewritten file drops both position- and key-deleted rows
    val eqMasks = if (eqds.isEmpty) Nil else JsonlEqualityDeletes.readMasks(eqds)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // Data bytes carry PHYSICAL names on column-mapped tables; stats
    // keys are physical too (readers translate logical→physical before
    // consulting them). Parse and key everything by the physical name,
    // mirroring JsonlFileSink.
    def physOf(name: String): String = columnMapping.getOrElse(name, name)
    // temporal columns (r11) bound like longs here too: their stored
    // JSON image IS the epoch number, so asDouble() below reads it —
    // rewrite_deletes regenerates time bounds instead of dropping them
    val numFields = schema.fields.filter(f => JsonlStats.numericStatType(f.dataType))
      .map(f => f.copy(name = physOf(f.name)))
    // vector stats (r12): the collapse regenerates `#norm`/`#cell`
    // bounds AND the exact cell bitmap for float/double arrays —
    // pre-r12 rewrites silently DROPPED them (conservative but a full
    // scan on every probe after the first rewrite). Same arithmetic as
    // the sink ([[JsonlStats.vecNormOf]]/[[JsonlStats.vecCellOf]]).
    val vecNames: Array[String] = schema.fields
      .filter(f => JsonlStats.isVectorType(f.dataType)).map(f => physOf(f.name))
    // nested leaf stats (r12): the collapse regenerates the per-leaf
    // bounds too — JSON-byte navigation by path segments
    val leafDefs: Array[JsonlStats.LeafRef] =
      JsonlStats.structLeaves(schema, physOf).toArray
    val leafMn = scala.collection.mutable.Map.empty[String, Double]
    val leafMx = scala.collection.mutable.Map.empty[String, Double]
    val leafCnt = scala.collection.mutable.Map.empty[String, Long]
    val leafSMn = scala.collection.mutable.Map.empty[String, String]
    val leafSMx = scala.collection.mutable.Map.empty[String, String]
    val vecNormMn = scala.collection.mutable.Map.empty[String, Double]
    val vecNormMx = scala.collection.mutable.Map.empty[String, Double]
    val vecCellMn = scala.collection.mutable.Map.empty[String, Int]
    val vecCellMx = scala.collection.mutable.Map.empty[String, Int]
    val vecBm = scala.collection.mutable.Map.empty[String, Long]
    val colMn = scala.collection.mutable.Map.empty[String, Double]
    val colMx = scala.collection.mutable.Map.empty[String, Double]
    val colCnt = scala.collection.mutable.Map.empty[String, Long]
    numFields.foreach(f => colCnt(f.name) = 0L)
    // string bounds + counts (r8), tracked like the writer's sink
    val strNames = schema.fields.filter(_.dataType == StringType).map(f => physOf(f.name))
    val strMn = scala.collection.mutable.Map.empty[String, String]
    val strMx = scala.collection.mutable.Map.empty[String, String]
    strNames.foreach(c => colCnt(c) = 0L)
    val bloomHashes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val grams = if (gramCol.isDefined) new Bloom.GramTracker else null
    var rows = 0L
    // row-offset checkpoints for the rewritten file (r8): same rule as
    // JsonlFileSink — one (line start, rows before) pair per granularity
    val ckpts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var bytesOut = 0L
    var lastCkpt = 0L
    // zone maps (r8): per-segment stats-column bounds, regenerated like
    // the sink's — rewrite_deletes re-arms range skipping too. The
    // shared tracker owns the boundary law (seal at the checkpoint
    // BEFORE the boundary row's value merges).
    val zones = new JsonlStats.ZoneTracker
    // monotone run cursor (r11, ADVICE r10 low): positions are scanned
    // in increasing order, so the run lookup advances O(1) amortized
    // instead of a per-row runs.find — O(rows × runs) on a bin-packed
    // compaction product. Mirrors JsonlPartitionReader.linRunAt.
    val linRuns: Array[(Long, Long, Long, Long)] = lin.runs.sortBy(_._1).toArray
    var linIdx = 0
    def linRunAt(p: Long): Int = {
      if (linRuns.isEmpty) -1
      else {
        while (linIdx < linRuns.length && p >= linRuns(linIdx)._1 + linRuns(linIdx)._3) linIdx += 1
        if (linIdx < linRuns.length && p >= linRuns(linIdx)._1) linIdx else -1
      }
    }
    val dest = Paths.get(root, out)
    val os = Files.newBufferedWriter(dest)
    val in = Files.newBufferedReader(Paths.get(root, file))
    try {
      var pos = -1L
      var line = in.readLine()
      while (line != null) {
        if (line.nonEmpty && line != "\r") {
          pos += 1
          val n0 =
            if (deleted.contains(pos)) null
            else {
              val parsed = mapper.readTree(line)
              val eqMasked = eqMasks.exists { case (cols, set) =>
                set.contains(JsonlEqualityDeletes.canonicalKey(parsed, cols)) }
              if (eqMasked) null else parsed
            }
          if (n0 != null) {
            if (rows > 0 && bytesOut - lastCkpt >= JsonlStats.CheckpointBytes) {
              ckpts += ((bytesOut, rows)); lastCkpt = bytesOut
              zones.seal() // BEFORE this row's value: it starts the next segment
            }
            // row lineage (r10): survivors SHIFT physical positions, so
            // the collapse is the one maintenance op that must
            // MATERIALIZE ids — each kept row gets its manifest-derived
            // `_row_id`/`_luv` as in-row fields (prefix splice; a row
            // already materialized by an earlier rewrite keeps its own
            // fields — `lin` cannot cover its position)
            val ri = if (lin.frid >= 0L) -1 else linRunAt(pos)
            // luv-only runs (r12, ADVICE r11 high): firstId = -1 marks
            // "ids are in-row; this luv backs rows whose in-row `_luv`
            // is null" — the shape compact records for a materialized
            // member that carried an entry luv (COW-update images)
            val luvOnly = ri >= 0 && linRuns(ri)._2 == -1L
            val rid =
              if (lin.frid >= 0L) lin.frid + pos
              else if (ri >= 0 && !luvOnly) linRuns(ri)._2 + (pos - linRuns(ri)._1)
              else -1L
            val rluv =
              if (lin.frid >= 0L) lin.luv
              else if (ri >= 0 && !luvOnly) linRuns(ri)._4
              else -1L
            // the version that backs null-luv materialized rows at THIS
            // position: the entry luv (frid = -2 sources) or the
            // covering luv-only run's (recompacted products)
            val backLuv =
              if (lin.frid == -2L) lin.luv
              else if (luvOnly) linRuns(ri)._4
              else 0L
            val outLine =
              if (rid >= 0L && line.startsWith("{")) {
                val pre = s"""{"${JsonlStats.RowIdMeta}":$rid,"${JsonlStats.LuvField}":$rluv"""
                if (line.length > 2) pre + "," + line.substring(1) else pre + "}"
              } else if (backLuv > 0L && n0.hasNonNull(JsonlStats.RowIdMeta) &&
                         !n0.hasNonNull(JsonlStats.LuvField)) {
                // MATERIALIZE the fallback (r12, ADVICE r11 high): a
                // COW-updated row (in-row id, null `_luv`) served its
                // version via the entry-luv fallback; the rewrite
                // splices that version IN-ROW so no later maintenance
                // generation (compact bins, restamped entries) can
                // strand it. Only affected rows pay the re-serialize.
                n0.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                  .put(JsonlStats.LuvField, backLuv)
                mapper.writeValueAsString(n0)
              } else line
            os.write(outLine); os.write('\n')
            bytesOut += outLine.getBytes(java.nio.charset.StandardCharsets.UTF_8).length + 1L
            rows += 1
            val n = n0
            numFields.foreach { f =>
              val v = n.get(f.name)
              if (v != null && !v.isNull) {
                val d = v.asDouble()
                // NaN poisons to vacuous bounds (never pruned): finite
                // bounds computed past it would exclude `=== NaN` rows
                if (d.isNaN) {
                  colMn(f.name) = Double.MinValue; colMx(f.name) = Double.MaxValue
                } else {
                  if (d < colMn.getOrElse(f.name, Double.PositiveInfinity)) colMn(f.name) = d
                  if (d > colMx.getOrElse(f.name, Double.NegativeInfinity)) colMx(f.name) = d
                }
                colCnt(f.name) += 1L
                if (f.name == statsCol) zones.add(d)
              }
            }
            strNames.foreach { c =>
              val v = n.get(c)
              if (v != null && !v.isNull) {
                val s = v.asText()
                if (!strMn.contains(c) || JsonlStats.strCompare(s, strMn(c)) < 0) strMn(c) = s
                if (!strMx.contains(c) || JsonlStats.strCompare(s, strMx(c)) > 0) strMx(c) = s
                colCnt(c) += 1L
              }
            }
            leafDefs.foreach { l =>
              var v: com.fasterxml.jackson.databind.JsonNode = n
              var k = 0
              while (v != null && !v.isNull && k < l.names.length) {
                v = v.get(l.names(k)); k += 1
              }
              if (v != null && !v.isNull) {
                if (l.dt == StringType) {
                  val s = v.asText()
                  if (!leafSMn.contains(l.key) ||
                    JsonlStats.strCompare(s, leafSMn(l.key)) < 0) leafSMn(l.key) = s
                  if (!leafSMx.contains(l.key) ||
                    JsonlStats.strCompare(s, leafSMx(l.key)) > 0) leafSMx(l.key) = s
                } else {
                  val d = v.asDouble()
                  if (d.isNaN) { leafMn(l.key) = Double.MinValue; leafMx(l.key) = Double.MaxValue }
                  else {
                    if (d < leafMn.getOrElse(l.key, Double.PositiveInfinity)) leafMn(l.key) = d
                    if (d > leafMx.getOrElse(l.key, Double.NegativeInfinity)) leafMx(l.key) = d
                  }
                }
                leafCnt(l.key) = leafCnt.getOrElse(l.key, 0L) + 1L
              }
            }
            vecNames.foreach { c =>
              val v = n.get(c)
              if (v != null && v.isArray) {
                var normSq = 0.0
                var cell = 0
                var j = 0
                val m = v.size()
                while (j < m) {
                  val el = v.get(j)
                  val e = if (el == null || el.isNull) 0.0 else el.asDouble()
                  normSq += e * e
                  if (j < JsonlStats.VecCellBits && e > 0) cell |= 1 << j
                  j += 1
                }
                val nrm = math.sqrt(normSq)
                if (nrm.isNaN) { vecNormMn(c) = 0.0; vecNormMx(c) = Double.MaxValue }
                else {
                  if (nrm < vecNormMn.getOrElse(c, Double.PositiveInfinity)) vecNormMn(c) = nrm
                  if (nrm > vecNormMx.getOrElse(c, Double.NegativeInfinity)) vecNormMx(c) = nrm
                }
                if (cell < vecCellMn.getOrElse(c, Int.MaxValue)) vecCellMn(c) = cell
                if (cell > vecCellMx.getOrElse(c, Int.MinValue)) vecCellMx(c) = cell
                vecBm(c) = vecBm.getOrElse(c, 0L) | (1L << cell)
              }
            }
            bloomCol.foreach { bc =>
              val v = n.get(bc)
              if (v != null && !v.isNull) {
                bloomHashes += (schema.fields.find(_.name == bc).map(_.dataType) match {
                  case Some(LongType)   => Bloom.hashLong(v.asLong())
                  case Some(DoubleType) => Bloom.hashDouble(v.asDouble())
                  case _                => Bloom.hashString(v.asText())
                })
              }
            }
            gramCol.foreach { gc =>
              // data bytes carry PHYSICAL names (r9 review: a gram
              // index declared on a renamed column reads its physical
              // key, like every other stat here)
              val v = n.get(physOf(gc))
              if (v != null && !v.isNull) grams.add(v.asText())
            }
          }
        }
        line = in.readLine()
      }
    } finally { in.close(); os.close() }
    // a wholly-deleted file rewrites to nothing: no entry, no file
    // (mirrors the COW zero-survivors case)
    if (rows == 0) {
      Files.deleteIfExists(dest)
      return JsonlStats.FileStats(out, 0, 0, 0, pkey)
    }
    // the DV collapse preserves the file's LAYOUT: same pkey, same
    // partition spec — lazy spec migration is COW's job, not this one's
    if (bloomCol.isDefined) Bloom.writeSidecar(dest, bloomHashes.toArray)
    if (gramCol.isDefined) grams.writeSidecar(dest)
    val cols = colMn.keySet.map(c => c -> (colMn(c), colMx(c))).toMap ++
      vecNormMn.keySet.map(c => s"$c#norm" -> (vecNormMn(c), vecNormMx(c))).toMap ++
      vecCellMn.keySet.map(c => s"$c#cell" ->
        (vecCellMn(c).toDouble, vecCellMx(c).toDouble)).toMap ++
      leafMn.keySet.map(k => k -> (leafMn(k), leafMx(k))).toMap
    val strCols = strMn.keySet.map(c =>
      c -> (JsonlStats.truncLower(strMn(c)), JsonlStats.truncUpper(strMx(c)))).toMap ++
      leafSMn.keySet.map(k => k -> (JsonlStats.truncLower(leafSMn(k)),
        JsonlStats.truncUpper(leafSMx(k)))).toMap
    val (mn, mx) = cols.get(statsCol) match {
      case Some(b) => b
      case None => (Double.MinValue, Double.MaxValue) // all-null sentinel
    }
    // entries whose rows carry (or inherited) materialized ids must
    // never be re-stamped — frid = -2 marks in-row lineage; a source
    // that never had ids stays unassigned and the commit stamps it
    // fresh (ids that never existed may be invented now)
    val hadLineage = lin.frid >= 0L || lin.frid == -2L || lin.runs.nonEmpty
    // carry the source's luv onto the fresh frid = -2 entry (r12,
    // ADVICE r11 high): an entry published WITHOUT a luv is restamped
    // by the commit with the MAINTENANCE version, drifting any
    // fallback-served rows forward. The splice above materialized the
    // fallback in-row, so the carried luv is belt-and-braces — but it
    // keeps the entry's version history honest either way.
    val carriedLuv =
      if (lin.frid >= 0L || lin.frid == -2L) lin.luv
      else lin.runs.map(_._4).foldLeft(0L)(math.max)
    JsonlStats.FileStats(out, mn, mx, rows, pkey, cols,
      colNonNull = colCnt.toMap ++ leafCnt.toMap,
      strCols = strCols, ckpts = ckpts.toSeq,
      segb = zones.zones(ckpts.nonEmpty), pspec = pspec,
      frid = if (hadLineage) -2L else -1L, luv = carriedLuv,
      vcells = vecBm.toMap,
      // survivors keep the source's row order — the stamp carries
      sorted = sorted)
  }

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
          // still past the ceiling trips the MATERIALIZE path — the
          // copy job splices lineage in-row and the entry stays O(1)
          // instead of accreting one run per member per generation
          // (SCALING.md's LineageDeepBench kilocommit bloat).
          val mergedRuns = JsonlStats.coalesceRuns(mergedRuns0)
          val materialize = mergedRuns.size > JsonlStats.MaxRunsPerEntry
          // an ALL-materialized bin produces no runs — the entry must
          // still declare in-row lineage (frid = -2) or the commit
          // would re-stamp it and override every row's carried id
          // (r10 review)
          val mergedFrid =
            if (materialize || (mergedRuns.isEmpty && members.exists(_.frid == -2L))) -2L
            else -1L
          if (!materialize)
            Bin(members.map(_.file), out,
              JsonlStats.FileStats(out, mn, mx, members.map(_.rows).sum, pkey, mergedCols,
                colNonNull = mergedN, strCols = mergedS, ckpts = mergedK,
                segb = mergedSegB, pspec = pspec, seq = seq,
                frid = mergedFrid, runs = mergedRuns, vcells = mergedV))
          else
            // the splice shifts byte offsets, so checkpoint/zone pairs
            // are dropped (conservative: whole-file tasks until the
            // next rewrite regenerates them); row-content stats are
            // untouched — lineage fields are provenance, not data
            Bin(members.map(_.file), out,
              JsonlStats.FileStats(out, mn, mx, members.map(_.rows).sum, pkey, mergedCols,
                colNonNull = mergedN, strCols = mergedS, ckpts = Nil,
                segb = Nil, pspec = pspec, seq = seq,
                frid = -2L, runs = Nil, vcells = mergedV),
              matLineages = Some(members.map(JsonlStats.Lineage.of)))
        }
    }
    if (bins.isEmpty) return (stats.size, stats.size, 0)
    // bins copy in parallel as one job — a metadata-bounded maintenance
    // task list, each task a streaming byte concat on shared storage
    val rootCopy = tableRoot
    val work = bins.map(b => (b.members, b.out, b.matLineages))
    SparkSession.active.sparkContext
      .parallelize(work, math.min(work.size, 32))
      .foreach {
        case (members, out, None) => GraftProcedures.concatFiles(rootCopy, members, out)
        case (members, out, Some(lins)) =>
          GraftProcedures.concatMaterialize(rootCopy, members.zip(lins), out)
      }
    // OCC rewrite (r8): every bin member's planned entry must survive
    // verbatim — a DV attached to a member since planning would have
    // its masked rows resurrected by the byte concat, so that
    // CONFLICTS; files appended concurrently ride through untouched
    // (compaction commutes with ingest)
    val mergedNames = bins.flatMap(_.members).toSet
    JsonlStats.commitAtomic(tableRoot, s"compact-$runId",
      JsonlStats.rebaseRewrite(
        stats.filter(s => mergedNames.contains(s.file)).map(JsonlStats.statsLine),
        bins.map(b => JsonlStats.statsLine(b.entry))))
    // members leave the live manifest but stay on disk: the archived
    // pre-compaction snapshot still references them, so VERSION AS OF
    // keeps working until [[vacuum]] expires it (deferred GC, r7)
    (stats.size, stats.size - mergedNames.size + bins.size, mergedNames.size)
  }

  /** Streaming byte concat of newline-terminated JSONL members; patches
    * a missing trailing newline between members so lines never fuse. */
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

  /** REF management (r9, [[Refs]]) — one bound shape for the five
    * verbs. `create_tag(table, name[, version])` pins a snapshot (live
    * by default, or `VERSION AS OF version`); `create_branch(table,
    * name)` forks the live manifest for staged writes
    * (`INSERT INTO <cat>.<table>.branch_<name> …`);
    * `fast_forward(table, name)` is the PUBLISH half of
    * write-audit-publish — one OCC commit that conflicts loudly if main
    * diverged since the fork; the drop verbs delete the ref file (its
    * exclusively-staged data files become age-gated vacuum orphans).
    * Returns (ref, action, version): version = the pinned/fork/
    * superseded generation (0 for drops). */
  class RefUnbound(root: String, verb: String) extends UnboundProcedure {
    override def name(): String = verb
    override def description(): String = verb match {
      case "create_tag"    => "create_tag(table, name[, version]): pin a named immutable snapshot"
      case "drop_tag"      => "drop_tag(table, name): delete a tag (its files become vacuumable)"
      case "create_branch" => "create_branch(table, name): fork a writable staging branch"
      case "drop_branch"   => "drop_branch(table, name): delete a branch head"
      case "rollback"      => "rollback(table, target): restore main to a tag or version - metadata only"
      case "cherry_pick"   => "cherry_pick(table, version): re-apply an append-shaped version's delta onto main"
      case _               => "fast_forward(table, name): publish a branch head to main (WAP)"
    }
    override def bind(inputType: StructType): BoundProcedure = new RefBound(root, verb)
  }

  class RefBound(root: String, verb: String) extends BoundProcedure {
    override def name(): String = verb
    override def description(): String = s"$verb on the refs tier"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = {
      if (verb == "cherry_pick")
        return Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", IntegerType).build())
      val base = Array(
        ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
      if (verb == "create_tag")
        base :+ ProcedureParameter.in("version", IntegerType).defaultValue("-1").build()
      else base
    }
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val refName =
        if (verb == "cherry_pick") input.getInt(1).toString
        else input.getUTF8String(1).toString
      val dir = Paths.get(root, table)
      require(Files.exists(dir.resolve("_stats.jsonl")), s"no such table $table under $root")
      val version = verb match {
        case "create_tag" =>
          val v = input.getInt(2)
          Refs.createTag(dir.toString, refName, if (v < 0) None else Some(v))
        case "drop_tag" =>
          Refs.dropRef(dir.toString, Refs.tagManifest(refName)); 0
        case "create_branch" =>
          Refs.createBranch(dir.toString, refName)
        case "drop_branch" =>
          Refs.dropRef(dir.toString, Refs.branchManifest(refName)); 0
        case "fast_forward" =>
          Refs.fastForward(dir.toString, refName,
            s"ff-${java.util.UUID.randomUUID().toString.take(8)}")
        case "rollback" =>
          Refs.rollbackTo(dir.toString, refName,
            s"rb-${java.util.UUID.randomUUID().toString.take(8)}")
        case "cherry_pick" =>
          Refs.cherryPick(dir.toString, refName.toInt,
            s"cp-${java.util.UUID.randomUUID().toString.take(8)}")
      }
      val schema = StructType(Seq(
        StructField("ref", StringType, nullable = false),
        StructField("action", StringType, nullable = false),
        StructField("version", IntegerType, nullable = false)))
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(refName),
          org.apache.spark.unsafe.types.UTF8String.fromString(verb), version))
        override def description(): String = s"$verb $refName on $table"
      }).iterator()
    }
  }

  /** `fast_forward_pair(table1, branch1, table2, branch2)` (r11): the
    * ATOMIC two-table publish — both branch heads land on their mains
    * or neither does ([[Refs.Wtxn]]: marker-committed roll-forward,
    * recovered by every catalog access). The fact+agg WAP shape: stage
    * both, audit both, publish as one warehouse transaction. */
  class FfPairUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "fast_forward_pair"
    override def description(): String =
      "fast_forward_pair(table1, branch1, table2, branch2): publish two branch heads atomically"
    override def bind(inputType: StructType): BoundProcedure = new FfPairBound(root)
  }

  class FfPairBound(root: String) extends BoundProcedure {
    override def name(): String = "fast_forward_pair"
    override def description(): String = "atomic two-table branch publish"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table1", StringType).build(),
      ProcedureParameter.in("branch1", StringType).build(),
      ProcedureParameter.in("table2", StringType).build(),
      ProcedureParameter.in("branch2", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val t1 = input.getUTF8String(0).toString
      val b1 = input.getUTF8String(1).toString
      val t2 = input.getUTF8String(2).toString
      val b2 = input.getUTF8String(3).toString
      Seq(t1, t2).foreach(t => require(
        Files.exists(Paths.get(root, t, "_stats.jsonl")), s"no such table $t under $root"))
      val applied = Refs.Wtxn.publish(root, Seq((t1, b1), (t2, b2)),
        s"ffp-${java.util.UUID.randomUUID().toString.take(8)}")
      val schema = StructType(Seq(
        StructField("tables", StringType, nullable = false),
        StructField("legs_applied", IntegerType, nullable = false)))
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"$t1,$t2"), applied))
        override def description(): String = s"fast_forward_pair $t1/$b1 + $t2/$b2"
      }).iterator()
    }
  }

  /** `fast_forward_all(legs)` (r11): the N-table generalization of the
    * pair publish — `legs` = "table:branch,table:branch,..." and every
    * named branch head lands on its main or none does ([[Refs.Wtxn]]
    * is leg-count-agnostic; the pair procedure is the common-case
    * sugar). The fact + N downstream aggregates publish as ONE
    * warehouse transaction. */
  class FfAllUnbound(root: String) extends UnboundProcedure {
    override def name(): String = "fast_forward_all"
    override def description(): String =
      "fast_forward_all('t1:b1,t2:b2,...'): publish N branch heads atomically"
    override def bind(inputType: StructType): BoundProcedure = new FfAllBound(root)
  }

  class FfAllBound(root: String) extends BoundProcedure {
    override def name(): String = "fast_forward_all"
    override def description(): String = "atomic N-table branch publish"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("legs", StringType).build())
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val legs = input.getUTF8String(0).toString.split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq.map { s =>
          s.split(":", 2) match {
            case Array(t, b) if t.nonEmpty && b.nonEmpty => (t, b)
            case _ => throw new IllegalArgumentException(
              s"fast_forward_all: each leg must be table:branch, got '$s'")
          }
        }
      legs.foreach { case (t, _) => require(
        Files.exists(Paths.get(root, t, "_stats.jsonl")), s"no such table $t under $root") }
      val applied = Refs.Wtxn.publish(root, legs,
        s"ffa-${java.util.UUID.randomUUID().toString.take(8)}")
      val schema = StructType(Seq(
        StructField("tables", StringType, nullable = false),
        StructField("legs_applied", IntegerType, nullable = false)))
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = schema
        override def rows(): Array[InternalRow] = Array(InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            legs.map(_._1).mkString(",")), applied))
        override def description(): String = s"fast_forward_all ${legs.size} legs"
      }).iterator()
    }
  }

  /** Splice-concat for runaway-run bins (r12): like [[concatFiles]],
    * but each member's manifest lineage MATERIALIZES in-row as it
    * streams — stamped ids/luvs land as the `_row_id`/`_luv` prefix
    * (the rewriteOneFile splice), and null-luv materialized rows get
    * their backing fallback luv written into the bytes. The merged
    * entry then declares frid = -2 with ZERO runs, whatever the bin's
    * member count — the manifest stays O(1) per entry while compaction
    * cadence grows unbounded. Costs one JSON parse only for rows that
    * might need the fallback splice; stamped rows pay a string prefix. */
  private[sources] def concatMaterialize(tableRoot: String,
      members: Seq[(String, JsonlStats.Lineage)], out: String): Unit = {
    val dest = Paths.get(tableRoot, out)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val os = Files.newBufferedWriter(dest)
    try {
      members.foreach { case (m, lin) =>
        val in = Files.newBufferedReader(Paths.get(tableRoot, m))
        // monotone run cursor (the rewriteOneFile discipline): positions
        // stream in increasing order, so the lookup is O(1) amortized —
        // the bins that trip this path are exactly the many-run ones
        val linRuns: Array[(Long, Long, Long, Long)] = lin.runs.sortBy(_._1).toArray
        var linIdx = 0
        def runAt(p: Long): Int = {
          if (linRuns.isEmpty) -1
          else {
            while (linIdx < linRuns.length && p >= linRuns(linIdx)._1 + linRuns(linIdx)._3)
              linIdx += 1
            if (linIdx < linRuns.length && p >= linRuns(linIdx)._1) linIdx else -1
          }
        }
        try {
          var pos = -1L
          var line = in.readLine()
          while (line != null) {
            if (line.nonEmpty && line != "\r") {
              pos += 1
              val ri = if (lin.frid >= 0L) -1 else runAt(pos)
              val luvOnly = ri >= 0 && linRuns(ri)._2 == -1L
              val rid =
                if (lin.frid >= 0L) lin.frid + pos
                else if (ri >= 0 && !luvOnly) linRuns(ri)._2 + (pos - linRuns(ri)._1)
                else -1L
              val rluv =
                if (lin.frid >= 0L) lin.luv
                else if (ri >= 0 && !luvOnly) linRuns(ri)._4
                else -1L
              val outLine =
                if (rid >= 0L && line.startsWith("{")) {
                  val pre =
                    s"""{"${JsonlStats.RowIdMeta}":$rid,"${JsonlStats.LuvField}":$rluv"""
                  if (line.length > 2) pre + "," + line.substring(1) else pre + "}"
                } else {
                  val back =
                    if (lin.frid == -2L) lin.luv
                    else if (luvOnly) linRuns(ri)._4
                    else 0L
                  if (back > 0L) {
                    // a materialized member with an entry luv / a
                    // luv-only run: splice the fallback into null-luv
                    // rows so it survives without any manifest carrier
                    val n = mapper.readTree(line)
                    if (n.hasNonNull(JsonlStats.RowIdMeta) &&
                        !n.hasNonNull(JsonlStats.LuvField)) {
                      n.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
                        .put(JsonlStats.LuvField, back)
                      mapper.writeValueAsString(n)
                    } else line
                  } else line
                }
              os.write(outLine); os.write('\n')
            }
            line = in.readLine()
          }
        } finally in.close()
      }
    } finally os.close()
  }

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

  // ---- view DDL (r12b, [[GraftViews]]) -----------------------------------
  // Spark 4.1 has no native SQL route to a V2 ViewCatalog (CREATE VIEW
  // cat.v fails with MISSING_CATALOG_ABILITY before the catalog is
  // consulted), so the DDL verbs ride the engine's CALL surface — the
  // same place every other engine verb without parser support lives.
  // READS need no verb: [[graft.plans.ResolveGraftViews]] resolves
  // SELECT over a stored view natively. `create_view` analyzes the body
  // UP FRONT in the calling session (schema + output-column capture,
  // loud failure on a body that doesn't resolve) and stores the
  // session's current catalog/namespace as the definition context, so
  // the body later re-resolves exactly as the author saw it.

  private def utf8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)

  /** A procedure result of one row of string columns. */
  private[sources] def oneRowScan(fields: Seq[(String, String)], desc: String): java.util.Iterator[Scan] = {
    val schema = StructType(fields.map { case (n, _) => StructField(n, StringType, nullable = false) })
    java.util.List.of[Scan](new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] =
        Array(InternalRow(fields.map(f => utf8(f._2)): _*))
      override def description(): String = desc
    }).iterator()
  }

  private[sources] def splitViewName(root: String, dotted: String): (java.nio.file.Path, Array[String], String) = {
    val parts = dotted.split('.')
    val ns = parts.init
    val nsDir = Paths.get(root, ns: _*)
    require(parts.forall(_.nonEmpty), s"malformed view name '$dotted'")
    require(ns.isEmpty || Files.isDirectory(nsDir),
      s"no such namespace ${ns.mkString(".")} under $root")
    require(!Files.exists(nsDir.resolve("_stats.jsonl")),
      s"'${ns.mkString(".")}' is a table, not a namespace")
    (nsDir, ns, parts.last)
  }

  class ViewDdlUnbound(root: String, verb: String) extends UnboundProcedure {
    override def name(): String = verb
    override def description(): String = verb match {
      case "create_view" => "create_view(name, sql[, comment][, or_replace][, columns]): store a persistent SQL view"
      case "drop_view" => "drop_view(name): delete a stored view definition"
      case "rename_view" => "rename_view(name, to): move a stored view to a new name/namespace"
      case "list_views" => "list_views([namespace]): the stored views of a namespace"
      case _ => "describe_view(name): a stored view's definition, context and schema"
    }
    override def bind(inputType: StructType): BoundProcedure = new ViewDdlBound(root, verb)
  }

  class ViewDdlBound(root: String, verb: String) extends BoundProcedure {
    override def name(): String = verb
    override def description(): String = s"$verb on the stored-view tier"
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = verb match {
      case "create_view" => Array(
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("sql", StringType).build(),
        ProcedureParameter.in("comment", StringType).defaultValue("''").build(),
        ProcedureParameter.in("or_replace", BooleanType).defaultValue("false").build(),
        // r14: comma-joined column ALIASES — the view's visible column
        // names, positionally over the body's output (the CREATE VIEW
        // `(a, b, ...)` column-list form)
        ProcedureParameter.in("columns", StringType).defaultValue("''").build())
      case "rename_view" => Array(
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("to", StringType).build())
      case "drop_view" => Array(
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("if_exists", BooleanType).defaultValue("false").build())
      case "list_views" => Array(
        ProcedureParameter.in("namespace", StringType).defaultValue("''").build())
      case _ => Array(ProcedureParameter.in("name", StringType).build())
    }

    override def call(input: InternalRow): java.util.Iterator[Scan] = verb match {
      case "create_view" =>
        val dotted = input.getUTF8String(0).toString
        val sql = input.getUTF8String(1).toString
        val comment = Option(input.getUTF8String(2)).map(_.toString).filter(_.nonEmpty)
        val orReplace = input.getBoolean(3)
        val (nsDir, _, vname) = splitViewName(root, dotted)
        GraftViews.requireValidName(vname)
        require(!Files.exists(nsDir.resolve(vname).resolve("_stats.jsonl")),
          s"a TABLE named '$dotted' exists — views and tables share one identifier space")
        require(orReplace || !GraftViews.exists(nsDir, vname),
          s"view '$dotted' already exists (pass or_replace => true to redefine)")
        // analyze NOW, in the calling session: schema capture plus the
        // loud create-time failure for a body that doesn't resolve
        val spark = SparkSession.active
        val schema = spark.sql(sql).schema
        require(schema.fieldNames.toSeq.distinct.size == schema.size,
          s"view body output has duplicate column names " +
            s"(${schema.fieldNames.mkString(", ")}) — alias them apart")
        // r14: an explicit column list renames the body's output
        // positionally (the `CREATE VIEW v (a, b) AS ...` form) — the
        // stored schema carries the ALIAS names (what readers see), the
        // queryColumnNames keep the body's names (what the expansion
        // projects by)
        val aliases = Option(input.getUTF8String(4)).map(_.toString).filter(_.nonEmpty)
          .map(_.split(',').map(_.trim).toSeq)
        aliases.foreach { as =>
          require(as.size == schema.size,
            s"column list has ${as.size} names but the view body produces " +
              s"${schema.size} columns (${schema.fieldNames.mkString(", ")})")
          require(as.forall(_.nonEmpty) && as.distinct.size == as.size,
            s"view column list must be distinct non-empty names: ${as.mkString(", ")}")
        }
        val visibleSchema = aliases match {
          case Some(as) => StructType(schema.fields.zip(as).map { case (f, a) => f.copy(name = a) })
          case None => schema
        }
        val cm = spark.sessionState.catalogManager
        GraftViews.write(nsDir, GraftViews.ViewDef(
          name = vname, sql = sql,
          currentCatalog = cm.currentCatalog.name(),
          currentNamespace = cm.currentNamespace.toSeq,
          schema = visibleSchema,
          queryColumnNames = schema.fieldNames.toSeq,
          columnAliases = visibleSchema.fieldNames.toSeq,
          columnComments = Seq.empty,
          properties = comment.map(c => Map("comment" -> c)).getOrElse(Map.empty)),
          replace = orReplace)
        oneRowScan(Seq("view" -> dotted, "action" -> "created",
          "columns" -> visibleSchema.fieldNames.mkString(",")), s"create_view $dotted")

      case "drop_view" =>
        val dotted = input.getUTF8String(0).toString
        val ifExists = input.getBoolean(1)
        val (nsDir, ns, vname) = splitViewName(root, dotted)
        if (ifExists && !GraftViews.exists(nsDir, vname))
          return oneRowScan(Seq("view" -> dotted, "action" -> "not-found"),
            s"drop_view $dotted")
        // a view referenced by OTHER stored views must not vanish out
        // from under them — fail loudly naming every dependent (the
        // alternative, a nested view that errors at next read, debugs
        // like a corruption)
        val dependents = GraftViews.referencingViews(
          s => SparkSession.active.sessionState.sqlParser.parsePlan(s),
          root, ns.toSeq, vname)
        require(dependents.isEmpty,
          s"cannot drop view '$dotted': referenced by stored view(s) " +
            s"${dependents.mkString(", ")} — drop or redefine the dependents first")
        // a materialized view owns its backing table and any
        // COUNT(DISTINCT) liveness tables (r15) — dropping the
        // definition removes all of them (engine-managed storage,
        // unreachable from listings; leaving them would orphan it)
        val defn = GraftViews.read(nsDir, vname)
        require(GraftViews.drop(nsDir, vname), s"no such view '$dotted' under $root")
        defn.foreach(MvLifecycle.dropOwnedTables(nsDir, _))
        oneRowScan(Seq("view" -> dotted, "action" -> "dropped"), s"drop_view $dotted")

      case "rename_view" =>
        val from = input.getUTF8String(0).toString
        val to = input.getUTF8String(1).toString
        val (fromDir, _, fromName) = splitViewName(root, from)
        val (toDir, _, toName) = splitViewName(root, to)
        GraftViews.requireValidName(toName)
        val d = GraftViews.read(fromDir, fromName)
          .getOrElse(throw new IllegalArgumentException(s"no such view '$from' under $root"))
        require(!GraftViews.exists(toDir, toName), s"view '$to' already exists")
        require(!Files.exists(toDir.resolve(toName).resolve("_stats.jsonl")),
          s"a TABLE named '$to' exists — views and tables share one identifier space")
        // definition context stays: rename moves the ADDRESS, the body
        // still resolves exactly as written. A materialized view's
        // backing table moves with it (backing first, sidecar second —
        // a crash in between reads as a stale MV, never a lost one)
        val moved = GraftViews.moveMvBacking(fromDir, toDir, d, toName)
        GraftViews.write(toDir, moved.copy(name = toName), replace = false)
        GraftViews.drop(fromDir, fromName)
        oneRowScan(Seq("view" -> from, "action" -> "renamed", "to" -> to),
          s"rename_view $from -> $to")

      case "list_views" =>
        val ns = Option(input.getUTF8String(0)).map(_.toString).filter(_.nonEmpty)
        val nsDir = ns.map(s => Paths.get(root, s.split('.'): _*)).getOrElse(Paths.get(root))
        require(ns.isEmpty || Files.isDirectory(nsDir), s"no such namespace ${ns.get} under $root")
        val names = GraftViews.list(nsDir)
        val schema = StructType(Seq(
          StructField("namespace", StringType, nullable = false),
          StructField("view", StringType, nullable = false),
          StructField("comment", StringType, nullable = true)))
        java.util.List.of[Scan](new LocalScan {
          override def readSchema(): StructType = schema
          override def rows(): Array[InternalRow] = names.map { n =>
            val c = GraftViews.read(nsDir, n).flatMap(_.properties.get("comment"))
            InternalRow(utf8(ns.getOrElse("")), utf8(n), c.map(utf8).orNull)
          }.toArray
          override def description(): String = s"views of ${ns.getOrElse("(root)")}"
        }).iterator()

      case "describe_view" =>
        val dotted = input.getUTF8String(0).toString
        val (nsDir, ns, vname) = splitViewName(root, dotted)
        val d = GraftViews.read(nsDir, vname)
          .getOrElse(throw new IllegalArgumentException(s"no such view '$dotted' under $root"))
        oneRowScan(Seq(
          "view" -> dotted,
          "sql" -> d.sql,
          "current_catalog" -> d.currentCatalog,
          "current_namespace" -> d.currentNamespace.mkString("."),
          "schema" -> d.schema.toDDL,
          "properties" -> d.properties.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString(", ")),
          s"describe_view $dotted")
    }
  }
}

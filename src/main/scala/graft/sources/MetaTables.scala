package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Paths}

/** METADATA TABLES (r9) — the Iceberg `db.tbl.files` / `.partitions` /
  * `.history` / `.refs` idiom: the table format's own bookkeeping
  * exposed as ordinary read-only tables, addressable wherever a table
  * is (`SELECT … FROM <cat>.<tbl>.files JOIN …`), so operational
  * questions ("how many live rows per partition?", "which snapshot
  * grew the table?") are SQL, not a bespoke API. Resolution is the
  * catalog's sub-identifier fallback ([[GraftCatalog.loadTable]]): the
  * selector only fires when no real table of that name exists, so a
  * genuine table named `files` always wins.
  *
  * Every row here is manifest/ref ARITHMETIC — file-count-bounded
  * driver work (the same contract as `CALL detail`), served by the
  * procedures' in-memory scan ([[GraftProcedures.rowsScan]]): at 100 TB
  * the manifest is the metadata tier's own scale problem and it is
  * measured separately (MetaBench, SCALING.md); the DATA tier is never
  * touched. Rows materialize when the scan is BUILT, so each query sees
  * one consistent snapshot of the manifest. */
object MetaTables {
  val Names: Set[String] = Set("files", "partitions", "history", "refs", "stats")

  def load(tableRoot: String, which: String): Table = which match {
    case "files"      => table(tableRoot, "files", filesSchema, filesRows)
    case "partitions" => table(tableRoot, "partitions", partitionsSchema, partitionsRows)
    case "history"    => table(tableRoot, "history", historySchema, historyRows)
    case "refs"       => table(tableRoot, "refs", refsSchema, refsRows)
    case "stats"      => table(tableRoot, "stats", statsSchema, statsRows)
    case other => throw new IllegalArgumentException(s"no metadata table '$other'")
  }

  // ---- schemas ----------------------------------------------------------

  /** One row per LIVE manifest entry. `rows` is the PHYSICAL count the
    * manifest records; `live_rows` subtracts deletion-vector masks —
    * the pair makes MoR amplification visible per file. It does NOT
    * subtract equality-delete masks (a key-scoped mask's per-file count
    * is unknowable without reading — the same reason COUNT pushdown
    * declines); `eqdels_applicable` surfaces that debt per file
    * (review r9c): >0 means live_rows is an UPPER bound until
    * rewrite_deletes materializes. */
  private val filesSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("dels", LongType, nullable = false),
    StructField("live_rows", LongType, nullable = false),
    StructField("eqdels_applicable", IntegerType, nullable = false),
    StructField("pkey", StringType, nullable = true),
    StructField("pspec", StringType, nullable = true),
    StructField("min_value", DoubleType, nullable = false),
    StructField("max_value", DoubleType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("n_ckpts", IntegerType, nullable = false),
    // row lineage (r10): how this file answers `_row_id` — 'stamped'
    // (frid + position), 'runs' (compaction product, one id range per
    // member), 'materialized' (in-row fields), 'none' (unassigned);
    // first_row_id/last_updated_version are the stamped fast path's
    // values (runs/materialized files answer per-row, so NULL here)
    StructField("lineage", StringType, nullable = false),
    StructField("first_row_id", LongType, nullable = true),
    StructField("last_updated_version", LongType, nullable = true)))

  private val partitionsSchema = StructType(Seq(
    StructField("pkey", StringType, nullable = true),
    StructField("files", LongType, nullable = false),
    StructField("live_rows", LongType, nullable = false)))

  /** One row per schema column (r9c): the planner's view of the table —
    * EXACT null counts summed from the manifest (current at every
    * commit), ANALYZE-sidecar NDV/lengths/histogram flags with the
    * version they were computed at, staleness = versions elapsed since.
    * `ndv` is null before the first `CALL analyze_table`. */
  private val statsSchema = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("physical_name", StringType, nullable = false),
    StructField("null_count", LongType, nullable = true),
    StructField("ndv", LongType, nullable = true),
    StructField("avg_len", LongType, nullable = true),
    StructField("max_len", LongType, nullable = true),
    StructField("has_histogram", BooleanType, nullable = false),
    StructField("analyzed_version", IntegerType, nullable = true),
    StructField("versions_stale", IntegerType, nullable = true)))

  /** One row per generation, live included (`superseded_ms` NULL = the
    * live one). Archive mtime IS the supersede instant — the same index
    * `TIMESTAMP AS OF` trusts. */
  private val historySchema = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("files", LongType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("superseded_ms", LongType, nullable = true)))

  private val refsSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("base_version", IntegerType, nullable = false),
    StructField("created_ms", LongType, nullable = false),
    StructField("files", LongType, nullable = false),
    StructField("live_rows", LongType, nullable = false)))

  // ---- row producers ----------------------------------------------------

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def liveOf(s: JsonlStats.FileStats): Long =
    if (s.rows >= 0) s.rows - s.dels else -1L

  private def filesRows(root: String): Array[InternalRow] = {
    val eqdels = JsonlEqualityDeletes.readEqDeletes(root, "_stats.jsonl")
    JsonlStats.readStats(root).sortBy(_.file).map { s =>
      val bytes =
        try Files.size(Paths.get(root, s.file)) catch { case _: java.io.IOException => -1L }
      val kind =
        if (s.frid >= 0L) "stamped"
        else if (s.runs.nonEmpty) "runs"
        else if (s.frid == -2L) "materialized"
        else "none"
      InternalRow(utf8(s.file), s.rows, s.dels, liveOf(s),
        eqdels.count(_.seq > s.seq),
        s.pkey.map(utf8).orNull, s.pspec.map(utf8).orNull,
        s.min, s.max, bytes, s.ckpts.size,
        utf8(kind),
        if (s.frid >= 0L) java.lang.Long.valueOf(s.frid) else null,
        if (s.frid >= 0L) java.lang.Long.valueOf(s.luv) else null)
    }.toArray
  }

  private def partitionsRows(root: String): Array[InternalRow] =
    JsonlStats.readStats(root).groupBy(_.pkey).toSeq
      .sortBy(_._1.getOrElse(""))
      .map { case (pkey, ss) =>
        InternalRow(pkey.map(utf8).orNull, ss.size.toLong, ss.map(liveOf).sum)
      }.toArray

  private def historyRows(root: String): Array[InternalRow] = {
    val archived = JsonlStats.historyVersions(root).map { v =>
      val m = s"${JsonlStats.HistoryDir}/v$v.jsonl"
      val ss = JsonlStats.readStats(root, m)
      val ms = Files.getLastModifiedTime(Paths.get(root, m)).toMillis
      InternalRow(v, ss.size.toLong, ss.map(liveOf).sum, ms)
    }
    val live = JsonlStats.readStats(root)
    (archived :+ InternalRow(JsonlStats.currentVersion(root),
      live.size.toLong, live.map(liveOf).sum, null)).toArray
  }

  private def refsRows(root: String): Array[InternalRow] =
    Refs.listRefs(root).sortBy(r => (r.kind, r.name)).map { r =>
      val ss = JsonlStats.parseStatsLines(r.entries)
      InternalRow(utf8(r.name), utf8(r.kind), r.baseVersion, r.createdMs,
        ss.size.toLong, ss.map(liveOf).sum)
    }.toArray

  // ---- the table shell --------------------------------------------------

  private def statsRows(root: String): Array[InternalRow] = {
    val meta = JsonlStats.readTableMeta(root)
    val schema = meta.schema.getOrElse(JsonlStats.schema)
    val live = JsonlStats.readStats(root)
    val haveRows = live.nonEmpty && live.forall(_.rows >= 0)
    val analyzed = ColStats.read(root)
    val current = JsonlStats.currentVersion(root)
    schema.fields.map { f =>
      val pc = meta.columnMapping.getOrElse(f.name, f.name)
      val nulls: Any =
        if (haveRows && live.forall(_.colNonNull.contains(pc)))
          Long.box(live.map(s => math.max(0L, s.rows - s.dels - s.colNonNull(pc))).sum)
        else null
      val a = analyzed.flatMap(_.cols.get(pc))
      InternalRow(utf8(f.name), utf8(pc), nulls,
        a.map(st => Long.box(st.ndv)).orNull,
        a.filter(_.avgLen >= 0).map(st => Long.box(st.avgLen)).orNull,
        a.filter(_.maxLen >= 0).map(st => Long.box(st.maxLen)).orNull,
        a.exists(_.hist.isDefined),
        analyzed.map(s => Int.box(s.version)).orNull,
        analyzed.map(s => Int.box(current - s.version)).orNull)
    }.toArray
  }

  private def table(root: String, which: String, tableSchema: StructType,
                    rowsOf: String => Array[InternalRow]): Table =
    new Table with SupportsRead {
      override def name(): String = s"graft-jsonl-stats($root).$which"
      override def schema(): StructType = tableSchema
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder {
          // one consistent manifest snapshot per scan
          override def build(): Scan =
            GraftProcedures.rowsScan(tableSchema, rowsOf(root), s"metadata table $which of $root")
        }
    }
}

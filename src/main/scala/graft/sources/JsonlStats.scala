package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** `graft-jsonl-stats`: a DataSource V2 connector — the engine extending
  * Spark's source API itself rather than composing built-ins. Reads a
  * directory of JSONL data files whose file list AND per-file `value`
  * min/max bounds live in a `_stats.jsonl` manifest sidecar (the
  * Delta/Iceberg stance: the manifest is authoritative, so planning
  * never lists a directory — at 100 TB, listing is the eventually-
  * consistent, O(files) step a table format exists to avoid).
  *
  * What it implements, and why each piece matters at scale:
  *   - [[SupportsPushDownRequiredColumns]]: the reader parses ONLY the
  *     projected fields from each JSON line — a 2-column aggregate
  *     never materializes the wide row.
  *   - [[SupportsPushDownFilters]]: range/equality predicates on the
  *     stats column prune WHOLE FILES at planning time against the
  *     manifest bounds, before any task launches (the same skipping
  *     contract as q130's manifest scan, but enforced inside the
  *     connector where Catalyst's `PushedFilters` lands). Pushed
  *     filters are still returned as residuals — stats skip files,
  *     they don't filter rows, exactly like Parquet row-group pruning.
  *   - Byte-range [[InputPartition]]s at newline boundaries (r7 —
  *     VERDICT r6 #3): a surviving file larger than `splitBytes`
  *     (option, default 4 MB) fans out into contiguous ranges, so one
  *     skewed 10 GB file becomes ~2500 tasks instead of one. Range
  *     ownership follows the Hadoop LineRecordReader convention — a
  *     range owns every line that STARTS in (start, end] (plus byte 0
  *     for the first range): a reader at start>0 discards through its
  *     first newline (that prefix is the previous range's tail) and
  *     reads through its own end into the next range until the line
  *     that straddles it is complete. Newline scanning is byte-level
  *     (UTF-8 multi-byte sequences never contain 0x0A), so boundaries
  *     mid-character are safe. Scans projecting `_pos` (dense per-FILE
  *     row position) and key-grouped layouts (group identity = file)
  *     keep whole-file partitions.
  *
  * Registered as `graft-jsonl-stats` via the DataSourceRegister service
  * file (`META-INF/services`), so `spark.read.format("graft-jsonl-stats")`
  * resolves it like any built-in source.
  */
class JsonlStats extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-jsonl-stats"
  // Path reads infer the table's LOGICAL schema from `_table.json` when
  // one exists (a renamed table's logical names differ from its physical
  // JSON keys); the fixed event-feed shape is the no-sidecar fallback.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("path"))
      .flatMap { p =>
        // Only the absent-sidecar case (root vanished between the
        // existence probe and the read) may fall back to the fixed
        // event-feed schema. The protocol feature gate
        // (requireReadable's UnsupportedOperationException) and a
        // corrupted sidecar's parse error MUST propagate: a resolution
        // path trusting inferSchema alone would otherwise lose the
        // refusal, and a corrupt sidecar would yield a silently wrong
        // schema instead of an error.
        try JsonlStats.readTableMeta(p).schema
        catch { case _: java.nio.file.NoSuchFileException => None }
      }
      .getOrElse(JsonlStats.schema)
  // a caller may supply its own schema (e.g. a dimension table through
  // the same connector) — the reader parses whatever fields are asked of it
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // option lookup must stay case-insensitive regardless of which map
    // representation Spark hands over
    val opts = new CaseInsensitiveStringMap(properties)
    // `manifest` (default: the live `_stats.jsonl`) lets a path-based
    // read resolve ANY committed manifest — an archived generation
    // (`_history/v3.jsonl`) or a derived file-set like the change
    // feed's diff manifests. Non-live manifests are read-only.
    // column mapping is table-level state, never an option: a path
    // read of a renamed table must translate or it would silently
    // surface nulls for every renamed column
    val meta0 = Option(properties.get("path")).map(JsonlStats.readTableMeta(_))
    val mapping = meta0.map(_.columnMapping).getOrElse(Map.empty)
    // `readChangeFeed=true` (r8): the STREAMING change-data-feed view —
    // versions as offsets, row images + `_change_type` as the schema
    // (the Delta CDF read shape); `startingVersion` picks the first
    // version whose changes stream (default 1 = the whole history)
    if (opts.getBoolean("readChangeFeed", false))
      return new JsonlCdfTable(properties.get("path"),
        opts.getInt("startingVersion", 1))
    // `branch` (r9b): path-route twin of the catalog's
    // `<table>.branch_<name>` — resolves the ref's manifest and keeps
    // the head writable (appends/TRUNCATE rebase the branch file)
    val branch = Option(opts.get("branch"))
    branch.foreach { b =>
      require(java.nio.file.Files.exists(
        java.nio.file.Paths.get(properties.get("path"), Refs.branchManifest(b))),
        s"no such branch '$b' of ${properties.get("path")} (create_branch first)")
    }
    // declared layout columns resolve from the option OR the table
    // sidecar (r12, ADVICE-shaped symmetry with gramColumn/sortColumn
    // below): a plain path read of a keyed/bloomed table prunes and
    // SPJ-groups without re-passing what is already a stored property.
    new JsonlStatsTable(properties.get("path"), schema,
      Option(opts.get("statsColumn")).orElse(meta0.flatMap(_.statsCol))
        .getOrElse(JsonlStats.statsColumn),
      Option(opts.get("partitionColumn")).orElse(meta0.flatMap(_.partitionCol)),
      branch.map(Refs.branchManifest)
        .getOrElse(opts.getOrDefault("manifest", "_stats.jsonl")),
      Option(opts.get("bloomColumn")).orElse(meta0.flatMap(_.bloomCol)),
      Option(opts.get("deleteMode")).orElse(meta0.flatMap(_.deleteMode)),
      mapping,
      // gram index resolves from the option OR the table sidecar — a
      // plain path read of an indexed table skips without being told
      gramCol = Option(opts.get("gramColumn")).orElse(meta0.flatMap(_.gramCol)),
      branch = branch,
      // declared write sort (r9c): a table property, not job discipline
      sortCol = Option(opts.get("sortColumn")).orElse(meta0.flatMap(_.sortCol)),
      // TABLESAMPLE semantics declaration (r12b): a table property
      sampleMode = Option(opts.get("sampleMode")).orElse(meta0.flatMap(_.sampleMode)))
  }
}

object JsonlStats {
  /** Fixed event-feed schema (the reference's landing-zone shape). */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Default maximum bytes per read split; per-read override via the
    * `splitBytes` option. 4 MB matches the engine's table-layout split
    * law (one split per 4 MB once scan bytes dominate task overhead). */
  val DefaultSplitBytes: Long = 4L << 20

  /** Row-offset checkpoint granularity (r8, VERDICT r7 #4): the writer
    * records one `(byteOffset, rowsBefore)` pair per ~this many bytes,
    * each offset an exact line start. Checkpoint-aligned read splits
    * then KNOW their starting physical row, which lifts the two
    * whole-file restrictions range splitting had: DV'd files (the mask
    * is keyed by physical position) and `_pos` projection. 1 MiB keeps
    * a split boundary within 25% of the 4 MiB default split target
    * while costing a 10 GB file ~10k pairs ≈ 250 KB of manifest. */
  val CheckpointBytes: Long = 1L << 20

  /** DEFAULT column the manifest carries bounds for; per-table override
    * via the `statsColumn` read/write option (a user-id-keyed layout
    * skips on user ranges, a value-keyed one on value ranges — the
    * manifest format is column-agnostic, the option names the column
    * its `min_value`/`max_value` describe). */
  val statsColumn = "value"

  /** TABLESAMPLE pushdown (r12b): a file's deterministic sample
    * coordinate u ∈ [0, 1). The anchor is the file's STABLE identity —
    * its pkey on keyed layouts (so the decision survives compaction,
    * which never crosses keys, and is mirrorable by anything that can
    * recompute the key), the file name otherwise. The arithmetic is
    * deliberately elementary — one multiplicative hash over a 31-bit
    * ring — so an external system (the DuckDB oracle, a downstream
    * auditor) can reproduce the exact kept set from the key alone:
    * u = ((anchor · 2654435761 + seed · 40503 + 17) mod 2³¹) / 2³¹,
    * with a numeric pkey used AS the anchor and any other string
    * folded by h ← h·31 + codepoint first. Files keep iff
    * lower ≤ u < upper, so same-seed fractions NEST (f₁ < f₂ ⇒
    * sample(f₁) ⊆ sample(f₂)) and the kept fraction converges to
    * (upper − lower) as files grow. */
  def sampleU(s: FileStats, seed: Long): Double = {
    val anchor: Long = s.pkey match {
      case Some(p) =>
        try p.toLong
        catch { case _: NumberFormatException => p.foldLeft(7L)((h, c) => h * 31 + c) }
      case None => s.file.foldLeft(7L)((h, c) => h * 31 + c)
    }
    val h = java.lang.Math.floorMod(anchor * 2654435761L + seed * 40503L + 17L, 1L << 31)
    h.toDouble / (1L << 31).toDouble
  }

  /** Metadata columns (SupportsMetadataColumns): provenance the data
    * rows don't carry. Resolved by name like ordinary columns but ONLY
    * when referenced — an unqueried metadata column costs nothing and
    * never appears in `df.schema`. */
  val FileMeta = "_file" // absolute path of the data file a row came from
  val PosMeta = "_pos"   // 0-based row position within that file

  /** Row lineage metadata columns (r10, the Iceberg-v3 row-lineage
    * idea): `_row_id` is a table-unique, commit-assigned identity that
    * survives maintenance rewrites; `_last_updated_version` is the
    * manifest version of the commit that last (re)wrote the row.
    * Assignment is pure manifest arithmetic — [[commitAtomic]] stamps
    * each NEW file entry with `frid` (its first row id, from the
    * manifest's `next_row_id` counter line) and `luv` (the committed
    * version); a row's id is `frid + physical position`, served from
    * reader state like `_pos`, costing zero data bytes. Merge-on-read
    * deletes/upserts preserve survivor ids by construction (positions
    * are stable under masking); compaction carries id ranges as
    * manifest runs (`frids`); row-scattering rewrites materialize
    * per-row `_row_id`/`_luv` JSON fields. Unassigned files (legacy
    * manifests, branch-staged entries before fast_forward) serve NULL
    * until a main-table commit stamps them. */
  val RowIdMeta = "_row_id"
  val LuvMeta = "_last_updated_version"
  /** In-row physical field for materialized last-updated versions
    * (short: rewrites touch every row; `_row_id` keeps its public name
    * so a re-rewrite recognizes it). */
  val LuvField = "_luv"

  /** Manifest lineage of one file, resolved per physical position —
    * the executor-side view of (`frid`, `luv`, `frids`), shipped in
    * the input partition. `rowIdAt`/`luvAt` return -1 when the
    * manifest does not know (unassigned, or a materialized file whose
    * answer lives in-row). */
  final case class Lineage(frid: Long = -1L, luv: Long = 0L,
                           runs: Seq[(Long, Long, Long, Long)] = Nil) {
    /** -1 on luv-only runs (firstId = -1, r12): ids live in-row there. */
    def rowIdAt(pos: Long): Long =
      if (frid >= 0L) frid + pos
      else if (runs.nonEmpty)
        runs.find(r => pos >= r._1 && pos < r._1 + r._3)
          .map(r => if (r._2 == -1L) -1L else r._2 + (pos - r._1)).getOrElse(-1L)
      else -1L
    def luvAt(pos: Long): Long =
      if (frid >= 0L) luv
      else if (runs.nonEmpty)
        runs.find(r => pos >= r._1 && pos < r._1 + r._3).map(_._4).getOrElse(-1L)
      else -1L
    /** The luv backing null-luv MATERIALIZED rows at `pos` (the
      * entry-luv / luv-only-run fallback, r12). 0 = none. */
    def backLuvAt(pos: Long): Long =
      if (frid == -2L) luv
      else runs.find(r => pos >= r._1 && pos < r._1 + r._3 && r._2 == -1L)
        .map(_._4).getOrElse(0L)
  }
  object Lineage {
    def of(s: FileStats): Lineage = Lineage(s.frid, s.luv, s.runs)
  }

  /** Coalesce adjacent lineage runs (r12): contiguous positions, same
    * luv, and consecutive ids (or both luv-only) merge into one run —
    * a rolling-compaction product of same-commit neighbors stops
    * accreting one run per member. Sorted by start position. */
  def coalesceRuns(runs: Seq[(Long, Long, Long, Long)]): Seq[(Long, Long, Long, Long)] =
    runs.sortBy(_._1).foldLeft(Vector.empty[(Long, Long, Long, Long)]) { (acc, r) =>
      acc.lastOption match {
        case Some(p) if p._1 + p._3 == r._1 && p._4 == r._4 &&
            ((p._2 == -1L && r._2 == -1L) || (p._2 >= 0L && r._2 == p._2 + p._3)) =>
          acc.init :+ ((p._1, p._2, p._3 + r._3, p._4))
        case _ => acc :+ r
      }
    }

  /** Run-count ceiling per manifest entry (r12): past this, compact
    * MATERIALIZES the bin's lineage in-row instead of publishing a
    * runaway run list — manifest entries stay O(1) regardless of
    * compaction cadence (SCALING.md's LineageDeepBench kilocommit law). */
  val MaxRunsPerEntry = 32

  /** Manifest entry: data file path (relative to the table root), its
    * closed [min, max] interval over [[statsColumn]], its row count,
    * — for key-grouped layouts — the single partition-column value every
    * row of the file carries (`pkey`; absent on unkeyed layouts), and
    * (r7b) `cols`: per-column [min, max] intervals for EVERY numeric
    * column the writer saw non-null values of — the Iceberg/Delta
    * full-stats shape, generalizing the single stats column. A column
    * absent from `cols` is UNKNOWN (no pruning, no pushdown), which is
    * both the all-null case and the legacy-manifest case — absence is
    * always conservative, never a sentinel. */
  /** `dvs`/`dels` (r7c): deletion-vector sidecars attached to the file
    * by merge-on-read DELETE ([[JsonlDeleteVectors]]) and the count of
    * positions they mask — the entry's rows remain the PHYSICAL count
    * (live rows = rows − dels). */
  /** `colNonNull` (r7c): per-column NON-NULL row counts — what serves
    * `COUNT(col)` aggregate pushdown (count = Σ non-null, no data IO).
    * Absent = unknown (legacy manifests) = pushdown declined for that
    * column; the same absence-is-conservative rule as `cols`. */
  /** `strCols` (r8): per-STRING-column truncated bounds, the Iceberg
    * law — lower bound truncated DOWN (a ≤-16-codepoint prefix of the
    * attained min, so `lower ≤ min` always), upper bound truncated UP
    * (first 16 codepoints with the last incrementable codepoint
    * incremented, so `upper ≥ max`; None when no codepoint can be
    * incremented = unknown). ISO timestamp strings — the reference's
    * own event-time format — prune at planning time through these. */
  /** `ckpts` (r8): row-offset checkpoints — strictly-increasing
    * `(byteOffset, rowsBefore)` pairs where `byteOffset` is an exact
    * line start and `rowsBefore` the count of physical rows preceding
    * it. Absent on legacy manifests (= DV'd/`_pos` reads fall back to
    * whole-file partitions — the pre-r8 behavior, conservative). */
  final case class FileStats(file: String, min: Double, max: Double, rows: Long,
                             pkey: Option[String] = None,
                             cols: Map[String, (Double, Double)] = Map.empty,
                             dvs: Seq[String] = Nil,
                             dels: Long = 0L,
                             colNonNull: Map[String, Long] = Map.empty,
                             strCols: Map[String, (String, Option[String])] = Map.empty,
                             ckpts: Seq[(Long, Long)] = Nil,
                             segb: Seq[(Double, Double)] = Nil,
                             pspec: Option[String] = None,
                             seq: Long = 0L,
                             // row lineage (r10, the Iceberg-v3 idea):
                             //   frid >= 0  → row at physical pos p has
                             //     _row_id = frid + p (one fresh run);
                             //   frid == -2 → ids MATERIALIZED per row
                             //     ("_row_id"/"_luv" JSON fields,
                             //     written by row-scattering rewrites);
                             //   frid == -1 → unassigned (legacy /
                             //     branch-staged; the NEXT main commit
                             //     stamps it).
                             // luv = manifest version of the commit
                             // that last (re)wrote these rows.
                             // runs = [(startPos, firstId, len, luv)]:
                             // multi-run lineage of a CONCAT rewrite
                             // (compaction) — source files' id ranges
                             // carried as manifest arithmetic, zero
                             // data-byte rewrites.
                             frid: Long = -1L,
                             luv: Long = 0L,
                             runs: Seq[(Long, Long, Long, Long)] = Nil,
                             // vector cell SETS (r12): per float/double-
                             // array column, the exact set of sign-cells
                             // present in the file as one 64-bit bitmap
                             // (VecCellBits = 6 ⇒ exactly 64 cells — the
                             // whole domain fits a long). The `#cell`
                             // interval over-keeps any file whose cells
                             // straddle the probe; the bitmap prunes
                             // EXACTLY. Absent = unknown = interval
                             // fallback (legacy manifests).
                             vcells: Map[String, Long] = Map.empty,
                             // declared-sort discipline (r12b): the
                             // PHYSICAL column this file's rows are
                             // sorted by (ascending, nulls first) —
                             // stamped by the write path when the
                             // table's sortColumn ordering was actually
                             // requested, DROPPED by any rewrite that
                             // breaks it (compaction byte-concat,
                             // zorder). Absent = unknown = report no
                             // ordering (conservative).
                             sorted: Option[String] = None)

  /** Bounds of `col` for a file: the multi-column map first, falling
    * back to the legacy single-stats interval (whose all-null sentinel
    * means unknown). */
  def colBounds(s: FileStats, col: String, statsCol: String): Option[(Double, Double)] =
    s.cols.get(col).orElse {
      if (col == statsCol && !(s.min == Double.MinValue && s.max == Double.MaxValue))
        Some((s.min, s.max))
      else None
    }

  /** Manifest history dir: `_history/v{N}.jsonl` is the manifest that
    * WAS current until version N+1 was published ([[publishManifest]]
    * archives the outgoing manifest before the swap). Version numbers
    * run 1..K with K = the live `_stats.jsonl`; VACUUM may expire a
    * PREFIX of the archive (1..m), so numbering is derived from the
    * HIGHEST surviving archive, never from the archive count. */
  val HistoryDir = "_history"

  /** Vacuum-horizon sidecar (`_history/_vacuum.json`): written by
    * VACUUM when it expires archived generations. `horizon_ms` is the
    * supersede instant of the NEWEST expired generation (= the mtime
    * its archive file carried before deletion) and `min_version` the
    * oldest generation still resolvable. Time travel consults it so a
    * `TIMESTAMP AS OF` that falls inside a vacuumed generation's
    * window fails LOUDLY instead of silently resolving the next
    * surviving snapshot (which was NOT the table's state at T). */
  val VacuumSidecar = "_vacuum.json"

  final case class VacuumHorizon(horizonMs: Long, minVersion: Int)

  def readVacuumHorizon(root: String): Option[VacuumHorizon] = {
    val p = Paths.get(root, HistoryDir, VacuumSidecar)
    if (!Files.exists(p)) None
    else {
      val n = new ObjectMapper().readTree(Files.readAllLines(p).asScala.mkString("\n"))
      Some(VacuumHorizon(n.get("horizon_ms").asLong(), n.get("min_version").asInt()))
    }
  }

  def writeVacuumHorizon(root: String, h: VacuumHorizon): Unit = {
    val mapper = new ObjectMapper()
    val n = mapper.createObjectNode()
    n.put("horizon_ms", h.horizonMs); n.put("min_version", h.minVersion)
    Files.createDirectories(Paths.get(root, HistoryDir))
    Files.write(Paths.get(root, HistoryDir, VacuumSidecar),
      java.util.Arrays.asList(n.toString),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  def historyVersions(root: String): Seq[Int] = {
    val h = Paths.get(root, HistoryDir)
    if (!Files.isDirectory(h)) Seq.empty
    else {
      val s = Files.list(h)
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") && n.endsWith(".jsonl") =>
          n.stripPrefix("v").stripSuffix(".jsonl") }
        .filter(v => v.nonEmpty && v.forall(_.isDigit)).map(_.toInt).toSeq.sorted
      finally s.close()
    }
  }

  /** Per-segment stats-column bounds tracker (r8 zone maps) — the ONE
    * definition of the boundary law both producers (the write sink and
    * rewrite_deletes) share: a checkpoint offset is the BOUNDARY ROW's
    * line start, so that row belongs to the segment AFTER the seal —
    * callers must `seal()` at the checkpoint BEFORE `add()`ing the
    * boundary row's value, or the value lands in the wrong segment's
    * bounds and the planner can prune the range that actually holds
    * the row (silent row loss on boundary-value predicates — caught in
    * review r8). NaN poisons the current segment to the sentinel pair
    * (never pruned): NaN compares false with everything, so finite
    * bounds computed past it would EXCLUDE rows `=== NaN` finds. */
  final class ZoneTracker {
    private var mn = Double.PositiveInfinity
    private var mx = Double.NegativeInfinity
    private val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    def add(v: Double): Unit =
      if (v.isNaN) { mn = Double.MinValue; mx = Double.MaxValue }
      else { if (v < mn) mn = v; if (v > mx) mx = v }
    def seal(): Unit = {
      buf += (if (mn <= mx) (mn, mx) else (Double.MinValue, Double.MaxValue))
      mn = Double.PositiveInfinity; mx = Double.NegativeInfinity
    }
    /** Trailing segment sealed here; single-segment zones duplicate the
      * file bounds, so they publish only with interior checkpoints. */
    def zones(ckptsNonEmpty: Boolean): Seq[(Double, Double)] = {
      seal()
      if (ckptsNonEmpty) buf.toSeq else Nil
    }
  }

  /** Current version number = highest surviving archive + 1, floored
    * by the vacuum horizon's `min_version` (gap- and vacuum-tolerant:
    * expiring archives — even ALL of them, retain_last = 1 — must
    * never renumber the live generation, or `VERSION AS OF` on an
    * expired number would silently resolve the live table). */
  def currentVersion(root: String): Int = math.max(
    historyVersions(root).lastOption.getOrElse(0) + 1,
    readVacuumHorizon(root).map(_.minVersion).getOrElse(1))

  def readStats(root: String): Seq[FileStats] = readStats(root, "_stats.jsonl")

  // ---- live-manifest snapshot cache (r12) -------------------------------
  // Planning parses the live manifest once per manifest IDENTITY, not
  // once per query. Soundness rides the commit protocol itself: every
  // swap of `_stats.jsonl` is an ATOMIC_MOVE of a fresh temp file — a
  // NEW inode — so (fileKey, size, mtime-ns) names one snapshot's
  // content for the file's whole life (the Delta/Iceberg snapshot-cache
  // posture, keyed on filesystem identity instead of a version pointer).
  // The attributes are re-checked AFTER the parse: a swap racing the
  // read returns the (still wholly-consistent) parse uncached instead of
  // poisoning the map. Archived manifests, branch heads and raw-line
  // consumers (the OCC base read compares bytes) stay uncached — this is
  // a PLANNING cache, never a commit-protocol participant. Driver-side
  // only: executors receive planned partitions, never the manifest.
  private final case class SnapKey(fileKey: String, size: Long, mtimeNs: Long)
  private val snapCache =
    new java.util.LinkedHashMap[(String, String), (SnapKey, AnyRef)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), (SnapKey, AnyRef)]): Boolean =
        size() > 256 // tables actively planned; evicted snapshots just re-parse
    }
  private def snapKeyOf(p: Path): Option[SnapKey] =
    try {
      val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      // no usable identity (exotic FS) -> never cache, never collide
      Option(a.fileKey).map(k => SnapKey(k.toString, a.size,
        a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS)))
    } catch { case _: java.io.IOException => None }

  /** Memoize a pure derivation of the LIVE manifest under its current
    * identity. `tag` names the derivation (parsed stats, eqdel set) —
    * each pays its own cold pass per commit, every later plan is a map
    * lookup. */
  private[sources] def cachedLive[T <: AnyRef](root: String, tag: String)(derive: => T): T = {
    val p = Paths.get(root, "_stats.jsonl")
    val before = snapKeyOf(p)
    val hit = before.flatMap(k =>
      snapCache.synchronized(Option(snapCache.get((root, tag)))).filter(_._1 == k))
    hit match {
      case Some((_, cached)) => cached.asInstanceOf[T]
      case None =>
        val derived = derive
        if (before.isDefined && snapKeyOf(p) == before)
          snapCache.synchronized { snapCache.put((root, tag), (before.get, derived)) }
        derived
    }
  }

  def readStats(root: String, manifest: String): Seq[FileStats] =
    if (manifest != "_stats.jsonl")
      parseStatsLines(readManifestLines(root, manifest))
    else cachedLive(root, "stats") {
      parseStatsLines(readManifestLines(root, manifest))
    }

  /** Resolve a manifest to its full line set. HISTORY COMPACTION (r9):
    * an archived snapshot may have been re-encoded as a REVERSE DELTA
    * against its predecessor (`CALL compact_history`) — first line
    * `{"delta_base": K}`, then verbatim ADDED lines and
    * `{"del": "<line>"}` removals. Resolution walks the chain back to
    * the nearest FULL snapshot (periodic fulls bound the walk; vacuum
    * materializes the first retained archive before expiring its
    * bases). The LIVE manifest and the newest slots are never deltas —
    * the OCC lease protocol compares their raw bytes. */
  def readManifestLines(root: String, manifest: String): Seq[String] = {
    // The chain is walked ITERATIVELY (r10, review): a recursive walk
    // overflows the JVM stack after a few thousand frames (each holding
    // a full line Seq), so a corrupt self-referential delta_base — or a
    // legitimate huge full_every — would die with StackOverflowError
    // instead of a loud diagnostic. Collect delta layers newest→oldest,
    // then fold forward from the full snapshot. Cycle guard: every hop
    // must strictly DECREASE the base version (compaction writes
    // delta_base = v-1 by construction), so any repeat or increase is
    // corruption and fails loudly.
    val mapper = new ObjectMapper()
    // (dels, adds) layers, newest first
    val layers = scala.collection.mutable.ArrayBuffer.empty[(Set[String], Seq[String])]
    var cur = manifest
    var lastBase = Int.MaxValue
    var full: Seq[String] = null
    while (full == null) {
      val lines = Files.readAllLines(Paths.get(root, cur)).asScala.toSeq
      val isDelta = lines.headOption.exists { h =>
        h.nonEmpty && h.startsWith("{\"delta_base\"") &&
          mapper.readTree(h).hasNonNull("delta_base")
      }
      if (!isDelta) full = lines
      else {
        val base = mapper.readTree(lines.head).get("delta_base").asInt()
        require(base < lastBase,
          s"manifest delta chain at $cur points to v$base, not strictly older " +
            s"than its reader — corrupt delta_base pointer?")
        lastBase = base
        val (delLines, addLines) = lines.tail.filter(_.nonEmpty)
          .partition(l => mapper.readTree(l).hasNonNull("del"))
        layers += ((delLines.map(l => mapper.readTree(l).get("del").asText()).toSet, addLines))
        cur = s"$HistoryDir/v$base.jsonl"
      }
    }
    // apply oldest delta first
    layers.reverseIterator.foldLeft(full) { case (acc, (dels, adds)) =>
      acc.filterNot(dels) ++ adds
    }
  }

  /** Parse manifest lines to file entries (txn watermark lines — the
    * streaming sink ledger — ride in the same manifest and are
    * skipped). */
  def parseStatsLines(raw: Seq[String]): Seq[FileStats] = {
    val mapper = new ObjectMapper()
    raw.filter(_.nonEmpty)
      .map(mapper.readTree)
      .filter(_.hasNonNull("file"))
      .map { n =>
        val cols =
          if (!n.hasNonNull("cols")) Map.empty[String, (Double, Double)]
          else {
            val c = n.get("cols")
            val b = Map.newBuilder[String, (Double, Double)]
            c.fieldNames().asScala.foreach { f =>
              val e = c.get(f)
              b += f -> (e.get("min").asDouble(), e.get("max").asDouble())
            }
            b.result()
          }
        val dvs =
          if (!n.hasNonNull("dvs")) Nil
          else (0 until n.get("dvs").size()).map(i => n.get("dvs").get(i).asText())
        // n_rows is optional in the manifest (older manifests carry only
        // bounds); -1 marks it absent, which declines aggregate pushdown
        val colN =
          if (!n.hasNonNull("colns")) Map.empty[String, Long]
          else {
            val c = n.get("colns")
            val b = Map.newBuilder[String, Long]
            c.fieldNames().asScala.foreach(f => b += f -> c.get(f).asLong())
            b.result()
          }
        val strCols =
          if (!n.hasNonNull("scols")) Map.empty[String, (String, Option[String])]
          else {
            val c = n.get("scols")
            val b = Map.newBuilder[String, (String, Option[String])]
            c.fieldNames().asScala.foreach { f =>
              val e = c.get(f)
              b += f -> (e.get("min").asText(),
                if (e.hasNonNull("max")) Some(e.get("max").asText()) else None)
            }
            b.result()
          }
        val ckpts =
          if (!n.hasNonNull("ckpts")) Nil
          else {
            val a = n.get("ckpts")
            (0 until a.size()).map { i =>
              val p = a.get(i); (p.get(0).asLong(), p.get(1).asLong())
            }
          }
        val segb =
          if (!n.hasNonNull("segb")) Nil
          else {
            val a = n.get("segb")
            (0 until a.size()).map { i =>
              val p = a.get(i); (p.get(0).asDouble(), p.get(1).asDouble())
            }
          }
        FileStats(n.get("file").asText(), n.get("min_value").asDouble(),
          n.get("max_value").asDouble(),
          if (n.hasNonNull("n_rows")) n.get("n_rows").asLong() else -1L,
          if (n.hasNonNull("pkey")) Some(n.get("pkey").asText()) else None,
          cols, dvs,
          if (n.hasNonNull("n_dels")) n.get("n_dels").asLong() else 0L,
          colN, strCols, ckpts, segb,
          // partition evolution (r9): `ps` records the TRANSFORM this
          // file's pkey was derived under; absent = the table's current
          // spec (every pre-evolution manifest)
          if (n.hasNonNull("ps")) Some(n.get("ps").asText()) else None,
          // equality deletes (r9b): commit sequence number — a delete
          // applies iff file.seq < eqdel.seq; absent = 0 (every
          // pre-feature manifest, to which all deletes apply)
          if (n.hasNonNull("seq")) n.get("seq").asLong() else 0L,
          // row lineage (r10): first row id / last-updated version /
          // concat runs — absent on every pre-lineage manifest
          if (n.hasNonNull("frid")) n.get("frid").asLong() else -1L,
          if (n.hasNonNull("luv")) n.get("luv").asLong() else 0L,
          if (!n.hasNonNull("frids")) Nil
          else n.get("frids").elements().asScala.map { r =>
            (r.get(0).asLong(), r.get(1).asLong(), r.get(2).asLong(), r.get(3).asLong())
          }.toSeq,
          // vector cell bitmaps (r12) — absent on every pre-r12 manifest
          if (!n.hasNonNull("vcells")) Map.empty[String, Long]
          else {
            val c = n.get("vcells")
            val b = Map.newBuilder[String, Long]
            c.fieldNames().asScala.foreach(f => b += f -> c.get(f).asLong())
            b.result()
          },
          // declared-sort stamp (r12b) — absent on every older manifest
          if (n.hasNonNull("sorted")) Some(n.get("sorted").asText()) else None)
      }
  }

  /** One manifest line, Jackson-serialized: `pkey` (and in principle the
    * file name) is user-data-derived, so string interpolation would
    * corrupt the manifest on the first quote or backslash. */
  def statsLine(s: FileStats): String = {
    val mapper = new ObjectMapper()
    val n = mapper.createObjectNode()
    n.put("file", s.file); n.put("min_value", s.min); n.put("max_value", s.max)
    if (s.rows >= 0) n.put("n_rows", s.rows)
    s.pkey.foreach(n.put("pkey", _))
    s.pspec.foreach(n.put("ps", _))
    // emitted only when set: pre-eqdel manifests stay byte-stable
    if (s.seq > 0L) n.put("seq", s.seq)
    // row lineage (r10) — same emitted-only-when-set posture
    if (s.frid != -1L) n.put("frid", s.frid)
    if (s.luv > 0L) n.put("luv", s.luv)
    if (s.runs.nonEmpty) {
      val a = n.putArray("frids")
      s.runs.foreach { case (p0, id0, len, luv) =>
        val r = a.addArray(); r.add(p0); r.add(id0); r.add(len); r.add(luv)
      }
    }
    if (s.cols.nonEmpty) {
      val c = n.putObject("cols")
      s.cols.toSeq.sortBy(_._1).foreach { case (f, (mn, mx)) =>
        val e = c.putObject(f); e.put("min", mn); e.put("max", mx)
      }
    }
    if (s.vcells.nonEmpty) {
      val c = n.putObject("vcells")
      s.vcells.toSeq.sortBy(_._1).foreach { case (f, bm) => c.put(f, bm) }
    }
    s.sorted.foreach(n.put("sorted", _))
    if (s.dvs.nonEmpty) {
      val a = n.putArray("dvs")
      s.dvs.foreach(a.add)
      n.put("n_dels", s.dels)
    }
    if (s.colNonNull.nonEmpty) {
      val c = n.putObject("colns")
      s.colNonNull.toSeq.sortBy(_._1).foreach { case (f, v) => c.put(f, v) }
    }
    if (s.strCols.nonEmpty) {
      val c = n.putObject("scols")
      s.strCols.toSeq.sortBy(_._1).foreach { case (f, (lo, hi)) =>
        val e = c.putObject(f); e.put("min", lo); hi.foreach(e.put("max", _))
      }
    }
    if (s.ckpts.nonEmpty) {
      val a = n.putArray("ckpts")
      s.ckpts.foreach { case (o, r) => val p = a.addArray(); p.add(o); p.add(r) }
    }
    // per-SEGMENT stats-column bounds (r8 zone maps): segment i spans
    // [ckpt_{i-1}, ckpt_i) — ckpts.size + 1 pairs when present
    if (s.segb.nonEmpty) {
      val a = n.putArray("segb")
      s.segb.foreach { case (lo, hi) => val p = a.addArray(); p.add(lo); p.add(hi) }
    }
    n.toString
  }

  /** One streaming-txn watermark line: `{"txn": appId, "epoch": N}` —
    * the Delta `txn` action in miniature, carried IN the manifest so
    * ledger and data share the single atomic commit point (the manifest
    * move). One line per appId, holding the HIGHEST committed epoch:
    * epochs are sequential per app, so `epoch <= watermark` is the
    * already-committed test a replayed micro-batch must fail. */
  def txnLine(appId: String, epoch: Long): String = {
    val n = new ObjectMapper().createObjectNode()
    n.put("txn", appId); n.put("epoch", epoch)
    n.toString
  }

  /** Streaming-txn watermarks of a manifest: appId → highest committed
    * epoch. */
  def readTxns(root: String, manifest: String = "_stats.jsonl"): Map[String, Long] = {
    val p = Paths.get(root, manifest)
    if (!Files.exists(p)) return Map.empty
    val mapper = new ObjectMapper()
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
      .map(mapper.readTree)
      .filter(_.hasNonNull("txn"))
      .map(n => n.get("txn").asText() -> n.get("epoch").asLong())
      .toMap
  }

  /** Optional `_table.json` sidecar: table-level metadata the options
    * would otherwise have to carry out of band — which column the
    * manifest bounds describe, the key-grouping column, the schema. A
    * catalog MUST consult it: resolving a user-id-bounded table with the
    * default stats column would prune files against the wrong bounds
    * (silently wrong results) and serve MIN/MAX of the wrong column. */
  /** `columnMapping` (r7c — the Delta column-mapping idea): LOGICAL
    * column name → PHYSICAL JSON field name. Grows only via ALTER
    * TABLE RENAME COLUMN: the data bytes and manifest stats keys keep
    * the original (physical) names forever, the Spark-facing schema
    * carries the logical names, and the connector translates at every
    * boundary — so a rename is one sidecar rewrite, zero data IO. */
  final case class TableMeta(statsCol: Option[String], partitionCol: Option[String],
                             schema: Option[StructType],
                             bloomCol: Option[String] = None,
                             deleteMode: Option[String] = None,
                             constraints: Seq[(String, String)] = Nil,
                             columnMapping: Map[String, String] = Map.empty,
                             features: Seq[String] = Nil,
                             reserved: Seq[String] = Nil,
                             gramCol: Option[String] = None,
                             sortCol: Option[String] = None,
                             sampleMode: Option[String] = None)

  // ---- protocol features (r8): the Delta reader-features idea -----------

  /** READ-gating table features: a reader that does not implement one
    * of these would silently MISREAD the data — ignoring deletion
    * vectors resurrects masked rows; ignoring column mapping returns
    * null for every renamed column. The write path that first uses the
    * capability stamps the feature into `_table.json` BEFORE its
    * commit (a crash in between over-declares, which is conservative),
    * and every resolution path refuses a table whose feature list
    * names something this build does not know — loud forward
    * incompatibility instead of silent wrong results.
    *
    * Deliberately NOT gated: advisory metadata a reader may ignore at
    * worst conservatively — per-column stats, string bounds, non-null
    * counts, row-offset checkpoints (absent ⇒ whole-file tasks),
    * bloom sidecars, txn watermarks (a READER never consults them).
    * Gating those would refuse old readers that are perfectly correct.
    * Features are sticky: rewrite_deletes collapses live DVs but
    * archived snapshots still carry them, so dropping the flag would
    * need the DV'd history vacuumed first (Delta's drop-feature flow;
    * not implemented, stated). */
  val FeatureDvs = "deletion-vectors"
  val FeatureColumnMapping = "column-mapping"
  val FeatureColumnDefaults = "column-defaults"
  /** r9: archived snapshots may be reverse deltas — a reader unaware
    * of the encoding would take a delta file's ADD lines as the whole
    * snapshot (silently truncated time travel), so it read-gates. */
  val FeatureHistoryDeltas = "history-deltas"
  /** r9b: equality deletes — an unaware reader would take the data
    * files at face value and resurrect every upsert-retracted key. */
  val FeatureEqDeletes = "equality-deletes"
  val KnownReadFeatures: Set[String] =
    Set(FeatureDvs, FeatureColumnMapping, FeatureColumnDefaults, FeatureHistoryDeltas,
      FeatureEqDeletes)

  /** Serializes read-modify-write updates of `_table.json` within this
    * JVM (the DV commit's feature stamp racing catalog DDL — r8
    * review). Each writer re-reads the sidecar INSIDE the lock, so a
    * concurrent update is never overwritten with a stale snapshot.
    * Cross-process sidecar writers remain last-writer-wins: the
    * sidecar is table CONTRACT, changed by DDL, and concurrent DDL
    * from separate processes is the single-administrator assumption
    * every catalog here already makes. */
  val metaLock = new Object

  def writeTableMeta(root: String, statsCol: String, partitionCol: Option[String],
                     schema: StructType, bloomCol: Option[String] = None,
                     deleteMode: Option[String] = None,
                     constraints: Seq[(String, String)] = Nil,
                     columnMapping: Map[String, String] = Map.empty,
                     features: Seq[String] = Nil,
                     reserved: Seq[String] = Nil,
                     gramCol: Option[String] = None,
                     sortCol: Option[String] = None,
                     sampleMode: Option[String] = None): Unit = {
    val mapper = new ObjectMapper()
    val n = mapper.createObjectNode()
    n.put("statsColumn", statsCol)
    partitionCol.foreach(n.put("partitionColumn", _))
    bloomCol.foreach(n.put("bloomColumn", _))
    sortCol.foreach(n.put("sortColumn", _))
    // substring gram index (r9): ADVISORY metadata, deliberately not a
    // read-gating feature — a reader ignoring it merely reads every file
    gramCol.foreach(n.put("gramColumn", _))
    deleteMode.foreach(n.put("deleteMode", _))
    // TABLESAMPLE pushdown opt-in (r12b): 'system' declares file-level
    // (block) sampling semantics for this table — absent, the scan
    // declines the pushdown and Spark samples rows itself
    sampleMode.foreach(n.put("sampleMode", _))
    if (constraints.nonEmpty) {
      val arr = n.putArray("constraints")
      constraints.foreach { case (name, sql) =>
        val c = mapper.createObjectNode()
        c.put("name", name); c.put("sql", sql)
        arr.add(c)
      }
    }
    if (columnMapping.nonEmpty) {
      val m = n.putObject("columnMapping")
      columnMapping.toSeq.sortBy(_._1).foreach { case (l, p) => m.put(l, p) }
    }
    if (features.nonEmpty) {
      val f = n.putArray("features")
      features.distinct.sorted.foreach(f.add)
    }
    // physical JSON keys no logical column owns anymore (DROP COLUMN,
    // r8): reserved FOREVER — an identity-mapped re-ADD of the name
    // would resurrect the dropped column's old bytes
    if (reserved.nonEmpty) {
      val r = n.putArray("reserved")
      reserved.distinct.sorted.foreach(r.add)
    }
    n.put("schema", schema.json)
    Files.write(Paths.get(root, "_table.json"),
      java.util.Arrays.asList(n.toString),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** The commit point shared by every write path: manifest lines land
    * in a temp file and an ATOMIC_MOVE makes them the table. The
    * OUTGOING manifest is archived to `_history/v{K}.jsonl` first
    * (r7 — time travel): `VERSION AS OF K` re-reads that snapshot, and
    * the archive file's mtime is the instant version K was SUPERSEDED,
    * which is exactly what `TIMESTAMP AS OF` needs (version K was
    * current during [supersede(K−1), supersede(K))). Superseded DATA
    * files are NOT deleted here or by any write path (r7 — deferred
    * GC): history manifests keep referencing them, so every archived
    * snapshot stays readable until `CALL <cat>.vacuum(...)` expires it
    * — the Delta/Iceberg posture, where deletion is a maintenance
    * decision with a retention window, never a side effect of a
    * commit. A vacuumed generation fails its snapshot read LOUDLY —
    * the post-VACUUM contract, not silent wrong data. */
  def publishManifest(root: String, queryId: String, lines: Seq[String]): Unit = {
    // Blind overwrite: the final state IS `lines`, whatever the base —
    // the legacy single-writer publish (catalog CREATE, clone, zorder,
    // bench tooling). Concurrent-safe paths go through [[commitAtomic]]
    // with a real rebase; this one still benefits from the CAS slot
    // reservation (no two publishers can archive the same version).
    val mapper = new ObjectMapper()
    val (own, entries) = lines.partition(l => mapper.readTree(l).hasNonNull("txn"))
    commitAtomic(root, queryId, _ => entries, ownTxns = own)
  }

  // ---- row lineage stamping (r10) ----------------------------------------

  /** The manifest's row-id high-watermark line: `{"next_row_id": N}` —
    * a PROTOCOL line owned by [[commitAtomic]] itself (like txn
    * watermarks, never shown to rebase functions), so id allocation
    * travels through the same atomic swap as the entries it stamps.
    * Monotone forever: rollback/TRUNCATE/overwrite carry it forward,
    * so retired ids are never reissued (cherry_pick can restore a
    * rolled-back file with its original ids and still never collide). */
  val NextRowIdKey = "next_row_id"

  private def isCounterLine(l: String, mapper: ObjectMapper): Boolean =
    l.nonEmpty && l.startsWith("{\"" + NextRowIdKey + "\"") &&
      mapper.readTree(l).hasNonNull(NextRowIdKey)

  private def counterLine(n: Long): String = {
    val node = new ObjectMapper().createObjectNode()
    node.put(NextRowIdKey, n)
    node.toString
  }

  /** Stamp `frid`/`luv` onto every NEW file entry (no lineage fields
    * yet, row count known) of a commit, allocating from `base`.
    * Assignment order is FILE NAME order — writer names zero-pad the
    * partition index, so ids are deterministic under deterministic
    * partitioning. Returns (stamped lines, new high-watermark).
    * Entries already carrying lineage (base entries, compaction runs,
    * materialized rewrites via frid = -2, cherry-picked originals)
    * ride through untouched — re-stamping would change identities. */
  private def stampRowIds(entries: Seq[String], mapper: ObjectMapper,
                          base: Long, version: Long): (Seq[String], Long) = {
    var next = base
    val stamped = scala.collection.mutable.Map.empty[String, String]
    val parsed = entries.map(l => (l, mapper.readTree(l)))
    parsed
      .filter { case (_, n) =>
        n.hasNonNull("file") && !n.hasNonNull("frid") && !n.hasNonNull("frids") &&
          n.hasNonNull("n_rows") }
      .sortBy(_._2.get("file").asText())
      .foreach { case (l, _) =>
        val fs = parseStatsLines(Seq(l)).head
        stamped(l) = statsLine(fs.copy(frid = next, luv = version))
        next += math.max(0L, fs.rows)
      }
    // materialized entries (frid = -2) without a version get THIS
    // commit's (r11): the entry luv backs the reader's fallback for
    // rows whose in-row `_luv` is null — copy-on-write UPDATE images,
    // whose version IS the rewrite commit (Spark nullifies `_luv` on
    // update per the MetadataColumn flag; the id rides, the version
    // restamps). Entries stamped at birth stay stamped forever (luv is
    // monotone-once), so this touches only lines new in this commit —
    // plus, once, a pre-r11 table's legacy carriers, whose rows all
    // hold in-row pairs and never consult the fallback.
    parsed.foreach { case (l, n) =>
      if (!stamped.contains(l) && n.hasNonNull("frid") && n.get("frid").asLong() == -2L &&
          !n.hasNonNull("luv")) {
        val fs = parseStatsLines(Seq(l)).head
        stamped(l) = statsLine(fs.copy(luv = version))
      }
    }
    (entries.map(l => stamped.getOrElse(l, l)), next)
  }

  /** High-watermark floor for a table whose manifest predates the
    * counter line: one past the highest id any stamped entry (or run)
    * could serve. Plain entries contribute frid + rows; runs their
    * max end. Unstamped entries contribute nothing (their ids are not
    * assigned yet). */
  private def counterFloor(entries: Seq[String]): Long =
    parseStatsLines(entries).foldLeft(0L) { (acc, s) =>
      val own =
        if (s.frid >= 0L) s.frid + math.max(0L, s.rows)
        else s.runs.foldLeft(0L)((a, r) => math.max(a, r._2 + r._3))
      math.max(acc, own)
    }

  /** Split protocol counter lines from entry lines; returns
    * (entries-without-counters, highest counter seen or -1). */
  private def splitCounter(lines: Seq[String], mapper: ObjectMapper): (Seq[String], Long) = {
    val (cnt, rest) = lines.partition(isCounterLine(_, mapper))
    (rest, cnt.map(l => mapper.readTree(l).get(NextRowIdKey).asLong())
      .foldLeft(-1L)(math.max))
  }

  /** Drop protocol counter lines — for PLANNERS that capture, hash or
    * replay manifest line sets (refs, rollback, cherry-pick): the
    * counter is commitAtomic's own state, never part of a snapshot's
    * logical identity. */
  def stripCounter(lines: Seq[String]): Seq[String] = {
    val mapper = new ObjectMapper()
    lines.filterNot(isCounterLine(_, mapper))
  }

  /** The table format's type surface (r11): scalars long/double/float/
    * string/boolean, plus arrays and structs composed arbitrarily — the
    * recursive JSON encoding the sink/reader pair implements. One
    * definition, consulted by every DDL gate. */
  def supportedType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.BooleanType |
         // temporal types (r11): stored as epoch micros / epoch days —
         // exact, and numerically bounded like every long column, so
         // date-range predicates prune files at planning time
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.DateType => true
    // decimals (r11): plain-text storage — exact round-trip at any
    // precision/scale; no file stats (absence = never pruned)
    case _: org.apache.spark.sql.types.DecimalType => true
    case org.apache.spark.sql.types.ArrayType(et, _) => supportedType(et)
    case st: org.apache.spark.sql.types.StructType => st.fields.forall(f => supportedType(f.dataType))
    // string-keyed maps (r11): the natural JSON-object encoding — the
    // reference's `props` bag lands typed. Non-string keys have no
    // faithful JSON-object image and stay unsupported.
    case org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.StringType, vt, _) =>
      supportedType(vt)
    case _ => false
  }
  val supportedTypesMsg =
    "the JSONL format carries long/double/float/string/boolean/timestamp/date/decimal " +
      "and arrays/structs/string-keyed maps thereof"

  /** Columns whose file statistics live in the numeric `cols` bounds
    * map (r11): longs/doubles plus the temporal types, whose internal
    * representations (epoch micros, epoch days) are exact in a double
    * below 2^53 — the year 2255 in micros. */
  def numericStatType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.DateType => true
    case _ => false
  }

  /** Map-key statistics (r13): the most distinct keys one file tracks
    * per map column before the column's key stats poison to "none"
    * (absence = never pruned). Property bags have tens of keys; a
    * high-cardinality map (ids as keys) must not bloat the manifest. */
  val MapKeyCap = 64

  /** Keys the per-key stats namespace can carry: the stat key is
    * `<column>.<key>` in the shared cols map, so a key containing the
    * path separator, the derived-stat marker or exotic bytes is
    * untrackable — such a key poisons the column's map stats. */
  def mapStatKeyOk(k: String): Boolean =
    k.nonEmpty && k.length <= 64 &&
      k.forall(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '_' || c == '-')

  /** The completeness marker for a map column's key stats: its presence
    * in the cols map says "every present (key, non-null value) pair of
    * this file is bounded" — which is what lets an ABSENT key prune
    * (no row of the file carries it). Without the marker, absence just
    * means unknown (untracked writer, poisoned cap) and keeps the
    * file. */
  def mapMarkerKey(physCol: String): String = s"$physCol#mk"

  def numericStatValue(dt: org.apache.spark.sql.types.DataType,
                       g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
                       i: Int): Double = dt match {
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => g.getLong(i).toDouble
    case org.apache.spark.sql.types.DateType => g.getInt(i).toDouble
    case _ => g.getDouble(i)
  }

  /** Vector file statistics (r11, closing the r10 "arrays carry no
    * stats" residual). Every top-level `array<float|double>` column
    * gets two derived per-file bounds in the ordinary `cols` map,
    * under reserved suffixed keys (`#` is not a legal column-name
    * character, so they can never collide with data columns):
    *
    *   `<col>#norm` — [min, max] L2 norm over the file's non-null
    *     vectors: a probe with a distance budget r keeps only files
    *     whose norms intersect [‖q‖−r, ‖q‖+r] (triangle inequality).
    *   `<col>#cell` — [min, max] SIGN-CELL id: the 6-bit sign pattern
    *     of the first six elements, a data-independent IVF-style
    *     coarse quantizer (64 cells, no trained centroids to version).
    *     A table laid out cell-clustered answers an LSH-style probe
    *     (query cell + Hamming-1 neighbors) from the files whose cell
    *     range intersects the probe set — planning-time pruning for
    *     vector scans, the same mechanics as every scalar bound.
    *
    * Readers opt in per scan: `vecCells=<col>:<id,id,...>` and
    * `vecNorm=<col>:<lo>:<hi>` options. Absence of the stats keeps the
    * file — the engine-wide conservative rule. */
  val VecCellBits = 6

  def isVectorType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType, _) => true
    case _ => false
  }

  /** One prunable STRUCT LEAF (r12): `key` is the dotted path the
    * pushed nested predicate names (`doc.n_chars` — physical top
    * segment; nested names are declared verbatim, column mapping
    * renames top-level columns only), `chain` the getStruct navigation
    * (ordinal-in-parent, child field count) from the row to the leaf's
    * parent, `idx`/`dt` the leaf ordinal and type. Leaves under arrays
    * or maps are NOT enumerated — a per-element bound answers no
    * predicate Spark pushes. */
  final case class LeafRef(key: String, chain: Array[(Int, Int)], idx: Int,
                           dt: org.apache.spark.sql.types.DataType,
                           // the path as segments (physical top name +
                           // declared nested names) — JSON-byte
                           // navigation for the rewrite regenerator
                           names: Array[String])

  /** Enumerate every numeric/string leaf reachable through pure-struct
    * nesting — the Iceberg leaf-field-bounds idea on this manifest:
    * the writer records bounds per leaf path in the SAME cols/scols
    * maps scalar columns use, so merge, pruning and serialization all
    * ride the existing machinery. */
  def structLeaves(schema: org.apache.spark.sql.types.StructType,
                   physOf: String => String = identity): Seq[LeafRef] = {
    import org.apache.spark.sql.types.{StringType, StructType}
    def walk(segs: Vector[String], chain: Vector[(Int, Int)], st: StructType): Seq[LeafRef] =
      st.fields.zipWithIndex.toSeq.flatMap { case (f, j) =>
        f.dataType match {
          case s: StructType =>
            walk(segs :+ f.name, chain :+ ((j, s.fields.length)), s)
          case dt if numericStatType(dt) || dt == StringType =>
            val path = segs :+ f.name
            Seq(LeafRef(path.mkString("."), chain.toArray, j, dt, path.toArray))
          case _ => Nil
        }
      }
    schema.fields.zipWithIndex.toSeq.flatMap { case (f, i) =>
      f.dataType match {
        case s: StructType =>
          walk(Vector(physOf(f.name)), Vector((i, s.fields.length)), s)
        case _ => Nil
      }
    }
  }

  /** Physical image of a possibly-nested pushed-filter column name:
    * column mapping renames the TOP segment only. */
  def physPath(c: String, columnMapping: Map[String, String]): String = {
    val i = c.indexOf('.')
    if (i < 0) columnMapping.getOrElse(c, c)
    else columnMapping.getOrElse(c.take(i), c.take(i)) + c.substring(i)
  }

  /** THE sign-cell derivation (r12): the 6-bit sign pattern of the
    * first [[VecCellBits]] elements (null element → 0.0, strict `> 0`,
    * NaN → bit clear). One definition consulted by the file sink, the
    * rewrite regenerator and the `graft_cell` V2 catalog function —
    * pruning and filtering can never disagree because they ARE the
    * same arithmetic. Mirrors `ext.SimilarityMath.vecCellCol`/`vecCellSql`. */
  def vecCellOf(a: org.apache.spark.sql.catalyst.util.ArrayData, isFloat: Boolean): Int = {
    val m = math.min(a.numElements(), VecCellBits)
    var cell = 0
    var j = 0
    while (j < m) {
      val e =
        if (a.isNullAt(j)) 0.0
        else if (isFloat) a.getFloat(j).toDouble
        else a.getDouble(j)
      if (e > 0) cell |= 1 << j
      j += 1
    }
    cell
  }

  /** THE L2-norm derivation (r12): plain-double Σe² then sqrt (null
    * element → 0.0) — the file sink's `#norm` bound arithmetic
    * verbatim, shared with the `graft_norm` V2 catalog function so a
    * pushed norm-band predicate prunes against bounds computed by the
    * SAME formula it filters rows with. NaN elements produce a NaN
    * norm (the sink poisons that file's bound to [0, MaxValue]). */
  def vecNormOf(a: org.apache.spark.sql.catalyst.util.ArrayData, isFloat: Boolean): Double = {
    val m = a.numElements()
    var s = 0.0
    var j = 0
    while (j < m) {
      val e =
        if (a.isNullAt(j)) 0.0
        else if (isFloat) a.getFloat(j).toDouble
        else a.getDouble(j)
      s += e * e
      j += 1
    }
    math.sqrt(s)
  }

  /** The numeric image of a pushed-filter VALUE (r11): plain numbers
    * pass through; temporal external types map to the same epoch
    * micros / epoch days the writer's bounds use, so timestamp/date
    * range predicates prune files exactly like longs. None = not a
    * numerically comparable value (strings go through [[strSkipColumn]]). */
  def filterDouble(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue())
    case i: java.time.Instant => Some(i.getEpochSecond * 1e6 + i.getNano / 1000.0)
    case t: java.sql.Timestamp =>
      Some(math.floorDiv(t.getTime, 1000L) * 1e6 + t.getNanos / 1000.0)
    // TimestampNTZ predicates arrive as LocalDateTime (r12, ADVICE r11
    // low): same epoch-micros image the writer stores (wall-clock read
    // as UTC — NTZ has no zone, so the mapping is the identity the
    // writer used)
    case dt: java.time.LocalDateTime =>
      Some(dt.toEpochSecond(java.time.ZoneOffset.UTC) * 1e6 + dt.getNano / 1000.0)
    case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay.toDouble)
    case _ => None
  }

  /** The manifest's row-id high-watermark as a carryable protocol line
    * (None when the manifest predates the counter). For CLONE: a copied
    * table must inherit the source's counter verbatim — the floor pass
    * sees nothing in fully-materialized (frid = -2) entries, so a clone
    * published without the line would mint fresh ids from 0 that
    * collide with the in-row ids it just hard-linked (r11, ADVICE r10
    * medium). The first-generation [[commitAtomic]] path honors a
    * rebase-carried counter and republishes it. */
  def counterCarry(root: String, manifest: String = "_stats.jsonl"): Option[String] = {
    val mapper = new ObjectMapper()
    val (_, cnt) = splitCounter(readManifestLines(root, manifest), mapper)
    if (cnt >= 0L) Some(counterLine(cnt)) else None
  }

  // ---- optimistic concurrency (r8) ---------------------------------------

  /** Thrown when a commit's rebase cannot reconcile a concurrent commit
    * (the Delta `ConcurrentModificationException` family). The loser's
    * work is NOT published — retry the whole operation on the new
    * snapshot, or give up loudly. Never silently drop either side. */
  type ConflictException = java.util.ConcurrentModificationException

  def conflict(msg: String): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"concurrent commit conflict: $msg")

  /** Atomic EXCLUSIVE publish of `lines` at `target`: bytes land fully
    * in a temp file first, then `link(2)` — which is atomic and fails
    * EEXIST when the name is taken — makes them visible. Readers can
    * never observe a partial file AND two publishers can never both win
    * the same name (the two properties a plain CREATE_NEW write or a
    * REPLACE move cannot give together). Returns false if the slot was
    * already taken. */
  private def casPublish(target: Path, lines: Seq[String], tag: String): Boolean = {
    // `.jsonl.tmp-` infix (r8 review): a crash between write and link
    // leaves debris VACUUM's age-gated orphan sweep already matches —
    // CAS temps must not be immortal garbage
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp-cas-$tag")
    Files.write(tmp, lines.asJava,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    try { Files.createLink(target, tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** The optimistically-concurrent commit (the Delta/Iceberg commit
    * loop, on the manifest protocol's own primitives):
    *
    *   1. k := currentVersion; read the live manifest bytes L.
    *   2. Reserve the version slot by exclusively creating
    *      `_history/v{k}.jsonl` with L ([[casPublish]]). Every swap is
    *      preceded by filling the then-lowest-free slot, so WINNING the
    *      reservation proves L was still the live manifest for the
    *      whole window — the loser's create fails EEXIST and it retries
    *      against the winner's published state.
    *   3. Rebase: `rebase(base file entries)` re-derives this commit's
    *      outcome against the proven-current base. Appends return
    *      `base ++ added` (blind appends always commute — Delta's
    *      append-never-conflicts guarantee); rewrites verify their
    *      planned entries survived verbatim and throw
    *      [[ConflictException]] otherwise (ConcurrentDeleteDelete);
    *      overwrites demand an unchanged base.
    *   4. Swap the rebased manifest in with the usual temp +
    *      ATOMIC_MOVE. The swap stays the commit point for DATA
    *      visibility; the reservation is the commit point for VERSION
    *      ordering.
    *
    * First generation (no live manifest): the manifest file itself is
    * the CAS slot — exclusive-create via the same hard-link publish, so
    * two concurrent first-writers cannot clobber each other either.
    *
    * A lost race waits for the winner's swap to land (live != archived
    * slot bytes, or a later slot appears) before retrying, bounded by
    * `spinMs` — a winner that crashed between reserve and swap (or
    * whose rebase was a content-no-op) stalls nobody: the waiter times
    * out and retries at k+1, archiving a duplicate snapshot, which is
    * benign. A rebase CONFLICT likewise leaves its reserved slot as a
    * duplicate snapshot — version numbers measure commit ATTEMPTS
    * after contention, not successes, exactly like Delta's log.
    *
    * Streaming-txn watermarks survive every commit: an idempotency
    * ledger that a concurrent commit silently dropped would re-admit
    * replayed batches. `ownTxns` replaces this committer's own apps'
    * lines; all other apps' watermarks carry forward from the BASE of
    * the attempt that wins.
    *
    * Residual (documented) exposure: a rewrite plans against its scan's
    * snapshot but captures its conflict reference at write-construction
    * time, so a mutation landing inside that same-job window is
    * absorbed rather than detected; and VACUUM's archive expiry assumes
    * a single maintenance scheduler. Commit-vs-commit races — the
    * lost-update class — are fully closed.
    *
    * Returns the version the commit superseded (0 = created the table).
    */
  def commitAtomic(root: String, queryId: String,
                   rebase: Seq[String] => Seq[String],
                   ownTxns: Seq[String] = Nil,
                   onReserved: Int => Unit = _ => (),
                   spinMs: Long = 4000L,
                   maxAttempts: Int = 1000): Int = {
    // maxAttempts is a runaway backstop, NOT a contention policy (r8
    // review): an attempt is only consumed when a RIVAL committed (our
    // reservation lost) or a lease was honored — global progress either
    // way, so the loop is livelock-free and a commutable append must
    // never give up under mere contention. Genuine rebase conflicts
    // throw immediately and are not retried here.
    val mapper = new ObjectMapper()
    val current = Paths.get(root, "_stats.jsonl")
    val ownApps = ownTxns.map(l => mapper.readTree(l).get("txn").asText()).toSet
    // leases this committer already timed out on: a dead owner's slot is
    // honored at most once, or a crashed winner would stall every
    // subsequent commit one spin apiece forever
    val expiredLeases = scala.collection.mutable.Set.empty[String]
    var attempt = 0
    while (true) {
      attempt += 1
      if (attempt > maxAttempts)
        conflict(s"gave up after $maxAttempts attempts on $root (queryId=$queryId)")
      if (!Files.exists(current)) {
        // first generation: exclusive-create the manifest itself.
        // Row lineage (r10): stamp fresh entries from 0 (or from the
        // counter a rebase carried in, e.g. clone preserving the
        // source table's high-watermark) at version 1.
        val (ents, cnt) = splitCounter(rebase(Nil), mapper)
        val base0 = math.max(math.max(0L, cnt), counterFloor(ents))
        val (stamped, next) = stampRowIds(ents, mapper, base0, version = 1L)
        val pub = stamped.sorted ++
          (if (next > 0L) Seq(counterLine(next)) else Nil) ++ ownTxns
        if (casPublish(current, pub, s"$queryId-$attempt"))
          return 0
        // lost the creation race — retry against the winner's table
      } else {
        val k = currentVersion(root)
        val liveBytes =
          try Files.readAllLines(current).asScala.toSeq
          catch { case _: java.nio.file.NoSuchFileException => Seq.empty }
        if (liveBytes.nonEmpty || Files.exists(current)) {
          // CONTENT-NO-OP elimination (r8 review): a commit that would
          // publish exactly the live content (an empty INSERT, a
          // maintenance pass with nothing to do) burns no version —
          // swapping identical bytes would leave the archived slot
          // byte-equal to live FOREVER, indistinguishable from an
          // in-flight reservation (every later committer would pay one
          // lease spin, and the CDF's settled-version check would lag).
          // Returning without committing is a valid serialization: the
          // table state it "produced" is the one that exists. Only for
          // txn-free commits — a streaming epoch must always advance
          // its watermark. The trial runs on an UNPROVEN base, so a
          // trial conflict is ignored (the reserved path re-evaluates
          // authoritatively).
          if (ownTxns.isEmpty) {
            val mapperT = new ObjectMapper()
            // protocol counter lines are commitAtomic's own — rebase
            // functions never see them (r10)
            val (entriesT, _) = splitCounter(liveBytes.filter(_.nonEmpty)
              .filterNot(l => mapperT.readTree(l).hasNonNull("txn")), mapperT)
            val trial = try Some(rebase(entriesT)) catch { case _: Throwable => None }
            if (trial.exists(t => splitCounter(t, mapperT)._1.sorted == entriesT.sorted))
              return k - 1
          }
          val hist = Paths.get(root, HistoryDir)
          Files.createDirectories(hist)
          // A filled slot v{k-1} whose content still EQUALS the live
          // manifest is an IN-FLIGHT reservation: its owner archived the
          // outgoing state but has not swapped the new one in yet.
          // Reserving v{k} now would rebase on the owner's doomed base
          // and the two swaps would clobber each other — so the
          // reservation is honored as a LEASE: wait (bounded by spinMs)
          // for the owner's swap to land before taking the next slot.
          // A crashed owner times the lease out (its slot becomes a
          // duplicate snapshot); an owner merely slower than spinMs
          // between its two commit steps re-opens the race — the
          // lock-lease tradeoff every expiring-lease protocol makes,
          // with spinMs = seconds against two local metadata writes.
          val prevSlot = hist.resolve(s"v${k - 1}.jsonl")
          // Lease freshness is judged by the slot's AGE, not only by
          // this caller's own waiting (r8 advice): a slot byte-equal to
          // live but older than spinMs is crash/conflict debris whose
          // lease already expired — honoring it once per NEW committer
          // (a full spin apiece until some commit finally lands) would
          // tax every caller for one crash. A late owner whose slot
          // aged out CANNOT clobber the expirer's commit: its swap is
          // guarded by the stillLive re-verify below.
          val leaseFresh =
            try System.currentTimeMillis() -
              Files.getLastModifiedTime(prevSlot).toMillis < spinMs
            catch { case _: java.io.IOException => false }
          val inFlight = k > 1 && leaseFresh &&
            !expiredLeases.contains(prevSlot.getFileName.toString) &&
            Files.exists(prevSlot) &&
            (try Files.readAllLines(prevSlot).asScala.toSeq == liveBytes
             catch { case _: java.io.IOException => false })
          if (inFlight) {
            if (!awaitSupersede(root, prevSlot, spinMs))
              expiredLeases += prevSlot.getFileName.toString
            // loop: recompute the version against the settled chain
          } else {
          val slot = hist.resolve(s"v$k.jsonl")
          if (!casPublish(slot, liveBytes, s"$queryId-$attempt")) {
            // someone reserved v{k}: wait for their swap to land, then retry
            awaitSupersede(root, slot, spinMs)
          } else {
            onReserved(k)
            val (baseTxns, baseEntries0) =
              liveBytes.filter(_.nonEmpty).partition(l => mapper.readTree(l).hasNonNull("txn"))
            // row lineage (r10): the counter is a protocol line —
            // strip it before rebase (rebase functions own ENTRIES,
            // never allocation state), re-derive after, stamp every
            // new entry, and publish one fresh counter. Monotone even
            // through overwrites/rollbacks: the base counter carries
            // forward, so retired ids are never reissued.
            val (baseEntries, baseCnt) = splitCounter(baseEntries0, mapper)
            val (ents, rebCnt) = splitCounter(rebase(baseEntries), mapper)
            // an existing counter is authoritative (stamping always
            // bumps it past every assigned range, and it is monotone
            // through every commit shape) — the full-parse floor pass
            // only runs once, on a pre-lineage table's first commit
            val base0 =
              if (baseCnt >= 0L || rebCnt >= 0L) math.max(math.max(0L, baseCnt), rebCnt)
              else counterFloor(ents)
            // the reserved slot archives the OUTGOING version k; the
            // manifest being published IS version k + 1
            val (stamped, next) = stampRowIds(ents, mapper, base0, version = k + 1)
            val keptTxns = baseTxns.filter(l => !ownApps.contains(mapper.readTree(l).get("txn").asText()))
            val all = stamped.sorted ++
              (if (next > 0L) Seq(counterLine(next)) else Nil) ++ ownTxns ++ keptTxns
            val tmp = Paths.get(root, s"_stats.jsonl.tmp-$queryId")
            Files.write(tmp, all.asJava,
              StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
            // Second CAS-style check (r8 advice): if a waiter expired
            // THIS committer's lease (reserve→swap exceeded spinMs) and
            // committed over the reserved base, the live manifest no
            // longer equals the snapshot the reservation proved —
            // swapping now would silently erase the rival's commit.
            // Re-verify immediately before the swap; on mismatch,
            // abandon and retry on the new state (the reserved slot
            // stays behind as a benign duplicate snapshot, exactly like
            // a rebase conflict's). The residual check-to-move window
            // is microseconds of local metadata I/O against a lease
            // measured in seconds — the race the lease re-opened is
            // closed to that margin.
            val stillLive =
              try Files.readAllLines(current).asScala.toSeq == liveBytes
              catch { case _: java.io.IOException => false }
            if (!stillLive) Files.deleteIfExists(tmp)
            else {
              Files.move(tmp, current,
                StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
              return k
            }
          }
          }
        }
      }
    }
    -1 // unreachable
  }

  /** A reservation race was lost: poll until the winner's swap lands
    * (live manifest differs from the archived slot, or a later slot
    * exists), bounded by `spinMs` — see [[commitAtomic]] for why the
    * timeout path is safe. */
  private def awaitSupersede(root: String, slot: Path, spinMs: Long): Boolean = {
    val current = Paths.get(root, "_stats.jsonl")
    val deadline = System.nanoTime() + spinMs * 1000000L
    while (System.nanoTime() < deadline) {
      val slotBytes = try Files.readAllBytes(slot) catch { case _: java.io.IOException => return true }
      val live = try Files.readAllBytes(current) catch { case _: java.io.IOException => return true }
      if (!java.util.Arrays.equals(slotBytes, live)) return true
      try Thread.sleep(2L) catch { case _: InterruptedException => return false }
    }
    false
  }

  /** Rebase for a FILE-REWRITE commit (row-level DV attach / COW
    * replace / compaction / rewrite_deletes): the planned `removed`
    * entry lines must survive VERBATIM in the base — a concurrent
    * commit that touched any of them (another delete's DV, a rewrite, a
    * compaction bin) conflicts loudly, because the rewrite's output was
    * derived from those exact entries (overlapping DVs would
    * double-count `n_dels`; a concat of a since-DV'd member would
    * resurrect its masked rows). Everything ELSE in the base — files
    * appended concurrently, other files' changes — rides through
    * untouched, so maintenance commutes with ingest (the Iceberg
    * rewrite-procedure contract). */
  /** Normalize manifest lines for identity comparison (parse →
    * re-serialize): membership must mean "same entry", not "same
    * bytes" — a base written by an older serialization must not fake a
    * conflict. One parse pass, one shared mapper (r8 review). */
  private def normLines(lines: Seq[String]): Seq[String] = {
    val mapper = new ObjectMapper()
    lines.map { l =>
      val n = mapper.readTree(l)
      if (n.hasNonNull("file")) statsLine(parseStatsLines(Seq(l)).head) else l
    }
  }

  def rebaseRewrite(removed: Seq[String], added: Seq[String])(base: Seq[String]): Seq[String] = {
    val baseNorm = normLines(base)
    val baseSet = baseNorm.toSet
    // planners may have captured the counter protocol line with their
    // snapshot; it is never an entry (r10)
    val removedNorm = normLines(stripCounter(removed))
    val missing = removedNorm.filterNot(baseSet.contains)
    if (missing.nonEmpty)
      conflict(s"${missing.size} planned file entr${if (missing.size == 1) "y" else "ies"} " +
        s"changed under this rewrite (first: ${missing.head.take(120)}); " +
        "replan against the current snapshot")
    val gone = removedNorm.toSet
    base.zip(baseNorm).collect { case (l, n) if !gone.contains(n) => l } ++ added
  }

  /** Rebase for an OVERWRITE commit (truncate / replaceWhere): the
    * whole base must be exactly the planned snapshot — an overwrite
    * logically read (and replaces) every row, so ANY concurrent commit
    * conflicts (serializable, the strictest arm of Delta's matrix;
    * a concurrently-appended file silently destroyed by the truncate
    * would be a lost update, not an overwrite). */
  def rebaseOverwrite(plannedBase: Seq[String], lines: Seq[String])(base: Seq[String]): Seq[String] = {
    if (normLines(base).toSet != normLines(stripCounter(plannedBase)).toSet)
      conflict("table changed under this overwrite; replan against the current snapshot")
    lines
  }

  /** Wrap a Write with the clustered + sorted requirement a keyed
    * layout needs (`RequiresDistributionAndOrdering`): Spark
    * repartitions the incoming query by the partition column and sorts
    * within each task, so the task writer sees every key as one
    * contiguous run and rolls one file per key — the WRITE-side half
    * of the storage-partitioned-join contract (the read side reports
    * `KeyGroupedPartitioning` from the manifest pkeys those files get).
    * Unkeyed writes pass through untouched. */
  def keyedWrite(partitionCol: Option[String], inner: Write): Write =
    keyedWrite(partitionCol, None, inner)

  /** `sortCol` (r9c — the Iceberg write-sort-order property): the write
    * additionally requests a within-task sort by the declared column,
    * so every produced file carries tight bounds and MONOTONE zone-map
    * segments — range skipping and TopN pruning stay effective on every
    * append without any job spelling ORDER BY. Composes under a keyed
    * layout as the secondary sort (files stay one-pkey; rows inside
    * sort). Spark inserts the sort; the writer is unchanged. */
  def keyedWrite(partitionCol: Option[String], sortCol: Option[String], inner: Write): Write = (partitionCol, sortCol) match {
    case (None, None) => inner
    case (None, Some(sc)) =>
      new Write with RequiresDistributionAndOrdering {
        override def requiredDistribution(): Distribution = Distributions.unspecified()
        override def requiredOrdering(): Array[SortOrder] =
          Array(Expressions.sort(Expressions.column(sc), SortDirection.ASCENDING))
        override def toBatch: BatchWrite = inner.toBatch
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          inner.toStreaming
        override def description(): String = s"sorted($sc) ${inner.description()}"
      }
    case (Some(c), _) =>
      // hidden partitioning (r9): cluster + sort by the SOURCE column —
      // resolvable on every write path with no function catalog. For
      // identity this is the exact pre-r9 contract (one contiguous run
      // per key, the writer rolls on change); for bucket/truncate the
      // writer routes rows to per-derived-key sinks instead (bucket
      // keys interleave under any source ordering — a bounded router,
      // not clustering discipline, is what keeps one pkey per file).
      // composite layouts (r12): cluster on every source column and
      // order by the TIME source first — the writer's bounded bucket
      // router flushes on each (monotone) time-key advance, so the
      // ordering IS the handle bound's proof.
      val specs = PartitionTransforms.parseMulti(c)
      val orderCols = (specs.collect { case t: PartitionTransforms.TimeSpec => t.col } ++
        specs.collect { case s if !s.isInstanceOf[PartitionTransforms.TimeSpec] => s.col }).distinct
      new Write with RequiresDistributionAndOrdering {
      override def requiredDistribution(): Distribution =
        Distributions.clustered(specs.map(sp =>
          Expressions.identity(sp.col): org.apache.spark.sql.connector.expressions.Expression
        ).toArray)
      override def requiredOrdering(): Array[SortOrder] =
        (orderCols.map(oc =>
          Expressions.sort(Expressions.column(oc), SortDirection.ASCENDING)) ++
          sortCol.filter(sc => !orderCols.contains(sc)).map(sc =>
            Expressions.sort(Expressions.column(sc), SortDirection.ASCENDING))).toArray
      override def toBatch: BatchWrite = inner.toBatch
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        inner.toStreaming
      override def description(): String = s"keyed($c) ${inner.description()}"
    }
  }

  /** The `sorted` stamp a write's produced files earn (r12b): the
    * PHYSICAL sort column, iff the write actually requested a
    * within-file sort by it — a declared `sortColumn` on an UNKEYED
    * layout (the task sort IS by that column) or an identity-keyed one
    * (each file is a single-key run, so the secondary sort leaves the
    * file ascending by it). Routed layouts (bucket/truncate/time,
    * composites) interleave rows per sink under the SOURCE ordering —
    * their files are not sortColumn-runs, so no stamp (conservative:
    * [[graft.sources.JsonlStatsScan.outputOrdering]] simply reports
    * nothing). */
  def sortedStampFor(partitionCol: Option[String], sortCol: Option[String],
                     columnMapping: Map[String, String]): Option[String] =
    sortCol.filter(_ => partitionCol.forall(pc =>
      PartitionTransforms.parseMulti(pc) match {
        case Seq(_: PartitionTransforms.Identity) => true
        case _ => false
      })).map(c => columnMapping.getOrElse(c, c))

  /** Flatten task commit messages (each task commits one or — keyed —
    * several files) to the real per-file entries. */
  def fileCommits(messages: Array[WriterCommitMessage]): Seq[JsonlFileCommit] =
    messages.toSeq.flatMap {
      case c: JsonlFileCommit   => Seq(c)
      case m: JsonlFileCommits  => m.commits
      case _                    => Seq.empty
    }.filter(c => c.file != null && c.rows > 0)

  /** The tasks' equality-delete files of an upsert write (r9b):
    * (root-relative path, physical key columns, distinct keys). */
  def eqCommits(messages: Array[WriterCommitMessage]): Seq[(String, Seq[String], Long)] =
    messages.toSeq.flatMap {
      case m: JsonlFileCommits => m.eq
      case _                   => None
    }

  /** Best-effort task-file cleanup on job abort (not load-bearing: an
    * unmanifested file is invisible to every reader). */
  def abortCleanup(root: String, messages: Array[WriterCommitMessage]): Unit = {
    fileCommits(messages).foreach { c =>
      Files.deleteIfExists(Paths.get(root, c.file))
      Files.deleteIfExists(Paths.get(root, Bloom.sidecarName(c.file)))
    }
    eqCommits(messages).foreach { case (f, _, _) =>
      Files.deleteIfExists(Paths.get(root, f))
    }
  }

  /** Throws on unknown READ-gating features ([[requireReadable]]) —
    * every resolution path (format, catalog, procedures, maintenance)
    * funnels through here, so the protocol gate has one choke point. */
  def readTableMeta(root: String): TableMeta = {
    val p = Paths.get(root, "_table.json")
    if (!Files.exists(p)) TableMeta(None, None, None)
    else {
      val n = new ObjectMapper().readTree(Files.readAllLines(p).asScala.mkString("\n"))
      requireReadable(root, TableMeta(
        if (n.hasNonNull("statsColumn")) Some(n.get("statsColumn").asText()) else None,
        if (n.hasNonNull("partitionColumn")) Some(n.get("partitionColumn").asText()) else None,
        if (n.hasNonNull("schema"))
          Some(DataType.fromJson(n.get("schema").asText()).asInstanceOf[StructType])
        else None,
        if (n.hasNonNull("bloomColumn")) Some(n.get("bloomColumn").asText()) else None,
        if (n.hasNonNull("deleteMode")) Some(n.get("deleteMode").asText()) else None,
        if (!n.hasNonNull("constraints")) Nil
        else (0 until n.get("constraints").size()).map { i =>
          val c = n.get("constraints").get(i)
          (c.get("name").asText(), c.get("sql").asText())
        },
        if (!n.hasNonNull("columnMapping")) Map.empty
        else {
          val m = n.get("columnMapping")
          val b = Map.newBuilder[String, String]
          m.fieldNames().asScala.foreach(f => b += f -> m.get(f).asText())
          b.result()
        },
        if (!n.hasNonNull("features")) Nil
        else (0 until n.get("features").size()).map(i => n.get("features").get(i).asText()),
        if (!n.hasNonNull("reserved")) Nil
        else (0 until n.get("reserved").size()).map(i => n.get("reserved").get(i).asText()),
        if (n.hasNonNull("gramColumn")) Some(n.get("gramColumn").asText()) else None,
        if (n.hasNonNull("sortColumn")) Some(n.get("sortColumn").asText()) else None,
        if (n.hasNonNull("sampleMode")) Some(n.get("sampleMode").asText()) else None))
    }
  }

  /** Stamp a READ-gating protocol feature (no-op when already stamped).
    * One choke point for the four write paths that first use a feature
    * (review r9c: four hand-kept copies of this idiom let the batch
    * upsert path order its stamp before the defining meta write and
    * silently skip it on a first-generation table). Refuses loudly on
    * a schema-less sidecar — a feature that cannot be recorded must not
    * be used, or an unaware reader misreads without the promised
    * refusal (the compact_history stance). */
  def stampFeature(root: String, feature: String): Unit = metaLock.synchronized {
    val meta = readTableMeta(root)
    if (meta.features.contains(feature)) return
    if (meta.schema.isEmpty)
      throw new UnsupportedOperationException(
        s"cannot stamp read-gating feature '$feature' on $root: no _table.json schema " +
          "to gate readers with — define the table (first write publishes the sidecar) " +
          "before using the feature")
    writeTableMeta(root, meta.copy(features = meta.features :+ feature))
  }

  /** Meta-preserving rewrite: re-publish the sidecar with every field
    * of `meta` intact. The stamp sites (features, constraints, column
    * mapping) MUST route through this — a long-form call that spells
    * each field would silently drop any field added after it was
    * written (the bug class that cost the clone its eqdel lines). */
  def writeTableMeta(root: String, meta: TableMeta): Unit =
    writeTableMeta(root, meta.statsCol.getOrElse(statsColumn), meta.partitionCol,
      meta.schema.getOrElse(throw new IllegalStateException(
        s"cannot rewrite _table.json of $root without a schema")),
      meta.bloomCol, meta.deleteMode, meta.constraints, meta.columnMapping,
      meta.features, meta.reserved, meta.gramCol, meta.sortCol, meta.sampleMode)

  /** Protocol gate (r8): refuse a table whose sidecar names a
    * READ-gating feature this build does not implement — the one
    * choke point every resolution path (format, catalog, procedures,
    * maintenance) funnels through, because operating on a table you
    * cannot fully parse silently misreads or destroys data. */
  def requireReadable(root: String, meta: TableMeta): TableMeta = {
    val unknown = meta.features.filterNot(KnownReadFeatures)
    if (unknown.nonEmpty)
      throw new UnsupportedOperationException(
        s"table $root requires feature(s) ${unknown.mkString(", ")} that this build " +
          s"does not implement (known: ${KnownReadFeatures.toSeq.sorted.mkString(", ")}); " +
          "reading or maintaining it would silently misread data — upgrade the reader")
    meta
  }

  /** The column a skippable predicate names, if its shape is one the
    * interval test understands (numeric range/equality). */
  def skipColumn(f: Filter): Option[String] = f match {
    case GreaterThan(c, v) if filterDouble(v).isDefined        => Some(c)
    case GreaterThanOrEqual(c, v) if filterDouble(v).isDefined => Some(c)
    case LessThan(c, v) if filterDouble(v).isDefined           => Some(c)
    case LessThanOrEqual(c, v) if filterDouble(v).isDefined    => Some(c)
    case EqualTo(c, v) if filterDouble(v).isDefined            => Some(c)
    // IN lists (r11): a file prunes when NO listed value can sit in
    // its bounds — the point-lookup union every dimension filter ships
    case In(c, vs) if vs.nonEmpty &&
      vs.forall(v => v != null && filterDouble(v).isDefined)   => Some(c)
    case _                                                     => None
  }

  /** Can this predicate prune files against a [min, max] interval? */
  def supportsSkipping(f: Filter): Boolean = supportsSkipping(f, statsColumn)

  def supportsSkipping(f: Filter, col: String): Boolean =
    skipColumn(f).contains(col)

  /** Conservative interval test: may ANY row of a file with bounds
    * [mn, mx] satisfy the predicate? (False positives are fine — the
    * residual filter re-checks rows; false negatives would drop data.)
    * Values convert through [[filterDouble]], so timestamp/date
    * predicates compare against the stored epoch bounds; a value the
    * conversion does not know keeps the file (conservative). */
  def intervalMayMatch(f: Filter, mn: Double, mx: Double): Boolean = f match {
    case GreaterThan(_, v)        => filterDouble(v).forall(d => mx > d)
    case GreaterThanOrEqual(_, v) => filterDouble(v).forall(d => mx >= d)
    case LessThan(_, v)           => filterDouble(v).forall(d => mn < d)
    case LessThanOrEqual(_, v)    => filterDouble(v).forall(d => mn <= d)
    case EqualTo(_, v)            => filterDouble(v).forall(d => mn <= d && d <= mx)
    case In(_, vs) => vs.isEmpty ||
      vs.exists(v => filterDouble(v).forall(d => mn <= d && d <= mx))
    case _ => true
  }

  // ---- string bounds (r8): Iceberg-style truncated min/max --------------

  /** Truncation width, codepoints (Iceberg's write.metadata.metrics
    * default). Wide enough that a full ISO-8601 second ("2024-06-01T12")
    * fits the prefix — date-range predicates prune exactly. */
  val StrBoundLen = 16

  /** String order used EVERYWHERE for string bounds: UTF-8 binary order
    * == codepoint order == what Spark's `<`/`>` on strings compares.
    * (Java String.compareTo is UTF-16-unit order, which DISAGREES above
    * the BMP — never use it here.) */
  def strCompare(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  private def codePoints(s: String): Array[Int] = {
    val n = s.codePointCount(0, s.length)
    val out = new Array[Int](n)
    var i = 0; var off = 0
    while (off < s.length) {
      val c = s.codePointAt(off); out(i) = c; i += 1; off += Character.charCount(c)
    }
    out
  }

  /** Lower bound: the first [[StrBoundLen]] codepoints. A prefix of s is
    * ≤ s in binary order, so `truncLower(min) ≤ min` — truncate-down. */
  def truncLower(s: String): String = {
    val cp = codePoints(s)
    if (cp.length <= StrBoundLen) s
    else new String(cp, 0, StrBoundLen)
  }

  /** Upper bound: exact when the value fits; otherwise the truncated
    * prefix with its last incrementable codepoint incremented (skipping
    * the surrogate gap) and the tail dropped — strictly greater than
    * every string sharing the original prefix, hence ≥ max. None when
    * every prefix codepoint is U+10FFFF (cannot increment = unknown). */
  def truncUpper(s: String): Option[String] = {
    val cp = codePoints(s)
    if (cp.length <= StrBoundLen) return Some(s)
    val p = java.util.Arrays.copyOf(cp, StrBoundLen)
    var i = StrBoundLen - 1
    while (i >= 0) {
      if (p(i) < Character.MAX_CODE_POINT) {
        var c = p(i) + 1
        if (c >= Character.MIN_SURROGATE && c <= Character.MAX_SURROGATE) c = 0xE000
        p(i) = c
        return Some(new String(p, 0, i + 1))
      }
      i -= 1
    }
    None
  }

  /** Successor of a prefix: smallest string > every string starting with
    * `p` (for startsWith pruning). None = no successor derivable. */
  def prefixSuccessor(p: String): Option[String] = {
    val cp = codePoints(p)
    var i = cp.length - 1
    while (i >= 0) {
      if (cp(i) < Character.MAX_CODE_POINT) {
        var c = cp(i) + 1
        if (c >= Character.MIN_SURROGATE && c <= Character.MAX_SURROGATE) c = 0xE000
        cp(i) = c
        return Some(new String(cp, 0, i + 1))
      }
      i -= 1
    }
    None
  }

  /** The column a STRING-shaped skippable predicate names. */
  def strSkipColumn(f: Filter): Option[String] = f match {
    case GreaterThan(c, _: String)        => Some(c)
    case GreaterThanOrEqual(c, _: String) => Some(c)
    case LessThan(c, _: String)           => Some(c)
    case LessThanOrEqual(c, _: String)    => Some(c)
    case EqualTo(c, _: String)            => Some(c)
    case StringStartsWith(c, _)           => Some(c)
    // string IN lists (r11): prune when no listed value fits the
    // truncated bounds
    case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) => Some(c)
    case _                                => None
  }

  /** Conservative test against TRUNCATED string bounds. The invariants
    * are one-sided (`lo ≤ min`, `hi ≥ max` when present, hi = None =
    * unknown), so each arm may only prune when the bound PROVES
    * emptiness in that direction:
    *  - rows > v need max > v; known impossible only when hi ≤ v
    *  - rows < v need min < v; known impossible only when lo ≥ v
    *  - startsWith(p): rows live in [p, succ(p)); prune when hi < p or
    *    lo ≥ succ(p). */
  def strIntervalMayMatch(f: Filter, lo: String, hi: Option[String]): Boolean = f match {
    case GreaterThan(_, v: String)        => hi.forall(h => strCompare(h, v) > 0)
    case GreaterThanOrEqual(_, v: String) => hi.forall(h => strCompare(h, v) >= 0)
    case LessThan(_, v: String)           => strCompare(lo, v) < 0
    case LessThanOrEqual(_, v: String)    => strCompare(lo, v) <= 0
    case EqualTo(_, v: String) =>
      strCompare(lo, v) <= 0 && hi.forall(h => strCompare(h, v) >= 0)
    case StringStartsWith(_, p) =>
      hi.forall(h => strCompare(h, p) >= 0) &&
        prefixSuccessor(p).forall(ps => strCompare(lo, ps) < 0)
    case In(_, vs) => vs.isEmpty || vs.exists {
      case v: String => strCompare(lo, v) <= 0 && hi.forall(h => strCompare(h, v) >= 0)
      case _ => true // non-string value: cannot reason, keep
    }
    case _ => true
  }
}

class JsonlStatsTable(root: String, tableSchema: StructType,
                      statsCol: String = JsonlStats.statsColumn,
                      partitionCol: Option[String] = None,
                      manifest: String = "_stats.jsonl",
                      bloomCol: Option[String] = None,
                      deleteMode: Option[String] = None,
                      columnMapping: Map[String, String] = Map.empty,
                      gramCol: Option[String] = None,
                      branch: Option[String] = None,
                      sortCol: Option[String] = None,
                      sampleMode: Option[String] = None) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  import org.apache.spark.sql.connector.catalog.MetadataColumn

  /** SQL DELETE/UPDATE/MERGE on the table — copy-on-write at file
    * granularity ([[JsonlRowLevelOperation]]): the group is the file,
    * affected files are rewritten, the manifest swap commits. On
    * key-grouped layouts the rewrite WRITE declares the same clustered
    * + sorted requirement as a keyed batch write (r7 — this replaced
    * the r6 refusal), so replacement files are re-keyed and the
    * layout's zero-exchange SPJ contract survives the mutation. */
  /** Is this a historical snapshot resolved via time travel? Snapshots
    * are strictly READ-ONLY — mutating the past is not a thing. A
    * BRANCH head ([[Refs]], r9) also reads through a non-live manifest
    * but is writable: appends and TRUNCATE rebase the branch file.
    * Branch reads inherit the snapshot-side CONSERVATISMS (explicit
    * spec stamps required for transform pruning / SPJ grouping) —
    * fork-time entries may predate today's spec, exactly like archived
    * ones. */
  private def isSnapshot: Boolean = manifest != "_stats.jsonl" && branch.isEmpty

  /** The table's root directory — exposed for planner rules
    * ([[graft.plans.CatalogMvRewrite]]) that key rewrites off table
    * identity. */
  private[graft] def tableRoot: String = root

  /** Does this table instance read the LIVE manifest of the main
    * branch? Snapshot (time travel) and branch reads must never be
    * rewritten against a head-versioned materialization. */
  private[graft] def isLiveRead: Boolean = manifest == "_stats.jsonl" && branch.isEmpty

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    // branch heads take row-level DML too (r11 — the Iceberg branch-DML
    // shape): the rewrite SCAN plans against the branch manifest and the
    // commit REBASES the branch file, so WAP can fix what an audit finds
    // (stage → audit → DELETE/UPDATE/MERGE on the branch → publish)
    // without touching main until fast_forward. Routing below is
    // identical to main's — the ops carry `branch` through scan + commit.
    if (isSnapshot)
      throw new UnsupportedOperationException(
        s"row-level ${info.command()} on a historical snapshot ($manifest) of $root")
    // a keyed layout may have been resolved without its partition
    // column (path-based read with no option): consult the sidecar, and
    // if the manifest carries pkeys whose column nobody can name, the
    // rewrite CANNOT preserve the layout — refuse rather than silently
    // strip the keys and downgrade every later SPJ join to a shuffle
    val keyed = partitionCol.orElse(JsonlStats.readTableMeta(root).partitionCol)
    if (keyed.isEmpty) {
      val stats = JsonlStats.readStats(root)
      // entries with an explicit per-file spec stamp (partition
      // evolution, r9) are self-describing: a table evolved to
      // UNPARTITIONED may keep old pkeys, and the unkeyed rewrite is
      // exactly right. Only pkeys with NO nameable column refuse.
      if (stats.nonEmpty && stats.forall(_.pkey.isDefined) &&
          stats.exists(_.pspec.isEmpty))
        throw new UnsupportedOperationException(
          s"row-level ${info.command()} on key-grouped table $root: the partition " +
            "column is unknown (no _table.json), so the rewrite cannot re-key its output")
    }
    val meta = JsonlStats.readTableMeta(root)
    val bloom = bloomCol.orElse(meta.bloomCol)
    // merge-on-read opt-in (`deleteMode=merge-on-read`, option or table
    // property): DELETE always takes the deletion-vector delta path, and
    // on UNKEYED layouts so do UPDATE and MERGE (DV + appended row
    // images in one swap; q220). Keyed layouts keep COW for UPDATE and
    // MERGE — appended images would need re-keying, which the COW write
    // path already does.
    val mor = deleteMode.orElse(meta.deleteMode).contains("merge-on-read")
    val mapping = if (columnMapping.nonEmpty) columnMapping else meta.columnMapping
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val delta = mor && (info.command() == Command.DELETE ||
      ((info.command() == Command.UPDATE || info.command() == Command.MERGE) && keyed.isEmpty))
    if (delta)
      () => new JsonlDvMutateOperation(root, tableSchema, statsCol, info.command(),
        bloom, mapping, branch = branch)
    else
      () => new JsonlRowLevelOperation(root, tableSchema, statsCol, info.command(), keyed,
        bloom, mapping, branch = branch, sortCol = sortCol)
  }
  override def name(): String = s"graft-jsonl-stats($root)"
  override def schema(): StructType = tableSchema

  /** CHECK constraints (r7c, Spark 4.1 DSv2 constraints API): the table
    * REPORTS its enforced checks and Spark's analyzer
    * (ResolveTableConstraints) injects the row-level validation into
    * every write plan — a violating INSERT/UPDATE/MERGE fails its job
    * BEFORE the commit point, and the atomic-manifest contract
    * guarantees nothing of the failed write is ever visible (the Delta
    * invariant behavior, resting on Spark's own enforcement rather
    * than a bespoke writer-side evaluator). Stored as (name, sql)
    * pairs in `_table.json`; managed by ALTER TABLE ADD/DROP
    * CONSTRAINT through [[GraftCatalog.alterTable]]. */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    JsonlStats.readTableMeta(root).constraints.map { case (cname, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(cname).predicateSql(sql).enforced(true).build():
        org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** Row provenance: which manifested file, which position in it. The
    * reader serves both from state it already has — no extra IO. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = JsonlStats.FileMeta
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
    },
    new MetadataColumn {
      override def name(): String = JsonlStats.PosMeta
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable: Boolean = false
    },
    // row lineage (r10): nullable — files never stamped by a main
    // commit (legacy manifests, branch-staged entries) serve NULL.
    // Preservation flags (r11, the Spark 4.1 row-level metadata
    // machinery): `_row_id` keeps Spark's defaults — carried through
    // copy-on-write UPDATE/DELETE rewrites, nullified on MERGE
    // re-insert (a new row mints a fresh id at commit);
    // `_last_updated_version` nullifies on UPDATE so the rewritten
    // row's version restamps to the mutation's commit.
    new MetadataColumn {
      override def name(): String = JsonlStats.RowIdMeta
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable: Boolean = true
    },
    new MetadataColumn {
      override def name(): String = JsonlStats.LuvMeta
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable: Boolean = true
      override def metadataInJSON(): String =
        s"""{"${MetadataColumn.PRESERVE_ON_UPDATE}": false}"""
    })
  override def capabilities(): java.util.Set[TableCapability] =
    if (branch.isDefined)
      // a branch head is a staging line: appends, TRUNCATE (restage)
      // and row-level DML (r11 — scan + rebase against the branch
      // file), but no replaceWhere (its file-proof arithmetic targets
      // main's manifest) and no streaming epochs (txn watermarks are
      // main-only — a branch-carried ledger would republish stale
      // epochs at fast-forward)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
    else if (isSnapshot) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      // r12b: INSERT OVERWRITE under dynamic mode / overwritePartitions()
      // — the builder still refuses unkeyed layouts loudly
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // r12: the r11 `vecCells`/`vecNorm` scan options are GONE — vector
    // probe pruning is derived from pushed `graft_cell`/`graft_norm`
    // predicates ([[JsonlStatsScanBuilder.pushPredicates]]), so a probe
    // can never under-cover the filter. A leftover option is refused
    // loudly rather than silently ignored (it used to change the scan's
    // IO shape; silence would hide a stale caller).
    Seq("vecCells", "vecNorm").foreach { o =>
      require(options.get(o) == null,
        s"the '$o' scan option was removed — filter with the catalog function " +
          "instead (WHERE <cat>.graft_cell(col) IN (...) / <cat>.graft_norm(col) " +
          "BETWEEN lo AND hi); pruning now derives from the pushed predicate")
    }
    new JsonlStatsScanBuilder(root, tableSchema, statsCol, partitionCol,
      splitBytes = options.getLong("splitBytes", JsonlStats.DefaultSplitBytes),
      manifest = manifest, bloomCol = bloomCol, columnMapping = columnMapping,
      gramCol = gramCol,
      // streaming admission control (r9c, the Delta option names)
      maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      sampleMode = sampleMode)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (isSnapshot)
      throw new UnsupportedOperationException(
        s"cannot write to a historical snapshot ($manifest) of $root")
    new JsonlWriteBuilder(root, info.schema(), info.queryId(), statsCol, partitionCol,
      bloomCol, Option(info.options().get("txnAppId")), columnMapping, gramCol,
      branch = branch, sortCol = sortCol,
      // equality-delete upsert (r9b): `upsertKeys=k1[,k2]` makes this
      // append retract every OLDER row sharing a key with an incoming
      // one — the Flink/CDC upsert shape, one atomic commit
      upsertCols = Option(info.options().get("upsertKeys"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
  }
}


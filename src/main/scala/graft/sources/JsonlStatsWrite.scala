package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Write side — the DSv2 commit protocol as a table format in
  * miniature. Task writers stream rows to their own data file while
  * tracking (min, max, rows) of the stats column; each task's
  * [[WriterCommitMessage]] carries exactly the manifest entry its file
  * deserves; the DRIVER's `commit()` merges them (plus, for append, the
  * previous manifest) and publishes via write-temp + ATOMIC_MOVE of
  * `_stats.jsonl`. Because readers trust only the manifest, the move is
  * the commit point: a crash before it leaves orphan data files that no
  * reader will ever see (which is also why task-level abort cleanup is
  * best-effort, not load-bearing) — the same marker-protocol stance as
  * the gold ledger, enforced at the connector layer. */
class JsonlWriteBuilder(root: String, writeSchema: StructType, queryId: String,
                        statsCol: String = JsonlStats.statsColumn,
                        partitionCol: Option[String] = None,
                        bloomCol: Option[String] = None,
                        txnAppId: Option[String] = None,
                        columnMapping: Map[String, String] = Map.empty,
                        gramCol: Option[String] = None,
                        branch: Option[String] = None,
                        upsertCols: Option[Seq[String]] = None,
                        sortCol: Option[String] = None)
    extends WriteBuilder with SupportsTruncate with SupportsOverwrite
    with SupportsDynamicOverwrite {
  // fail-fast at planning, not first task: the same key-column gate the
  // task-side tracker enforces (long/string only — float keys don't
  // round-trip text reliably)
  upsertCols.foreach(cs => cs.foreach { c =>
    val i = writeSchema.fieldNames.indexOf(c)
    require(i >= 0, s"upsert key column $c missing from write schema")
    val dt = writeSchema.fields(i).dataType
    require(dt == LongType || dt == StringType,
      s"upsert key column $c must be long or string, got $dt")
  })
  private var truncateFirst = false
  private var replaceFilters: Option[Array[Filter]] = None
  private var dynamicOverwrite = false

  /** Dynamic partition overwrite (r12b — `INSERT OVERWRITE` under
    * dynamic mode / `df.writeTo(t).overwritePartitions()`): replace
    * exactly the partitions the incoming data lands in, keep every
    * other key's files byte-untouched — the nightly partition-reload
    * idiom (recompute one day, leave the year alone). Needs a keyed
    * layout: the arriving rows' pkeys ARE the replace set. Semantics
    * are Iceberg's ReplacePartitions: the swap is blind per key
    * (commutes with commits on other keys; a concurrent commit on a
    * REPLACED key is superseded — last writer wins per partition). */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    if (upsertCols.isDefined)
      throw new UnsupportedOperationException(
        "upsertKeys with dynamic overwrite: pick one retraction semantics per write")
    if (partitionCol.isEmpty)
      throw new UnsupportedOperationException(
        "dynamic partition overwrite needs a keyed layout (PARTITIONED BY) — " +
          "the arriving keys define the replace set; on an unkeyed table use " +
          "truncate or replaceWhere")
    if (branch.isDefined)
      throw new UnsupportedOperationException(
        s"dynamic overwrite on branch '${branch.get}': branch heads take appends " +
          "and TRUNCATE only (r9 scope)")
    dynamicOverwrite = true; this
  }
  override def truncate(): WriteBuilder = {
    if (upsertCols.isDefined)
      throw new UnsupportedOperationException(
        "upsertKeys with truncate/overwrite: an upsert retracts against a base — " +
          "a truncating write has none (drop the option or the mode)")
    truncateFirst = true; this
  }

  /** replaceWhere (`INSERT INTO t REPLACE WHERE p SELECT …` /
    * `df.writeTo(t).overwrite(p)`): atomically delete the rows
    * matching `filters` (ANDed) and insert the incoming data, in one
    * manifest swap. Enforcement is exact at FILE granularity — a file
    * is dropped only when its manifest metadata (pkey, or stats-column
    * bounds) PROVES every row matches, kept only when it proves none
    * does, and a straddling predicate is REFUSED loudly at commit
    * (the Iceberg OverwriteFiles validation stance: partial-file
    * overwrite would need a row rewrite, which is DELETE's job).
    * Metadata-only deletion, zero data-file reads — the backfill
    * idiom ("replace this partition with tonight's recompute") at
    * 100 TB costs one manifest round-trip plus the new data's write. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (upsertCols.isDefined)
      throw new UnsupportedOperationException(
        "upsertKeys with replaceWhere/overwrite: pick one retraction semantics " +
          "per write — key-equality (upsert) or predicate (replaceWhere)")
    if (filters.isEmpty || filters.exists(_.isInstanceOf[AlwaysTrue]))
      truncateFirst = true
    else replaceFilters = Some(filters)
    if (branch.isDefined && replaceFilters.isDefined)
      throw new UnsupportedOperationException(
        s"replaceWhere on branch '${branch.get}': branch heads take appends and " +
          "TRUNCATE only (r9 scope)")
    this
  }

  override def build(): Write = JsonlStats.keyedWrite(partitionCol, sortCol, new Write {
    override def toBatch: BatchWrite =
      new JsonlBatchWrite(root, writeSchema, queryId, truncateFirst, statsCol, partitionCol,
        replaceFilters, bloomCol, columnMapping, gramCol, branch, upsertCols, sortCol,
        dynamicOverwrite)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      if (branch.isDefined)
        throw new UnsupportedOperationException(
          s"streaming write to branch '${branch.get}': txn watermarks are main-only " +
            "— stream into main, or stage batches on the branch")
      if (truncateFirst || replaceFilters.isDefined || dynamicOverwrite)
        throw new UnsupportedOperationException(
          "streaming writes to graft-jsonl-stats are append-only: Complete output " +
            "mode and replaceWhere would re-truncate the table every micro-batch")
      new JsonlStreamingWrite(root, writeSchema, queryId,
        txnAppId.getOrElse(queryId), statsCol, partitionCol, bloomCol, columnMapping,
        gramCol, upsertCols, sortCol)
    }
  })
}

/** STREAMING SINK leg (`STREAMING_WRITE`): micro-batch appends under
  * EXACTLY-ONCE epoch commits — the Delta streaming-sink contract on
  * the manifest protocol. Each epoch's task writers stream rows to
  * attempt-unique files (batch machinery reused verbatim); the driver
  * commit publishes previous + fresh entries PLUS a txn watermark line
  * `{"txn": appId, "epoch": N}` in the SAME manifest — ledger and data
  * share the one atomic commit point, so there is no crash window
  * between "rows visible" and "epoch recorded". A replayed epoch
  * (checkpoint recovery re-runs a batch whose sink commit already
  * landed) fails the `epoch > watermark` test and its files are swept,
  * never manifested; epochs are sequential per app, so one watermark
  * per appId suffices (the Delta `txn` action shape). The appId
  * defaults to Spark's stable streaming query id and can be pinned
  * with the `txnAppId` write option (two concurrent streams into one
  * table need distinct ids — same as Delta's idempotent writes).
  * Each restart gets a fresh file-name namespace (`runTag`) so a
  * replay can never overwrite the files its first run manifested. */
class JsonlStreamingWrite(root: String, writeSchema: StructType, queryId: String,
                          appId: String,
                          statsCol: String = JsonlStats.statsColumn,
                          partitionCol: Option[String] = None,
                          bloomCol: Option[String] = None,
                          columnMapping: Map[String, String] = Map.empty,
                          gramCol: Option[String] = None,
                          upsertCols: Option[Seq[String]] = None,
                          sortCol: Option[String] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val runTag = java.util.UUID.randomUUID().toString.take(8)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new JsonlStreamingWriterFactory(root, writeSchema, s"$queryId-$runTag",
      statsCol, partitionCol, bloomCol, columnMapping, gramCol, upsertCols)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val watermark = JsonlStats.readTxns(root).getOrElse(appId, -1L)
    if (epochId <= watermark) {
      // replayed batch: its rows are already manifested from the first
      // run — the re-written files are debris, not data
      JsonlStats.abortCleanup(root, messages)
      return
    }
    val fresh = JsonlStats.fileCommits(messages)
    val freshStats = fresh.map(_.entry(partitionCol))
    // STREAMING UPSERT (r9b): the epoch's retraction (its tasks'
    // equality-delete files) and its inserts land in the SAME
    // exactly-once commit as the txn watermark — a replayed epoch can
    // never re-retract, because it never reaches this point
    val eqs = JsonlStats.eqCommits(messages)
    if (!Files.exists(Paths.get(root, "_table.json")))
      JsonlStats.writeTableMeta(root, statsCol, partitionCol, writeSchema, bloomCol,
        gramCol = gramCol, sortCol = sortCol)
    if (eqs.nonEmpty) JsonlStats.stampFeature(root, JsonlStats.FeatureEqDeletes)
    // OCC append (r8): the epoch's files ride a blind-append rebase —
    // concurrent batch appends or OTHER streaming apps' epochs commute;
    // this app's own epochs are sequential by Spark's contract, so the
    // watermark check above needs no re-validation inside the loop. The
    // txn line replaces this app's watermark; every other app's carries
    // forward from whichever base wins.
    JsonlStats.commitAtomic(root, s"$queryId-$runTag-e$epochId",
      JsonlEqualityDeletes.stampedAppend(freshStats, eqs),
      ownTxns = Seq(JsonlStats.txnLine(appId, epochId)))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    JsonlStats.abortCleanup(root, messages)
}

class JsonlStreamingWriterFactory(root: String, writeSchema: StructType, tag: String,
                                  statsCol: String,
                                  partitionCol: Option[String],
                                  bloomCol: Option[String],
                                  columnMapping: Map[String, String] = Map.empty,
                                  gramCol: Option[String] = None,
                                  upsertCols: Option[Seq[String]] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new JsonlDataWriter(root, writeSchema, s"$tag-e$epochId", partitionId, taskId,
      statsCol, partitionCol, bloomCol, columnMapping, gramCol, upsertCols)
}

final case class JsonlFileCommit(file: String, min: Double, max: Double, rows: Long,
                                 pkey: Option[String] = None,
                                 cols: Map[String, (Double, Double)] = Map.empty,
                                 colNonNull: Map[String, Long] = Map.empty,
                                 strCols: Map[String, (String, Option[String])] = Map.empty,
                                 ckpts: Seq[(Long, Long)] = Nil,
                                 segb: Seq[(Double, Double)] = Nil,
                                 // row lineage (r10): true when this file
                                 // holds at least one non-null materialized
                                 // `_row_id` — the commit publishes frid=-2
                                 // (ids live in-row); an all-null file stays
                                 // unassigned and gets stamped fresh
                                 sawLineage: Boolean = false,
                                 // vector cell bitmaps (r12): exact
                                 // per-column sign-cell sets
                                 vcells: Map[String, Long] = Map.empty)
  extends WriterCommitMessage {

  /** The manifest entry this file publishes — the one mapping every
    * commit (batch, replace, streaming) and every maintenance rewrite
    * uses. `partitionCol` is the spec a keyed file's pkey derives from
    * (partition evolution, r9: an append racing an evolution stays
    * self-describing); `sorted` is the declared-order stamp (r12b).
    * Row lineage (r10): a file holding materialized ids (a rewrite
    * carried `_row_id` through itself) publishes frid = -2 so the commit
    * never re-stamps it; an all-null carrier file stays unassigned and
    * stamps fresh. */
  def entry(partitionCol: Option[String], sorted: Option[String] = None): JsonlStats.FileStats =
    JsonlStats.FileStats(file, min, max, rows, pkey, cols,
      colNonNull = colNonNull, strCols = strCols, ckpts = ckpts, segb = segb,
      pspec = if (pkey.isDefined) partitionCol else None,
      frid = if (sawLineage) -2L else -1L,
      vcells = vcells, sorted = sorted)
}

/** One task's commits — several files when the layout is keyed (one
  * per key run) or the task wrote nothing (empty). `eq` (r9b): the
  * task's equality-delete file for an UPSERT write — (root-relative
  * path, physical key columns, distinct key count). */
final case class JsonlFileCommits(commits: Seq[JsonlFileCommit],
                                  eq: Option[(String, Seq[String], Long)] = None)
  extends WriterCommitMessage

class JsonlBatchWrite(root: String, writeSchema: StructType, queryId: String,
                      truncateFirst: Boolean,
                      statsCol: String = JsonlStats.statsColumn,
                      partitionCol: Option[String] = None,
                      replaceFilters: Option[Array[Filter]] = None,
                      bloomCol: Option[String] = None,
                      columnMapping: Map[String, String] = Map.empty,
                      gramCol: Option[String] = None,
                      branch: Option[String] = None,
                      upsertCols: Option[Seq[String]] = None,
                      sortCol: Option[String] = None,
                      dynamicOverwrite: Boolean = false) extends BatchWrite {
  /** Overwrite conflict reference (r8 review): captured when the WRITE
    * is CONSTRUCTED — physical planning, before the job's tasks run —
    * not at commit() time. A truncate/replaceWhere logically reads the
    * whole table, so a commit landing DURING the rewrite job (e.g. an
    * append racing a zorder overwrite) must make the overwrite
    * CONFLICT, not silently vanish under it; commit-time capture would
    * absorb the intruder into the planned base and then destroy it.
    * Plain appends never read this (their rebase is blind), which also
    * keeps the hot append-commit path free of the full-manifest parse. */
  /** RAW planned base lines (non-txn), so an overwrite's base-equality
    * check sees EVERYTHING a rebase would — including eqdel lines
    * (r9b), which `readStats` alone would drop and thereby make every
    * truncate of an upsert table a spurious conflict. */
  private val plannedRaw: Option[Seq[String]] =
    if (!truncateFirst && replaceFilters.isEmpty && !dynamicOverwrite) None
    else if (branch.isDefined)
      // branch TRUNCATE plans against the BRANCH head, not main
      Some(Refs.readRef(root, Refs.branchManifest(branch.get)).entries)
    else Some(
      if (!Files.exists(Paths.get(root, "_stats.jsonl"))) Seq.empty
      else {
        val mapper = new ObjectMapper()
        // counter lines are commitAtomic protocol, never planned base
        // entries (r10) — carrying one here would fake an overwrite
        // conflict against the stripped base the rebase receives
        JsonlStats.stripCounter(JsonlStats.readManifestLines(root, "_stats.jsonl")
          .filter(_.nonEmpty)
          .filterNot(l => mapper.readTree(l).hasNonNull("txn")))
      })

  private def plannedBase: Option[Seq[JsonlStats.FileStats]] =
    plannedRaw.map(JsonlStats.parseStatsLines)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new JsonlWriterFactory(root, writeSchema, queryId, statsCol, partitionCol, bloomCol,
      columnMapping, gramCol, upsertCols)

  private def isSentinel(s: JsonlStats.FileStats): Boolean =
    s.min == Double.MinValue && s.max == Double.MaxValue

  /** Does the manifest PROVE every row of `s` matches `f`? (Sentinel
    * bounds prove nothing.) */
  private def fileAllMatch(f: Filter, s: JsonlStats.FileStats): Boolean = f match {
    // the identity pkey-equality proof only holds when the file's pkey
    // derives from the CURRENT spec (partition evolution, r9)
    case EqualTo(c, v) if partitionCol.contains(c) &&
        s.pspec.forall(ps => partitionCol.contains(ps)) =>
      s.pkey.contains(String.valueOf(v))
    case GreaterThan(c, v: Number) if c == statsCol && !isSentinel(s) =>
      s.min > v.doubleValue()
    case GreaterThanOrEqual(c, v: Number) if c == statsCol && !isSentinel(s) =>
      s.min >= v.doubleValue()
    case LessThan(c, v: Number) if c == statsCol && !isSentinel(s) =>
      s.max < v.doubleValue()
    case LessThanOrEqual(c, v: Number) if c == statsCol && !isSentinel(s) =>
      s.max <= v.doubleValue()
    case EqualTo(c, v: Number) if c == statsCol && !isSentinel(s) =>
      s.min == v.doubleValue() && s.max == v.doubleValue()
    case _ => false
  }

  /** Does the manifest PROVE no row of `s` matches `f`? */
  private lazy val writeSpecs: Option[Seq[PartitionTransforms.Spec]] =
    partitionCol.map(PartitionTransforms.parseMulti)

  private def fileNoMatch(f: Filter, s: JsonlStats.FileStats): Boolean = {
    // hidden partitioning (r9): the derived pkey, mapped through the
    // transform (conjunctively through a composite, r12), can prove no
    // row of the file matches a source-column predicate — replaceWhere
    // keeps such files exactly
    val fileSpecs = s.pspec.map(PartitionTransforms.parseMulti).orElse(writeSpecs)
    val hiddenNo = fileSpecs.exists(sps => sps.exists(PartitionTransforms.isHidden) &&
      s.pkey.exists(p => !PartitionTransforms.pkeyMayMatchMulti(sps, f, p)))
    hiddenNo || (f match {
      case EqualTo(c, v) if partitionCol.contains(c) &&
          s.pspec.forall(ps => partitionCol.contains(ps)) =>
        s.pkey.isDefined && !s.pkey.contains(String.valueOf(v))
      case _ if JsonlStats.supportsSkipping(f, statsCol) && !isSentinel(s) =>
        !JsonlStats.intervalMayMatch(f, s.min, s.max)
      case _ => false
    })
  }

  /** Tri-state replaceWhere decision over the AND of `filters`:
    * drop (all rows provably match), keep (provably none does), or
    * refuse — partial-file overwrite is a row rewrite, not a
    * metadata operation, and silently keeping OR dropping a straddler
    * would lose or duplicate rows. */
  private def keepUnderReplace(filters: Array[Filter], s: JsonlStats.FileStats): Boolean = {
    if (filters.forall(f => fileAllMatch(f, s))) false
    else if (filters.exists(f => fileNoMatch(f, s))) true
    else throw new UnsupportedOperationException(
      s"replaceWhere predicate ${filters.mkString(" AND ")} straddles file ${s.file} " +
        s"(pkey=${s.pkey}, bounds=[${s.min}, ${s.max}]): a partial-file overwrite " +
        "needs a row rewrite — use DELETE + append, or align the predicate to the " +
        "table's key/bounds layout")
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = JsonlStats.fileCommits(messages)
    // declared-order stamp (r12b): this write REQUESTED the sort, so its
    // files are provably runs of it
    val freshStats = fresh.map(_.entry(partitionCol,
      JsonlStats.sortedStampFor(partitionCol, sortCol, columnMapping)))
    val freshLines = freshStats.map(JsonlStats.statsLine)
    // equality-delete upsert (r9b): the tasks' delete files, registered
    // in the SAME commit as their data (retract + insert atomically);
    // sequence stamping is the shared rebase
    // ([[JsonlEqualityDeletes.stampedAppend]])
    val eqs = JsonlStats.eqCommits(messages)
    def appendRebase(base: Seq[String]): Seq[String] =
      JsonlEqualityDeletes.stampedAppend(freshStats, eqs)(base)
    // table-level metadata rides next to the manifest so a catalog can
    // resolve this table with the right stats column, key column,
    // schema — written by the generation that DEFINES the table (first
    // write or truncate/replace), never by an append: an append's write
    // schema is the QUERY's (e.g. a non-null literal makes a column
    // non-nullable there), and clobbering the table sidecar with it
    // would flip nullability and codegen-NPE reads of older files'
    // nulls (r7 ALTER spec caught exactly this)
    // BRANCH commit (r9, [[Refs]]): the head rebases in place — appends
    // add entries, TRUNCATE restages from empty. The table CONTRACT is
    // main's (`_table.json` untouched: a branch stages data, never DDL),
    // and main's manifest is untouched until fast_forward publishes.
    // dynamic partition overwrite (r12b, OCC-hardened r13): one rebase
    // for both routes (main commitAtomic, branch head) — defined here
    // so the branch arm below can share it
    def dynamicOverwriteRebase(base: Seq[String]): Seq[String] = {
      require(freshStats.forall(_.pkey.isDefined),
        "dynamic overwrite produced an unkeyed file — keyed write discipline broken")
      val freshKeys = freshStats.flatMap(_.pkey).toSet
      val plannedFiles = plannedBase.get.map(_.file).toSet
      val mapper = new ObjectMapper()
      base.foreach { l =>
        val n = mapper.readTree(l)
        if (n.hasNonNull("file")) {
          val k = n.path("pkey").asText("")
          val ps = n.path("ps").asText("")
          // "replace exactly the arriving keys" is only provable when
          // every base file's key derives from the CURRENT spec — the
          // scan side's uniformSpec condition. An unkeyed or old-spec
          // file (mid partition evolution, legacy data) may hold rows
          // of a replaced partition that string-matching can't see;
          // keeping it verbatim would silently duplicate rows.
          require(k.nonEmpty && partitionCol.contains(ps),
            s"dynamic partition overwrite needs every existing file keyed under the " +
              s"current partition spec (${partitionCol.getOrElse("<none>")}); " +
              s"'${n.get("file").asText()}' has pkey='$k' spec='$ps' — rewrite the " +
              "table under the current spec first (CALL compact / rewrite_data_files)")
          // OCC (r13): data committed to a REPLACED partition since this
          // write was PLANNED would be silently destroyed by the swap —
          // the overwrite job never saw it. Conflict loudly (the
          // truncate/replaceWhere stance, scoped to the replaced keys);
          // commits on untouched keys ride the rebase verbatim and
          // commute, keeping Delta's append-never-conflicts guarantee
          // everywhere the overwrite doesn't reach.
          if (freshKeys.contains(k) && !plannedFiles.contains(n.get("file").asText()))
            throw new java.util.ConcurrentModificationException(
              s"dynamic partition overwrite of keys ${freshKeys.toSeq.sorted.mkString(", ")}: " +
                s"concurrent commit added '${n.get("file").asText()}' (pkey='$k') to a " +
                "replaced partition since this overwrite was planned — rerun the " +
                "overwrite against the new base")
        }
      }
      val kept = base.filter { l =>
        val n = mapper.readTree(l)
        val k = n.path("pkey").asText("")
        !n.hasNonNull("file") || !freshKeys.contains(k)
      }
      // kept eqdels must not retract the replacement rows (the
      // replaceWhere r9c stance): fresh entries stamp at the kept max
      val mEq = JsonlEqualityDeletes.parseLines(kept).map(_.seq).maxOption.getOrElse(0L)
      kept ++ (if (mEq == 0L) freshLines
               else freshStats.map(fs => JsonlStats.statsLine(fs.copy(seq = mEq))))
    }
    branch match {
      case Some(b) =>
        // staged upserts gate MAIN's readers too: fast_forward will
        // publish these eqdel lines (conservative over-declaration
        // until then — the crash-between stance)
        if (eqs.nonEmpty) JsonlStats.stampFeature(root, JsonlStats.FeatureEqDeletes)
        if (dynamicOverwrite) Refs.commitBranch(root, b, dynamicOverwriteRebase)
        else if (truncateFirst) Refs.commitBranch(root, b, _ => freshLines)
        else Refs.commitBranch(root, b, appendRebase)
        return
      case None => ()
    }
    if (truncateFirst || !Files.exists(Paths.get(root, "_table.json"))) {
      // TRUNCATE redefines the data, not the table contract: delete
      // mode and CHECK constraints survive the generation swap (r7c).
      // Materialized lineage fields (r10) are never part of the table
      // schema — a clustering rewrite that carries them must not leak
      // them into the contract.
      val prior = JsonlStats.readTableMeta(root)
      val contractSchema = org.apache.spark.sql.types.StructType(writeSchema.fields
        .filterNot(f => f.name == JsonlStats.RowIdMeta || f.name == JsonlStats.LuvField ||
          f.name == JsonlStats.LuvMeta))
      JsonlStats.writeTableMeta(root, statsCol, partitionCol, contractSchema, bloomCol,
        prior.deleteMode, prior.constraints, prior.columnMapping, prior.features,
        prior.reserved, gramCol = gramCol.orElse(prior.gramCol),
        sortCol = sortCol.orElse(prior.sortCol))
    }
    // protocol stamp BEFORE the swap (the DV pattern, r8) and AFTER the
    // defining meta write (review r9c: the old order silently skipped
    // the stamp on a first-generation upsert — the sidecar did not
    // exist yet — publishing ungated eqdel lines)
    if (eqs.nonEmpty) JsonlStats.stampFeature(root, JsonlStats.FeatureEqDeletes)
    // OCC commit (r8): a plain append is BLIND — it commutes with any
    // concurrent commit, so the rebase just re-adds the fresh entries
    // on whatever base wins (Delta's append-never-conflicts guarantee,
    // closing the read-then-swap lost-update window this commit used to
    // have). TRUNCATE and replaceWhere logically read the whole table /
    // the files their keep-or-drop verdicts were derived from, so they
    // demand a base unchanged since WRITE CONSTRUCTION (`plannedBase`)
    // and CONFLICT loudly otherwise.
    // dynamic partition overwrite (r12b): replace the arriving keys'
    // entries on the LATEST base — per-key blind, so it commutes with
    // commits on untouched keys (the rebase keeps their lines VERBATIM)
    // and supersedes same-key racers (Iceberg ReplacePartitions'
    // last-writer-wins). Old files leave the live manifest only —
    // VERSION AS OF reads them until vacuum.
    if (dynamicOverwrite) {
      JsonlStats.commitAtomic(root, queryId, dynamicOverwriteRebase)
      return
    }
    (truncateFirst, replaceFilters) match {
      case (true, _) =>
        // truncate clears eqdel lines with everything else: the new
        // generation has no base to retract against
        JsonlStats.commitAtomic(root, queryId,
          JsonlStats.rebaseOverwrite(plannedRaw.get, freshLines))
      case (false, Some(fs)) =>
        val planned = plannedBase.get
        val keptFiles = planned.filter(s => keepUnderReplace(fs, s)).map(_.file).toSet
        // kept data lines ride VERBATIM from the raw base (a parse →
        // re-serialize round trip must never be the thing that edits a
        // manifest), and eqdel lines are kept whenever any data
        // survives — they are inert against dropped files and still
        // mask the kept ones
        val mapper = new ObjectMapper()
        val keptLines = plannedRaw.get.filter { l =>
          val n = mapper.readTree(l)
          if (n.hasNonNull("eqdel")) keptFiles.nonEmpty
          else n.hasNonNull("file") && keptFiles.contains(n.get("file").asText())
        }
        // kept eqdels must not retract the REPLACEMENT rows (review
        // r9c: unstamped fresh entries sat at seq 0 under kept seq-N
        // deletes — silently masked data): stamp fresh at the kept max
        val mEq = JsonlEqualityDeletes.parseLines(keptLines).map(_.seq).maxOption.getOrElse(0L)
        val freshReplace =
          if (mEq == 0L) freshLines
          else freshStats.map(fs => JsonlStats.statsLine(fs.copy(seq = mEq)))
        JsonlStats.commitAtomic(root, queryId,
          JsonlStats.rebaseOverwrite(plannedRaw.get, keptLines ++ freshReplace))
      case (false, None) =>
        JsonlStats.commitAtomic(root, queryId, appendRebase)
    }
    // truncate: the old generation's files leave the LIVE manifest but
    // stay on disk — the archived manifest still references them, so
    // `VERSION AS OF` keeps working until VACUUM expires the snapshot
    // (deferred GC, r7; deletion is [[GraftProcedures.vacuum]]'s job)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    JsonlStats.abortCleanup(root, messages)
}

/** Copy-on-write row-level operations (SQL DELETE/UPDATE/MERGE) at FILE
  * granularity — the connector as a mutable table format. The rewrite
  * group is the file: Spark's group filter identifies the files that
  * contain matching rows (delivered to the rewrite scan as a runtime IN
  * on `_file`), the scan re-reads those files' rows, the plan applies
  * the operation (drop deleted rows / project updated ones), and the
  * write publishes the survivors as NEW files while the commit swaps
  * the manifest to (previous − replaced) + fresh in one atomic move —
  * the same commit point as every other write, so a crash mid-rewrite
  * leaves the old generation fully intact.
  *
  * The REPLACED set is exactly the file set the rewrite scan PLANNED
  * (static bounds pruning and the runtime group filter both applied) —
  * see [[JsonlStatsScan.replacedFiles]] for why any other derivation
  * loses data: Spark pushes the POSITIVE operation condition into this
  * scan, so pruned files are provably unaffected and planned files are
  * the affected candidates, read in full and replaced. With no group
  * filter and no prunable condition the set degrades to every
  * manifested file: whole-table copy-on-write, correct and merely more
  * expensive. */
class JsonlRowLevelOperation(root: String, tableSchema: StructType, statsCol: String,
                             cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
                             partitionCol: Option[String] = None,
                             bloomCol: Option[String] = None,
                             columnMapping: Map[String, String] = Map.empty,
                             gramCol: Option[String] = None,
                             branch: Option[String] = None,
                             sortCol: Option[String] = None)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  import org.apache.spark.sql.connector.expressions.NamedReference

  @volatile private[sources] var rewriteScan: Option[JsonlStatsScan] = None

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"graft-jsonl-stats copy-on-write $cmd"

  /** `_file` must survive the plan: it is both the group identity the
    * runtime filter targets and what the commit replaces by.
    *
    * Row lineage RIDES the COW rewrite (r11, closing the r10 residual):
    * requiring `_row_id`/`_last_updated_version` here makes Spark's
    * ReplaceData carry them as a METADATA PROJECTION beside the data
    * rows — `DataWriter.write(metadata, row)` receives both
    * (DataAndMetadataWritingSparkTask), with the nullification rules
    * the table's MetadataColumn flags declare: `_row_id` preserved on
    * UPDATE/DELETE-carry, nullified on MERGE re-insert; `_luv`
    * nullified on UPDATE (the rewrite's commit version restamps it via
    * the entry-luv fallback). The writer routes id-bearing rows to a
    * lineage sink (in-row materialized ids, frid = -2) and id-less
    * rows (re-inserts, unassigned carries) to a plain sink that mints
    * fresh ids at commit. KEYED layouts preserve too: the lineage sink
    * rolls/routes per derived key in step with the plain one, so
    * replacement files stay pkey'd and the SPJ contract survives the
    * mutation WITH identity intact. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(JsonlStats.FileMeta),
      Expressions.column(JsonlStats.RowIdMeta),
      Expressions.column(JsonlStats.LuvMeta))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonlStatsScanBuilder(root, tableSchema, statsCol, None, Some(this),
      options.getLong("splitBytes", JsonlStats.DefaultSplitBytes),
      // branch DML (r11): the rewrite scans the BRANCH head's entries
      manifest = branch.map(Refs.branchManifest).getOrElse("_stats.jsonl"),
      columnMapping = columnMapping)

  /** The replacement write re-keys on keyed layouts ([[JsonlStats.keyedWrite]]):
    * clustered + sorted on the partition column, one file per key run,
    * pkey'd manifest entries — the mutation preserves the SPJ layout. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    // the replacement write keeps BOTH layout disciplines (r12b): the
    // keyed clustering AND the declared write sort, so a mutated
    // sorted table's fresh files carry tight bounds and the `sorted`
    // stamp — DML no longer demotes the scan's reported ordering
    override def build(): Write = JsonlStats.keyedWrite(partitionCol, sortCol, new Write {
      override def toBatch: BatchWrite =
        new JsonlReplaceBatchWrite(root, info.schema(), info.queryId(), statsCol,
          () => rewriteScan match {
            case Some(s) => s.replacedFiles
            case None => throw new IllegalStateException(
              "rewrite write committed before its scan was planned")
          }, partitionCol, bloomCol, columnMapping, gramCol, branch,
          sortCol = sortCol,
          // lineage preservation (r11): the metadata projection's shape,
          // so the writer can find _row_id/_luv in the metadata rows
          metaSchema = if (info.metadataSchema().isPresent)
            Some(info.metadataSchema().get()) else None)
    })
  }
}

/** The replace-data commit: manifest becomes (previous − replaced) +
  * fresh in one atomic move; replaced data files stay on disk for the
  * archived snapshots that still reference them (VACUUM deletes). */
class JsonlReplaceBatchWrite(root: String, writeSchema: StructType, queryId: String,
                             statsCol: String,
                             replaced: () => Set[String],
                             partitionCol: Option[String] = None,
                             bloomCol: Option[String] = None,
                             columnMapping: Map[String, String] = Map.empty,
                             gramCol: Option[String] = None,
                             branch: Option[String] = None,
                             metaSchema: Option[StructType] = None,
                             sortCol: Option[String] = None) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new JsonlWriterFactory(root, writeSchema, queryId, statsCol, partitionCol, bloomCol,
      columnMapping, gramCol, metaSchema = metaSchema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = JsonlStats.fileCommits(messages)
    val gone = replaced()
    // row lineage (r10): COW rewrites project the lineage metadata attrs
    // through the plan ([[JsonlRowLevelOperation.requiredMetadataAttributes]]),
    // so carried rows land with materialized in-row ids — frid = -2
    val freshStats = fresh.map(_.entry(partitionCol,
      JsonlStats.sortedStampFor(partitionCol, sortCol, columnMapping)))
    // OCC rewrite (r8): the replaced files' entries must survive
    // verbatim — a concurrent commit that touched one of them (a DV
    // attach, another rewrite) invalidates the survivors this COW pass
    // derived from them, and conflicts loudly. Concurrent APPENDS ride
    // through the rebase untouched, so row-level ops commute with
    // ingest.
    val baseStats = branch match {
      // branch DML (r11): the rewrite was planned against the BRANCH
      // head and rebases the branch file — main untouched until
      // fast_forward, same as staged appends
      case Some(b) => JsonlStats.parseStatsLines(
        Refs.readRef(root, Refs.branchManifest(b)).entries)
      case None => JsonlStats.readStats(root)
    }
    val removedLines = baseStats
      .filter(s => gone.contains(s.file)).map(JsonlStats.statsLine)
    def rewriteRebase(base: Seq[String]): Seq[String] = {
      // equality deletes (r9b): the rewrite's scan already APPLIED the
      // masks, so replacement files stamp at the base's max seq — an
      // existing delete re-applied to them would be a no-op, and a
      // FUTURE upsert's (higher seq) still retracts them correctly
      val m = JsonlEqualityDeletes.maxSeq(base)
      val freshLines =
        if (m == 0L) freshStats.map(JsonlStats.statsLine)
        else freshStats.map(fs => JsonlStats.statsLine(fs.copy(seq = m)))
      JsonlStats.rebaseRewrite(removedLines, freshLines)(base)
    }
    branch match {
      case Some(b) => Refs.commitBranch(root, b, rewriteRebase)
      case None => JsonlStats.commitAtomic(root, queryId, rewriteRebase)
    }
    // replaced files leave the live manifest but stay on disk for the
    // archived snapshots that reference them (deferred GC, r7 —
    // [[GraftProcedures.vacuum]] is the only deletion point)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    JsonlStats.abortCleanup(root, messages)
}

class JsonlWriterFactory(root: String, writeSchema: StructType, queryId: String,
                         statsCol: String = JsonlStats.statsColumn,
                         partitionCol: Option[String] = None,
                         bloomCol: Option[String] = None,
                         columnMapping: Map[String, String] = Map.empty,
                         gramCol: Option[String] = None,
                         upsertCols: Option[Seq[String]] = None,
                         metaSchema: Option[StructType] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new JsonlDataWriter(root, writeSchema, queryId, partitionId, taskId, statsCol,
      partitionCol, bloomCol, columnMapping, gramCol, upsertCols, metaSchema)
}

/** Streams rows of ONE output data file, tracking (min, max, rows) of
  * the stats column — shared by the unkeyed (one file per task) and
  * keyed (one file per key run) writers. */
private[sources] class JsonlFileSink(root: String, val fileName: String,
                                     writeSchema: StructType, statsCol: String,
                                     bloomCol: Option[String] = None,
                                     columnMapping: Map[String, String] = Map.empty,
                                     gramCol: Option[String] = None,
                                     gramShare: Int = 1) {
  // column mapping (r7c): rows are written under PHYSICAL field names
  // and per-column stats keyed by them, so pre- and post-rename files
  // are byte-compatible and the manifest keys never fork
  private val physOf: Array[String] =
    // lineage carrier columns (r10): `_last_updated_version` lands as
    // the short in-row field the reader's fallback expects
    writeSchema.fields.map(f =>
      if (f.name == JsonlStats.LuvMeta) JsonlStats.LuvField
      else columnMapping.getOrElse(f.name, f.name))
  private val path = Paths.get(root, fileName)
  // byte-counting output (r8): row-offset checkpoints need EXACT byte
  // positions, so the sink writes UTF-8 bytes itself instead of going
  // through a Writer whose encoder hides the count
  private val out = new java.io.BufferedOutputStream(Files.newOutputStream(path), 1 << 16)
  private val mapper = new ObjectMapper()
  private var bytesOut = 0L
  private var lastCkpt = 0L
  private val ckpts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  // per-SEGMENT stats-column bounds (r8 zone maps): the parquet
  // row-group-stats idea at checkpoint granularity. The shared tracker
  // owns the boundary law: seal at the checkpoint BEFORE the boundary
  // row's value merges (the row belongs to the NEXT segment).
  private val zones = new JsonlStats.ZoneTracker
  private val statsIdx = writeSchema.fieldNames.indexOf(statsCol)
  private val bloomIdx = bloomCol.map(writeSchema.fieldNames.indexOf(_)).getOrElse(-1)
  private val bloomHashes =
    if (bloomIdx >= 0) scala.collection.mutable.ArrayBuffer.empty[Long] else null
  // substring gram index (r9): every 5-char window of the indexed
  // string column feeds the per-file gram bloom ([[Bloom.GramTracker]])
  private val gramIdx = gramCol.map(writeSchema.fieldNames.indexOf(_)).getOrElse(-1)
  // row lineage (r10): a write carrying the `_row_id` column is a
  // rewrite materializing ids in-row; track whether any landed
  private val rowIdIdx = writeSchema.fieldNames.indexOf(JsonlStats.RowIdMeta)
  private var sawLineage = false
  // routed (bucket) writers hold one tracker per resident sink, so the
  // per-sink budget is the single-sink budget / gramShare (r9 review)
  private val grams = if (gramIdx >= 0) Bloom.budgetedGramTracker(gramShare) else null
  private var mn = Double.PositiveInfinity
  private var mx = Double.NegativeInfinity
  private var rows = 0L
  // full per-column stats (r7b): every numeric column's running
  // [min, max] over its NON-NULL values — the Iceberg/Delta shape.
  // Long bounds are exact through doubles below 2^53 (engine law).
  private val numIdx: Array[Int] = writeSchema.fields.zipWithIndex.collect {
    // materialized lineage fields (r10, clustering rewrites) are
    // provenance, not data — never tracked as column stats.
    // Temporal types (r11) bound like longs: epoch micros/days.
    case (f, i) if JsonlStats.numericStatType(f.dataType) &&
      f.name != JsonlStats.RowIdMeta && f.name != JsonlStats.LuvField &&
      f.name != JsonlStats.LuvMeta => i
  }
  private val colMn = Array.fill(numIdx.length)(Double.PositiveInfinity)
  private val colMx = Array.fill(numIdx.length)(Double.NegativeInfinity)
  private val colCnt = Array.fill(numIdx.length)(0L) // non-null rows per column
  // string-column bounds (r8): running attained min/max as UTF8String
  // (binary order == Spark's string order), truncated Iceberg-style
  // only at finish(). Non-null counts for strings too, so COUNT(col)
  // pushdown serves string columns.
  private val strIdx: Array[Int] = writeSchema.fields.zipWithIndex.collect {
    case (f, i) if f.dataType == StringType => i
  }
  private val strMn = new Array[org.apache.spark.unsafe.types.UTF8String](strIdx.length)
  private val strMx = new Array[org.apache.spark.unsafe.types.UTF8String](strIdx.length)
  private val strCnt = Array.fill(strIdx.length)(0L)
  // nested leaf statistics (r12, the Iceberg leaf-field-bounds idea):
  // numeric/string bounds per pure-struct leaf path, tracked into the
  // SAME cols/scols maps as scalar columns under dotted keys
  // (`doc.n_chars`) — merge, serialization and pruning all ride the
  // existing machinery; pushed nested predicates name exactly these
  // paths. Leaves under arrays/maps are not enumerated.
  private val leafRefs: Array[JsonlStats.LeafRef] = {
    val topPhys = writeSchema.fieldNames.zipWithIndex
      .map { case (n, i) => n -> physOf(i) }.toMap
    JsonlStats.structLeaves(writeSchema, n => topPhys(n)).toArray
  }
  private val leafMn = scala.collection.mutable.Map.empty[String, Double]
  private val leafMx = scala.collection.mutable.Map.empty[String, Double]
  private val leafCnt = scala.collection.mutable.Map.empty[String, Long]
  private val leafSMn =
    scala.collection.mutable.Map.empty[String, org.apache.spark.unsafe.types.UTF8String]
  private val leafSMx =
    scala.collection.mutable.Map.empty[String, org.apache.spark.unsafe.types.UTF8String]
  // map-key statistics (r13): per-KEY numeric bounds for string-keyed
  // maps with numeric-stat value types, published as `<col>.<key>`
  // entries in the SAME cols map (merge/serialization ride the
  // existing machinery) plus a `<col>#mk` completeness marker — the
  // marker is what lets an ABSENT key prune a file. A column poisons
  // (all entries dropped, no marker) past [[JsonlStats.MapKeyCap]]
  // distinct keys or on any untrackable key string.
  private val mapIdx: Array[Int] = writeSchema.fields.zipWithIndex.collect {
    case (f, i) if (f.dataType match {
      case MapType(StringType, vt, _) => JsonlStats.numericStatType(vt)
      case _ => false
    }) => i
  }
  private val mapVt: Array[DataType] =
    mapIdx.map(i => writeSchema.fields(i).dataType.asInstanceOf[MapType].valueType)
  private val mapKeyMn = Array.fill(mapIdx.length)(
    scala.collection.mutable.Map.empty[String, Double])
  private val mapKeyMx = Array.fill(mapIdx.length)(
    scala.collection.mutable.Map.empty[String, Double])
  private val mapPoison = Array.fill(mapIdx.length)(false)
  // string-VALUED map keys (r14): per-key string bounds for
  // MAP<STRING, STRING> columns — the single most common property-bag
  // predicate (`props['lang'] = 'de'`) — published into the SAME scols
  // map as truncated `<col>.<key>` entries (the r8 one-sided truncation
  // laws apply unchanged) under the SAME `<col>#mk` completeness
  // marker. Cap and key hygiene mirror the numeric machinery.
  private val mapSIdx: Array[Int] = writeSchema.fields.zipWithIndex.collect {
    case (f, i) if (f.dataType match {
      case MapType(StringType, StringType, _) => true
      case _ => false
    }) => i
  }
  private val mapKeySMn = Array.fill(mapSIdx.length)(
    scala.collection.mutable.Map.empty[String, UTF8String])
  private val mapKeySMx = Array.fill(mapSIdx.length)(
    scala.collection.mutable.Map.empty[String, UTF8String])
  private val mapSPoison = Array.fill(mapSIdx.length)(false)

  // vector stats (r11): L2-norm and sign-cell bounds for every
  // top-level float/double array — always on (one multiply-add per
  // element, noise against the JSON encode), published as derived
  // `#norm`/`#cell` keys in the cols map ([[JsonlStats.VecCellBits]])
  private val vecIdx: Array[Int] = writeSchema.fields.zipWithIndex.collect {
    case (f, i) if JsonlStats.isVectorType(f.dataType) => i
  }
  private val vecIsFloat: Array[Boolean] = vecIdx.map(i =>
    writeSchema.fields(i).dataType
      .asInstanceOf[ArrayType].elementType == FloatType)
  private val vecNormMn = Array.fill(vecIdx.length)(Double.PositiveInfinity)
  private val vecNormMx = Array.fill(vecIdx.length)(Double.NegativeInfinity)
  private val vecCellMn = Array.fill(vecIdx.length)(Int.MaxValue)
  private val vecCellMx = Array.fill(vecIdx.length)(Int.MinValue)
  // the exact cell SET (r12): VecCellBits = 6 ⇒ 64 possible cells, the
  // whole domain in one long — `vcells` makes the probe prune exact
  // where the [min, max] interval over-keeps straddled files
  private val vecCellBm = Array.fill(vecIdx.length)(0L)

  /** Recursive JSON encoding of one non-null value (r11): scalars,
    * typed arrays (r10) and STRUCTS compose arbitrarily — the
    * multimodal data model's `{text, embedding, meta}` column is a
    * first-class table-format type. Struct fields keep their DECLARED
    * names verbatim: column mapping renames TOP-LEVEL columns only (the
    * physical-rename unit is the column; a nested rename would rewrite
    * data bytes, which mapping exists to avoid). Numeric elements
    * round-trip exactly — Jackson prints the shortest decimal that
    * reparses to the same float/double/long. No stats are tracked for
    * arrays or structs (absence = never pruned — conservative).
    *
    * r16 (guide §4): encodes through a streaming JsonGenerator straight
    * into the (reused) line buffer instead of building a JsonNode tree
    * and round-tripping it through node.toString → String → UTF-8
    * bytes. Same Jackson serializers underneath (the tree's
    * DoubleNode/TextNode serialize() call the very writeNumber/
    * writeString used here), so the emitted bytes are IDENTICAL —
    * FormatBytesSpec pins that against the old tree formulation. */
  private def genJson(dt: DataType,
                      g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
                      i: Int,
                      gen: com.fasterxml.jackson.core.JsonGenerator): Unit = dt match {
    case LongType    => gen.writeNumber(g.getLong(i))
    case DoubleType  => gen.writeNumber(g.getDouble(i))
    case FloatType   => gen.writeNumber(g.getFloat(i))
    case StringType  => gen.writeString(g.getUTF8String(i).toString)
    case BooleanType => gen.writeBoolean(g.getBoolean(i))
    // temporal types (r11): the INTERNAL representations verbatim —
    // epoch micros / epoch days as JSON integers. Exact round-trip,
    // and the numeric stats map bounds them for planning-time pruning.
    case TimestampType | TimestampNTZType => gen.writeNumber(g.getLong(i))
    case DateType => gen.writeNumber(g.getInt(i))
    // decimals (r11): plain text — exact at any precision/scale
    case dt: DecimalType =>
      gen.writeString(g.getDecimal(i, dt.precision, dt.scale).toJavaBigDecimal.toPlainString)
    case ArrayType(et, _) =>
      val arr = g.getArray(i)
      gen.writeStartArray()
      var j = 0
      while (j < arr.numElements()) {
        if (arr.isNullAt(j)) gen.writeNull()
        else genJson(et, arr, j, gen)
        j += 1
      }
      gen.writeEndArray()
    case st: StructType =>
      val sr = g.getStruct(i, st.fields.length)
      gen.writeStartObject()
      var j = 0
      while (j < st.fields.length) {
        if (sr.isNullAt(j)) gen.writeNullField(st.fields(j).name)
        else { gen.writeFieldName(st.fields(j).name); genJson(st.fields(j).dataType, sr, j, gen) }
        j += 1
      }
      gen.writeEndObject()
    // string-keyed maps (r11): the natural JSON-object image
    case MapType(StringType, vt, _) =>
      val mp = g.getMap(i)
      val ks = mp.keyArray(); val vs = mp.valueArray()
      gen.writeStartObject()
      var j = 0
      while (j < mp.numElements()) {
        val k = ks.getUTF8String(j).toString
        if (vs.isNullAt(j)) gen.writeNullField(k)
        else { gen.writeFieldName(k); genJson(vt, vs, j, gen) }
        j += 1
      }
      gen.writeEndObject()
    case dt => throw new IllegalArgumentException(s"unsupported type $dt")
  }

  // schema walk hoisted out of the row loop (r16): the old write()
  // re-zipped writeSchema.fields per row
  private val fieldDts: Array[DataType] = writeSchema.fields.map(_.dataType)
  private val lineOut = new java.io.ByteArrayOutputStream(1024)
  private val jfactory = mapper.getFactory

  def write(row: InternalRow): Unit = {
    if (rowIdIdx >= 0 && !row.isNullAt(rowIdIdx)) sawLineage = true
    lineOut.reset()
    val gen = jfactory.createGenerator(lineOut)
    // the byte-backed generator escapes non-BMP chars as surrogate pairs
    // by default; the tree formulation (char-based) emitted raw UTF-8 —
    // keep existing tables' bytes (FormatBytesSpec pins an emoji)
    gen.enable(com.fasterxml.jackson.core.json.JsonWriteFeature
      .COMBINE_UNICODE_SURROGATES_IN_UTF8.mappedFeature())
    gen.writeStartObject()
    var fi = 0
    while (fi < fieldDts.length) {
      if (row.isNullAt(fi)) gen.writeNullField(physOf(fi))
      else { gen.writeFieldName(physOf(fi)); genJson(fieldDts(fi), row, fi, gen) }
      fi += 1
    }
    gen.writeEndObject()
    gen.close()
    var rowStats = 0.0
    var rowHasStats = false
    if (statsIdx >= 0 && !row.isNullAt(statsIdx)) {
      // manifest bounds are doubles regardless of column type; exact for
      // longs below 2^53 (every key column in this engine). NaN poisons
      // to the sentinel — finite bounds computed past a NaN would
      // EXCLUDE the rows `=== NaN` finds (review r8).
      val v = JsonlStats.numericStatValue(writeSchema.fields(statsIdx).dataType, row, statsIdx)
      if (v.isNaN) { mn = Double.MinValue; mx = Double.MaxValue }
      else { if (v < mn) mn = v; if (v > mx) mx = v }
      rowStats = v
      rowHasStats = true
    }
    var ci = 0
    while (ci < numIdx.length) {
      val i = numIdx(ci)
      if (!row.isNullAt(i)) {
        val v = JsonlStats.numericStatValue(writeSchema.fields(i).dataType, row, i)
        if (v < colMn(ci)) colMn(ci) = v
        if (v > colMx(ci)) colMx(ci) = v
        colCnt(ci) += 1L
      }
      ci += 1
    }
    var si = 0
    while (si < strIdx.length) {
      val i = strIdx(si)
      if (!row.isNullAt(i)) {
        // clone: the row's UTF8String may alias a reused buffer
        val v = row.getUTF8String(i).clone()
        if (strMn(si) == null || v.compareTo(strMn(si)) < 0) strMn(si) = v
        if (strMx(si) == null || v.compareTo(strMx(si)) > 0) strMx(si) = v
        strCnt(si) += 1L
      }
      si += 1
    }
    var li = 0
    while (li < leafRefs.length) {
      val l = leafRefs(li)
      // navigate the struct chain; a null anywhere on the way means
      // the leaf is absent for this row (counts as null — tracked
      // bounds stay attained-only, the conservatism TypedColumnsSpec
      // pins for null/absent leaves)
      var g: org.apache.spark.sql.catalyst.expressions.SpecializedGetters = row
      var ok = true
      var k = 0
      while (ok && k < l.chain.length) {
        val (ord, n) = l.chain(k)
        if (g.isNullAt(ord)) ok = false else g = g.getStruct(ord, n)
        k += 1
      }
      if (ok && !g.isNullAt(l.idx)) {
        if (l.dt == StringType) {
          val v = g.getUTF8String(l.idx).clone()
          if (!leafSMn.contains(l.key) || v.compareTo(leafSMn(l.key)) < 0) leafSMn(l.key) = v
          if (!leafSMx.contains(l.key) || v.compareTo(leafSMx(l.key)) > 0) leafSMx(l.key) = v
        } else {
          val v = JsonlStats.numericStatValue(l.dt, g, l.idx)
          if (v.isNaN) { leafMn(l.key) = Double.MinValue; leafMx(l.key) = Double.MaxValue }
          else {
            if (v < leafMn.getOrElse(l.key, Double.PositiveInfinity)) leafMn(l.key) = v
            if (v > leafMx.getOrElse(l.key, Double.NegativeInfinity)) leafMx(l.key) = v
          }
        }
        leafCnt(l.key) = leafCnt.getOrElse(l.key, 0L) + 1L
      }
      li += 1
    }
    var mi = 0
    while (mi < mapIdx.length) {
      val i = mapIdx(mi)
      if (!mapPoison(mi) && !row.isNullAt(i)) {
        val mp = row.getMap(i)
        val ks = mp.keyArray(); val vs = mp.valueArray()
        var j = 0
        while (j < mp.numElements() && !mapPoison(mi)) {
          if (!vs.isNullAt(j)) {
            val k = ks.getUTF8String(j).toString
            val known = mapKeyMn(mi).contains(k)
            if (!JsonlStats.mapStatKeyOk(k) ||
              (!known && mapKeyMn(mi).size >= JsonlStats.MapKeyCap)) {
              mapPoison(mi) = true
              mapKeyMn(mi).clear(); mapKeyMx(mi).clear()
            } else {
              val v = JsonlStats.numericStatValue(mapVt(mi), vs, j)
              if (v.isNaN) {
                // NaN poisons THIS key's bounds to the vacuous interval
                mapKeyMn(mi)(k) = Double.MinValue
                mapKeyMx(mi)(k) = Double.MaxValue
              } else {
                if (v < mapKeyMn(mi).getOrElse(k, Double.PositiveInfinity)) mapKeyMn(mi)(k) = v
                if (v > mapKeyMx(mi).getOrElse(k, Double.NegativeInfinity)) mapKeyMx(mi)(k) = v
              }
            }
          }
          j += 1
        }
      }
      mi += 1
    }
    var msi = 0
    while (msi < mapSIdx.length) {
      val i = mapSIdx(msi)
      if (!mapSPoison(msi) && !row.isNullAt(i)) {
        val mp = row.getMap(i)
        val ks = mp.keyArray(); val vs = mp.valueArray()
        var j = 0
        while (j < mp.numElements() && !mapSPoison(msi)) {
          if (!vs.isNullAt(j)) {
            val k = ks.getUTF8String(j).toString
            val known = mapKeySMn(msi).contains(k)
            if (!JsonlStats.mapStatKeyOk(k) ||
              (!known && mapKeySMn(msi).size >= JsonlStats.MapKeyCap)) {
              mapSPoison(msi) = true
              mapKeySMn(msi).clear(); mapKeySMx(msi).clear()
            } else {
              // clone: the map's UTF8String may alias a reused buffer
              val v = vs.getUTF8String(j).clone()
              val curMn = mapKeySMn(msi).get(k)
              if (curMn.isEmpty || v.compareTo(curMn.get) < 0) mapKeySMn(msi)(k) = v
              val curMx = mapKeySMx(msi).get(k)
              if (curMx.isEmpty || v.compareTo(curMx.get) > 0) mapKeySMx(msi)(k) = v
            }
          }
          j += 1
        }
      }
      msi += 1
    }
    var vi = 0
    while (vi < vecIdx.length) {
      val i = vecIdx(vi)
      if (!row.isNullAt(i)) {
        val arr = row.getArray(i)
        val m = arr.numElements()
        var normSq = 0.0
        var cellId = 0
        var j = 0
        while (j < m) {
          val e =
            if (arr.isNullAt(j)) 0.0
            else if (vecIsFloat(vi)) arr.getFloat(j).toDouble
            else arr.getDouble(j)
          normSq += e * e
          if (j < JsonlStats.VecCellBits && e > 0) cellId |= 1 << j
          j += 1
        }
        val nrm = math.sqrt(normSq)
        // a NaN element poisons the norm to vacuous bounds — finite
        // bounds computed past it would drop the row under a band
        if (nrm.isNaN) { vecNormMn(vi) = 0.0; vecNormMx(vi) = Double.MaxValue }
        else {
          if (nrm < vecNormMn(vi)) vecNormMn(vi) = nrm
          if (nrm > vecNormMx(vi)) vecNormMx(vi) = nrm
        }
        if (cellId < vecCellMn(vi)) vecCellMn(vi) = cellId
        if (cellId > vecCellMx(vi)) vecCellMx(vi) = cellId
        vecCellBm(vi) |= 1L << cellId
      }
      vi += 1
    }
    if (bloomIdx >= 0 && !row.isNullAt(bloomIdx)) {
      bloomHashes += (writeSchema.fields(bloomIdx).dataType match {
        case LongType   => Bloom.hashLong(row.getLong(bloomIdx))
        case DoubleType => Bloom.hashDouble(row.getDouble(bloomIdx))
        case _          => Bloom.hashString(row.getUTF8String(bloomIdx).toString)
      })
    }
    if (gramIdx >= 0 && !row.isNullAt(gramIdx))
      grams.add(row.getUTF8String(gramIdx).toString)
    // checkpoint BEFORE the row: bytesOut is a line start here, and
    // `rows` rows precede it — one pair per [[JsonlStats.CheckpointBytes]]
    if (rows > 0 && bytesOut - lastCkpt >= JsonlStats.CheckpointBytes) {
      ckpts += ((bytesOut, rows))
      lastCkpt = bytesOut
      zones.seal() // BEFORE this row's value: the row starts the next segment
    }
    if (rowHasStats) zones.add(rowStats)
    lineOut.writeTo(out); out.write('\n')
    bytesOut += lineOut.size() + 1
    rows += 1
  }

  /** Close and return the manifest entry this file deserves. */
  def finish(pkey: Option[String]): JsonlFileCommit = {
    out.close()
    if (rows == 0) { Files.deleteIfExists(path); return JsonlFileCommit(null, 0, 0, 0) }
    // bloom sidecar rides next to its data file, written before the
    // commit message exists (a crash leaves both unmanifested)
    if (bloomIdx >= 0) Bloom.writeSidecar(path, bloomHashes.toArray)
    if (gramIdx >= 0) grams.writeSidecar(path)
    // all-null columns are simply ABSENT from the map (absence =
    // unknown = never pruned, no sentinel needed at this layer)
    val cols = numIdx.indices.collect {
      case ci if colMn(ci) <= colMx(ci) =>
        physOf(numIdx(ci)) -> (colMn(ci), colMx(ci))
    }.toMap ++ vecIdx.indices.collect {
      case vi if vecNormMn(vi) <= vecNormMx(vi) =>
        s"${physOf(vecIdx(vi))}#norm" -> (vecNormMn(vi), vecNormMx(vi))
    }.toMap ++ vecIdx.indices.collect {
      case vi if vecCellMn(vi) <= vecCellMx(vi) =>
        s"${physOf(vecIdx(vi))}#cell" -> (vecCellMn(vi).toDouble, vecCellMx(vi).toDouble)
    }.toMap ++
      // nested leaf bounds (r12) under their dotted paths
      leafMn.keySet.map(k => k -> (leafMn(k), leafMx(k))).toMap ++
      // map-key bounds (r13) + the completeness marker; a poisoned
      // column publishes NOTHING (absence = never pruned). The marker
      // rides even for a column that saw no keys at all — "no key k
      // anywhere in this file" is exactly what lets absence prune.
      mapIdx.indices.filterNot(mapPoison).flatMap { mi =>
        val base = physOf(mapIdx(mi))
        (JsonlStats.mapMarkerKey(base) -> (1.0, 1.0)) +:
          mapKeyMn(mi).toSeq.map { case (k, lo) =>
            s"$base.$k" -> (lo, mapKeyMx(mi)(k))
          }
      }.toMap ++
      // string-valued maps (r14) publish the same completeness marker
      // (their per-key BOUNDS live in scols, truncated)
      mapSIdx.indices.filterNot(mapSPoison).map { msi =>
        JsonlStats.mapMarkerKey(physOf(mapSIdx(msi))) -> (1.0, 1.0)
      }.toMap
    // non-null counts for EVERY column, numeric and string, including
    // all-null ones (a zero count is knowledge — COUNT(col) pushdown
    // serves it as 0)
    val colN = numIdx.indices.map(ci => physOf(numIdx(ci)) -> colCnt(ci)).toMap ++
      strIdx.indices.map(si => physOf(strIdx(si)) -> strCnt(si)).toMap ++
      leafCnt.toMap // nested leaf non-null counts (r12)
    // string bounds, truncated at publish time (Iceberg law: lower
    // truncates down, upper truncates up or goes unknown)
    val strCols = strIdx.indices.collect {
      case si if strMn(si) != null =>
        physOf(strIdx(si)) -> (JsonlStats.truncLower(strMn(si).toString),
          JsonlStats.truncUpper(strMx(si).toString))
    }.toMap ++
      // nested string leaves (r12), same truncation law
      leafSMn.keySet.map(k => k -> (JsonlStats.truncLower(leafSMn(k).toString),
        JsonlStats.truncUpper(leafSMx(k).toString))).toMap ++
      // string map-key bounds (r14) under their dotted keys, same law
      mapSIdx.indices.filterNot(mapSPoison).flatMap { msi =>
        val base = physOf(mapSIdx(msi))
        mapKeySMn(msi).toSeq.map { case (k, lo) =>
          s"$base.$k" -> (JsonlStats.truncLower(lo.toString),
            JsonlStats.truncUpper(mapKeySMx(msi)(k).toString))
        }
      }.toMap
    val segZones = zones.zones(ckpts.nonEmpty)
    // exact cell sets (r12): published iff the column saw at least one
    // non-null vector — same condition as its `#cell` bounds
    val vcells = vecIdx.indices.collect {
      case vi if vecCellMn(vi) <= vecCellMx(vi) =>
        physOf(vecIdx(vi)) -> vecCellBm(vi)
    }.toMap
    if (mn > mx)
      // rows exist but the stats column was all-null: publish the whole
      // real line so the file is never pruned (conservative, correct)
      JsonlFileCommit(fileName, Double.MinValue, Double.MaxValue, rows, pkey, cols, colN,
        strCols, ckpts.toSeq, segZones, sawLineage = sawLineage, vcells = vcells)
    else JsonlFileCommit(fileName, mn, mx, rows, pkey, cols, colN, strCols, ckpts.toSeq,
      segZones, sawLineage = sawLineage, vcells = vcells)
  }

  def abort(): Unit = {
    out.close()
    Files.deleteIfExists(path)
    Files.deleteIfExists(Bloom.sidecarOf(path))
    Files.deleteIfExists(Bloom.gramSidecarOf(path))
  }
}

/** Attempt-unique data files (retries and speculation can never
  * collide; only the attempt whose commit message reaches the driver
  * gets manifested). Unkeyed: one file per task. Keyed: the write's
  * clustered + sorted requirement delivers each key as one contiguous
  * run, so the writer ROLLS to a fresh file when the key changes — one
  * file per key per task, each manifested with its `pkey`, preserving
  * the layout contract `KeyGroupedPartitioning` reads from. */
class JsonlDataWriter(root: String, writeSchema: StructType, queryId: String,
                      partitionId: Int, taskId: Long,
                      statsCol: String = JsonlStats.statsColumn,
                      partitionCol: Option[String] = None,
                      bloomCol: Option[String] = None,
                      columnMapping: Map[String, String] = Map.empty,
                      gramCol: Option[String] = None,
                      upsertCols: Option[Seq[String]] = None,
                      metaSchema: Option[StructType] = None) extends DataWriter[InternalRow] {
  // equality-delete upsert (r9b): the task tracks its rows' DISTINCT
  // keys and ships them as its own delete file — no driver collect,
  // no base read; the commit stamps sequence numbers
  private val eqTracker = upsertCols.map(cs =>
    new JsonlEqualityDeletes.KeyTracker(writeSchema, cs, columnMapping))
  private val specs: Seq[PartitionTransforms.Spec] =
    partitionCol.map(PartitionTransforms.parseMulti).getOrElse(Nil)
  private val keyIdxs: Seq[Int] = specs.map(sp => writeSchema.fieldNames.indexOf(sp.col))
  private val keyIdx = if (keyIdxs.isEmpty) -1 else keyIdxs.head
  require(partitionCol.isEmpty || keyIdxs.forall(_ >= 0),
    s"partition column(s) ${partitionCol.orNull} missing from write schema $writeSchema")
  specs.zip(keyIdxs).filter(p => PartitionTransforms.isHidden(p._1)).foreach { case (sp, idx) =>
    val dt = writeSchema.fields(idx).dataType
    sp match {
      case _: PartitionTransforms.TimeSpec =>
        require(dt == TimestampType || dt == TimestampNTZType || dt == DateType,
          s"${sp.encoded} needs a timestamp or date source, got $dt")
      case _ =>
        require(dt == LongType || dt == StringType,
          s"hidden partition transform ${sp.encoded} needs a long or string source, got $dt")
    }
  }
  private var seq = 0
  private var curKey: String = _
  private var sink: JsonlFileSink = _
  // hidden partitioning (r9): BUCKET keys never arrive contiguously
  // under any source ordering, so a roll-on-change writer would
  // explode into a file per run — bucket layouts route rows to one
  // RESIDENT sink per derived key, bounded at N per task (the DDL caps
  // N so open handles + buffers stay bounded; r9 review). TRUNCATE is
  // MONOTONE in the source column the write is already clustered and
  // sorted by, so its derived keys arrive as contiguous runs and the
  // identity close-on-key-change path bounds it at ONE open sink —
  // a resident router there would hold an unbounded handle set open
  // for the task's whole life.
  private val routed = specs.exists(_.isInstanceOf[PartitionTransforms.Bucket])
  specs.collect { case PartitionTransforms.Bucket(n, _) =>
    require(n <= 4096,
      s"bucket($n): at most 4096 buckets — every writer task holds one open sink " +
        "per bucket it sees")
  }
  // composite layouts (r12, time × bucket): the bucket component
  // interleaves inside a time run, so composite rows ROUTE too — but
  // the router is FLUSHED whenever the time key advances (time keys
  // arrive monotone under the write's required ordering by the time
  // source), so the resident bound stays ≤ N whatever the task's span.
  private val timeComponent: Int =
    if (specs.size > 1) specs.indexWhere(_.isInstanceOf[PartitionTransforms.TimeSpec]) else -1
  private var curTimeKey: String = _
  private val router =
    if (routed) scala.collection.mutable.LinkedHashMap.empty[String, JsonlFileSink] else null
  private val done = scala.collection.mutable.ArrayBuffer.empty[JsonlFileCommit]

  private def roll(): JsonlFileSink = {
    val name = f"part-$queryId-$partitionId%05d-$taskId-$seq.jsonl"
    seq += 1
    // bucket-routed tasks keep up to N sinks resident, so each sink's
    // gram tracker gets 1/N of the single-sink memory budget
    val share = specs.collectFirst { case PartitionTransforms.Bucket(n, _) => n }
      .filter(_ => routed).getOrElse(1)
    new JsonlFileSink(root, name, writeSchema, statsCol, bloomCol, columnMapping,
      gramCol, gramShare = share)
  }

  /** One component's key (derivation definitions shared with the
    * pruner — [[PartitionTransforms]]). */
  private def componentKey(sp: PartitionTransforms.Spec, idx: Int, row: InternalRow): String =
    sp match {
      case PartitionTransforms.Identity(_) => row.getUTF8String(idx).toString
      case PartitionTransforms.Bucket(n, _) => writeSchema.fields(idx).dataType match {
        case LongType => PartitionTransforms.bucketLong(n, row.getLong(idx)).toString
        case _ => PartitionTransforms.bucketString(n, row.getUTF8String(idx).toString).toString
      }
      case PartitionTransforms.Trunc(w, _) => writeSchema.fields(idx).dataType match {
        case LongType => PartitionTransforms.truncLong(w, row.getLong(idx)).toString
        case _ => PartitionTransforms.truncString(w, row.getUTF8String(idx).toString)
      }
      case t: PartitionTransforms.TimeSpec => writeSchema.fields(idx).dataType match {
        case TimestampType | TimestampNTZType =>
          t.keyOfDay(PartitionTransforms.dayOfMicros(row.getLong(idx))).toString
        case _ => t.keyOfDay(row.getInt(idx).toLong).toString // DateType: days already
      }
    }

  /** The row's partition key under the declared layout: a single
    * transform's key, or composite components joined with "|" in
    * declared order. */
  private def derivedKey(row: InternalRow): String =
    if (specs.size == 1) componentKey(specs.head, keyIdx, row)
    else specs.zip(keyIdxs).map { case (sp, i) => componentKey(sp, i, row) }.mkString("|")

  /** Composite time-run boundary: when the (ordering-monotone) time
    * component advances, release every resident bucket sink of the
    * finished run — both the data router and the lineage one. */
  private def advanceTimeRun(row: InternalRow): Unit = {
    if (timeComponent < 0) return
    val tk = componentKey(specs(timeComponent), keyIdxs(timeComponent), row)
    if (tk != curTimeKey) {
      if (router != null && router.nonEmpty) {
        router.foreach { case (k, snk) => done += snk.finish(Some(k)) }
        router.clear()
      }
      if (linRouter != null && linRouter.nonEmpty) {
        linRouter.foreach { case (k, snk) => done += snk.finish(Some(k)) }
        linRouter.clear()
      }
      curTimeKey = tk
    }
  }

  // lineage-preserving COW (r11): ReplaceData hands (metadata, row)
  // pairs to the two-arg write below; id-bearing rows route to a
  // LINEAGE sink (schema + _row_id/_luv, materialized in-row — the
  // zorder carrier shape, frid = -2 at commit) and id-less rows
  // (MERGE re-inserts, unassigned carries) to the plain sink, minting
  // fresh ids at commit. KEYED layouts keep the SPJ contract: the
  // lineage sink rolls/routes per derived key exactly like the plain
  // one (rows arrive key-clustered, so at most two sinks are open per
  // key run; bucket routers hold one lineage sink per resident bucket
  // alongside the data one — COW rewrites are maintenance traffic, not
  // hot ingest), and every lineage file publishes its pkey.
  private val metaRid = metaSchema.map(_.fieldNames.indexOf(JsonlStats.RowIdMeta)).getOrElse(-1)
  private val metaLuv = metaSchema.map(_.fieldNames.indexOf(JsonlStats.LuvMeta)).getOrElse(-1)
  private lazy val linSchema = writeSchema
    .add(JsonlStats.RowIdMeta, LongType).add(JsonlStats.LuvMeta, LongType)
  private var linSink: JsonlFileSink = _
  private var linCurKey: String = _
  private var linSeq = 0
  private val linRouter =
    if (routed) scala.collection.mutable.LinkedHashMap.empty[String, JsonlFileSink] else null

  private def rollLin(): JsonlFileSink = {
    val name = f"part-$queryId-$partitionId%05d-$taskId-lin$linSeq.jsonl"
    linSeq += 1
    val share = specs.collectFirst { case PartitionTransforms.Bucket(n, _) => n }
      .filter(_ => routed).getOrElse(1)
    new JsonlFileSink(root, name, linSchema, statsCol, bloomCol, columnMapping,
      gramCol, gramShare = share)
  }

  override def write(meta: InternalRow, row: InternalRow): Unit = {
    if (metaRid < 0 || meta.isNullAt(metaRid)) { write(row); return }
    val extra = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](meta.getLong(metaRid),
        if (metaLuv >= 0 && !meta.isNullAt(metaLuv)) meta.getLong(metaLuv) else null))
    val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow(row, extra)
    if (keyIdx >= 0) {
      if (keyIdxs.exists(row.isNullAt))
        throw new IllegalArgumentException(
          s"partition column ${partitionCol.get} must not be null in a keyed layout")
      advanceTimeRun(row)
      val k = derivedKey(row)
      if (routed) { linRouter.getOrElseUpdate(k, rollLin()).write(joined); return }
      if (linSink == null || k != linCurKey) {
        if (linSink != null) done += linSink.finish(Some(linCurKey))
        linCurKey = k
        linSink = rollLin()
      }
      linSink.write(joined)
      return
    }
    if (linSink == null) linSink = rollLin()
    linSink.write(joined)
  }

  override def write(row: InternalRow): Unit = {
    eqTracker.foreach(_.add(row))
    if (keyIdx >= 0) {
      if (keyIdxs.exists(row.isNullAt))
        throw new IllegalArgumentException(
          s"partition column ${partitionCol.get} must not be null in a keyed layout")
      advanceTimeRun(row)
      val k = derivedKey(row)
      if (routed) { router.getOrElseUpdate(k, roll()).write(row); return }
      if (sink == null || k != curKey) {
        if (sink != null) done += sink.finish(Some(curKey))
        curKey = k
        sink = roll()
      }
    } else if (sink == null) sink = roll()
    sink.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (router != null) {
      router.foreach { case (k, snk) => done += snk.finish(Some(k)) }
      router.clear()
    }
    if (sink != null) {
      done += sink.finish(if (keyIdx >= 0) Some(curKey) else None)
      sink = null
    }
    if (linRouter != null) {
      linRouter.foreach { case (k, snk) => done += snk.finish(Some(k)) }
      linRouter.clear()
    }
    if (linSink != null) {
      done += linSink.finish(if (keyIdx >= 0) Some(linCurKey) else None)
      linSink = null
    }
    val eq = eqTracker.flatMap { t =>
      t.writeFile(root, f"eq-$queryId-$partitionId%05d-$taskId.jsonl")
        .map(rel => (rel, t.physCols, t.size.toLong))
    }
    JsonlFileCommits(done.filter(_.file != null).toSeq, eq)
  }

  override def abort(): Unit = {
    if (router != null) { router.valuesIterator.foreach(_.abort()); router.clear() }
    if (linRouter != null) { linRouter.valuesIterator.foreach(_.abort()); linRouter.clear() }
    if (sink != null) { sink.abort(); sink = null }
    if (linSink != null) { linSink.abort(); linSink = null }
    done.foreach(c => if (c.file != null) Files.deleteIfExists(Paths.get(root, c.file)))
  }
  override def close(): Unit = ()
}


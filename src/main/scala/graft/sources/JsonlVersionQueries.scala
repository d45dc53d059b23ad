package graft.sources

import graft.QueryModule
import graft.ingest.{Landing, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import JsonlFixtures._

/** The graft-jsonl-stats connector's versioning queries: time travel,
  * VACUUM-safe history, tags, branches and write-audit-publish, rollback
  * and cherry-pick, clones, atomic multi-table publish, metadata tables,
  * and row lineage across maintenance and DML. Fixtures live in
  * [[JsonlFixtures]].
  */
object JsonlVersionQueries extends QueryModule {

  /** q179 (r7): TIME TRAVEL — every manifest publish archives the
    * outgoing generation (`_history/v{K}.jsonl`), so `VERSION AS OF K`
    * resolves a READ-ONLY snapshot over the frozen file list through
    * the same scan machinery (Delta's time-travel shape on this
    * engine's commit protocol; GC'd generations fail loudly, the
    * post-VACUUM contract — JsonlStatsSpec pins both and TIMESTAMP AS
    * OF). The fixture publishes twice (non-click, then +click), and
    * the query reads generation 1: the append must be invisible. */
  def timeTravel(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    val dir = Landing.fixtureDir(d, "jsonl_versioned")
    Landing.ensureBuilt(dir) { out =>
      Files.createDirectories(Paths.get(out))
      val ev = Tables.events(spark, d)
        .select($"event_id", $"user_id", $"event_type", $"value")
      ev.filter($"event_type" =!= "click").repartitionByRange(2, $"value")
        .write.format("graft-jsonl-stats").option("path", out).mode("overwrite").save()
      ev.filter($"event_type" === "click")
        .write.format("graft-jsonl-stats").option("path", out).mode("append").save()
    }
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_versioned VERSION AS OF 1
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q126: TIME TRAVEL on a gold rollup — q179's law on the gold grain
    * of [[graft.gold.Incremental.toGoldGrain]]. The "hist" backfill
    * (day-of-month > 7) is the table's first commit, the day ≤ 7
    * increment its second, and the query reads `VERSION AS OF 1`: the
    * table as it stood before the increment. The oracle recomputes that
    * snapshot from the raw events, so the snapshot semantics, not a
    * filter, are what hash-match. */
  def goldTimeTravel(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    val ev = Tables.events(spark, d)
    ensureTable(d, "jsonl_gold_daily", after = out =>
      graft.gold.Incremental.toGoldGrain(ev.filter(dayofmonth($"ts") <= 7))
        .write.format("graft-jsonl-stats").option("path", out).mode("append").save()
    )(graft.gold.Incremental.toGoldGrain(ev.filter(dayofmonth($"ts") > 7)))
    spark.sql(
      s"""SELECT event_date, event_type, n_events,
         |  CAST(total_dec AS DOUBLE) AS total_value
         |FROM $cat.jsonl_gold_daily VERSION AS OF 1
         |ORDER BY event_date, event_type""".stripMargin)
  }

  /** q245 (r9): HISTORY COMPACTION — the answer to MetaBench's
    * archive-growth law. `CALL compact_history` re-encodes archived
    * manifest snapshots as reverse deltas against their predecessor
    * (periodic fulls bound the reconstruction walk; the newest slots
    * stay raw for the OCC lease), then the query TIME TRAVELS to a
    * version that is now delta-encoded — the read must reconstruct the
    * exact snapshot (bytes-shrink, mtime-preservation and
    * vacuum-materialization laws in JsonlStatsSpec). On an append-only
    * history the archive shrinks from O(manifest) to O(Δ) per version
    * — at 100 k files that is 48 MB → ~100 bytes per commit. */
  def historyCompaction(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    ensureHistoryFixture(spark, d)
    spark.sql(s"CALL $cat.compact_history('jsonl_history')").collect()
    val v = Files.readAllLines(Paths.get(
      Landing.fixtureDir(d, "jsonl_history_marker"), "v_after_12")).get(0).trim.toInt
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM $cat.jsonl_history VERSION AS OF $v
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q247 (r9b): TAGS — a named immutable snapshot on the refs tier
    * ([[Refs]]). The lifecycle prices CTAS of half the feed, `CALL
    * create_tag`, an INSERT of the other half, then the read BACK
    * THROUGH THE TAG (`VERSION AS OF 'baseline'`): the appended rows
    * must be invisible there, whatever main does afterwards. Unlike a
    * version-number pin, the tag survives history compaction and
    * vacuum (it pins CONTENT and refcounts as a live root — laws in
    * RefsSpec), which is what makes it the reproducibility primitive a
    * training pipeline wants: `train_run_2026_08` keeps meaning the
    * same 100 TB forever, at zero copy cost. */
  def tagTimeTravel(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_tagged")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_tagged AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 0""".stripMargin)
    spark.sql(s"CALL $cat.create_tag('jsonl_tagged', 'baseline')")
    spark.sql(
      s"""INSERT INTO $cat.jsonl_tagged
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 1""".stripMargin)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM $cat.jsonl_tagged VERSION AS OF 'baseline'
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q248 (r9b): WRITE-AUDIT-PUBLISH — the production load pattern the
    * refs tier exists for (the reference's gate-then-publish flow,
    * `Assets/Jobs/etl_silver_to_gold.py`, promoted from a job-level
    * convention to a TABLE-FORMAT guarantee). The load lands on a
    * staging branch (`INSERT INTO <t>.branch_audit`), the audit gate
    * runs against the branch head with the full scan machinery, and
    * `CALL fast_forward` publishes in ONE OCC commit that conflicts
    * loudly if main moved since the fork — main never serves a single
    * unaudited row, and a failed audit costs `drop_branch`, not a
    * restore. At 100 TB the publish is O(manifest) metadata, whatever
    * the staged volume (RefsBench law in SCALING.md). */
  def wapPublish(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_wap")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_wap AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 0""".stripMargin)
    spark.sql(s"CALL $cat.create_branch('jsonl_wap', 'audit')")
    spark.sql(
      s"""INSERT INTO $cat.jsonl_wap.branch_audit
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 1""".stripMargin)
    // the audit: the staged head must hold the full feed and nothing
    // else before it may publish (a real gate would run the gold
    // validation suite here — same scan surface)
    val staged = spark.sql(
      s"SELECT count(*) FROM $cat.jsonl_wap.branch_audit WHERE value IS NULL")
      .head().getLong(0)
    require(staged == 0, s"audit gate failed: $staged null-valued staged rows")
    spark.sql(s"CALL $cat.fast_forward('jsonl_wap', 'audit')")
    spark.sql(s"CALL $cat.drop_branch('jsonl_wap', 'audit')")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM $cat.jsonl_wap
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q249 (r9b): BRANCH ISOLATION — the two sides of an in-flight WAP
    * stage read through the SAME table at the SAME instant and must
    * disagree by exactly the staged rows: main serves the fork-time
    * content (the unaudited load is invisible), the branch head serves
    * fork + staged. One frame, one row per side — the isolation
    * contract as a registered, oracle-checked result rather than a
    * spec-only law. */
  def branchIsolation(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_iso")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_iso AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 0""".stripMargin)
    spark.sql(s"CALL $cat.create_branch('jsonl_iso', 'stage')")
    spark.sql(
      s"""INSERT INTO $cat.jsonl_iso.branch_stage
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 1""".stripMargin)
    spark.sql(
      s"""SELECT side, n, value_sum FROM (
         |  SELECT 'branch' AS side, count(*) AS n,
         |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |  FROM $cat.jsonl_iso.branch_stage
         |  UNION ALL
         |  SELECT 'main' AS side, count(*) AS n,
         |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |  FROM $cat.jsonl_iso)
         |ORDER BY side""".stripMargin)
  }

  /** q250 (r9b): PARTITIONS METADATA TABLE — `<t>.partitions` is the
    * manifest's per-key arithmetic as SQL ([[MetaTables]], the Iceberg
    * metadata-table idiom): per-partition file and live-row counts with
    * ZERO data IO, where the data-tier equivalent scans the table. The
    * oracle IS that data-tier group-by, so the metadata tier is pinned
    * to the data it describes — and at 100 TB "how big is each
    * partition" stops being a full-table scan. */
  def partitionsMetaTable(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_meta_parts
         |PARTITIONED BY (event_type) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    spark.sql(
      s"""SELECT pkey AS event_type, CAST(live_rows AS BIGINT) AS n
         |FROM $cat.jsonl_meta_parts.partitions
         |ORDER BY pkey""".stripMargin)
  }

  /** q251 (r9b): FILES + REFS METADATA TABLES — operational questions
    * as scalar subqueries over `<t>.files` and `<t>.refs`: distinct
    * live partition keys, total live rows, ref inventory, and the
    * row count a tag pins — all manifest/ref arithmetic, no data IO.
    * The oracle derives every number from the raw feed. */
  def filesRefsMetaTable(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_meta_refs")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_meta_refs
         |PARTITIONED BY (event_type) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    spark.sql(s"CALL $cat.create_tag('jsonl_meta_refs', 'pinned')")
    spark.sql(s"CALL $cat.create_branch('jsonl_meta_refs', 'wip')")
    spark.sql(
      s"""SELECT
         |  (SELECT count(DISTINCT pkey) FROM $cat.jsonl_meta_refs.files) AS n_keys,
         |  (SELECT CAST(sum(live_rows) AS BIGINT) FROM $cat.jsonl_meta_refs.files) AS n_rows,
         |  (SELECT count(*) FROM $cat.jsonl_meta_refs.refs) AS n_refs,
         |  (SELECT CAST(sum(live_rows) AS BIGINT) FROM $cat.jsonl_meta_refs.refs
         |    WHERE type = 'tag') AS tag_rows""".stripMargin)
  }

  /** q255 (r9c): ROLLBACK — the bad-deploy escape hatch ([[Refs
    * .rollbackTo]], Iceberg's `rollback_to_snapshot`): the approved
    * image is tagged, a bad batch lands, `CALL rollback` restores the
    * tag in ONE serializable metadata commit (the bad files stay on
    * disk as `_history/` evidence until vacuum — no data is copied or
    * deleted by the restore), and the corrected batch lands on the
    * restored image. At 100 TB the restore costs one manifest swap
    * whatever the damage; the alternative everywhere-without-history
    * is re-running the pipeline. */
  def rollbackRestore(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_rollback")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_rollback AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 0""".stripMargin)
    spark.sql(s"CALL $cat.create_tag('jsonl_rollback', 'approved')")
    // the bad batch: wrong rows nobody should ever see again
    spark.sql(
      s"""INSERT INTO $cat.jsonl_rollback
         |SELECT event_id, user_id, 'corrupted' AS event_type, value * 100
         |FROM $cat.jsonl_stats_table WHERE event_id % 2 = 1""".stripMargin)
    spark.sql(s"CALL $cat.rollback('jsonl_rollback', 'approved')")
    // the corrected batch lands on the RESTORED image
    spark.sql(
      s"""INSERT INTO $cat.jsonl_rollback
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 1 AND event_id % 5 = 0""".stripMargin)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM $cat.jsonl_rollback
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q256 (r9c): ROLLBACK + CHERRY-PICK — undo and selective redo
    * ([[Refs.cherryPick]], Iceberg's `cherrypick_snapshot`): two
    * batches land, main rolls back past BOTH, and cherry_pick
    * re-applies only the second — its delta vs its predecessor is
    * manifest arithmetic (append-shaped versions only; rewrites refuse
    * loudly), re-stamped against the restored base. History becomes a
    * commit DAG you can edit — drop one bad deploy from the middle of
    * a day's ingest without replaying the rest — at pure metadata
    * cost. */
  def cherryPickRedo(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_cherry")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_cherry AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 0""".stripMargin)
    spark.sql(s"CALL $cat.create_tag('jsonl_cherry', 'base')")
    val dir = java.nio.file.Paths.get(catalogRoot(d), "jsonl_cherry").toString
    // batch 1 (the one rollback will DISCARD)
    spark.sql(
      s"""INSERT INTO $cat.jsonl_cherry
         |SELECT event_id, user_id, 'discarded' AS event_type, value
         |FROM $cat.jsonl_stats_table WHERE event_id % 2 = 1 AND event_id % 3 = 0""".stripMargin)
    // batch 2 (the one cherry_pick will KEEP)
    spark.sql(
      s"""INSERT INTO $cat.jsonl_cherry
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 1 AND event_id % 3 = 1""".stripMargin)
    val vKeep = JsonlStats.currentVersion(dir)
    spark.sql(s"CALL $cat.rollback('jsonl_cherry', 'base')")
    spark.sql(s"CALL $cat.cherry_pick('jsonl_cherry', $vKeep)")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM $cat.jsonl_cherry
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q263 (r9c): STATS METADATA TABLE — `SELECT * FROM t.stats`
    * (completing the files/partitions/history/refs inspection family):
    * one row per schema column with the planner's actual view — EXACT
    * null counts from the manifest (current at every commit), ANALYZE
    * NDV/length stats with the version they were computed at, and
    * staleness as data. The oracle pins the exact legs (null counts,
    * string lengths, freshness) against their from-scratch DuckDB
    * derivations — proving the sidecar numbers ARE the dataset's, not
    * merely plausible. */
  def statsMetaTable(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_stats_meta")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_stats_meta AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    spark.sql(s"CALL $cat.analyze_table('jsonl_stats_meta')")
    spark.sql(
      s"""SELECT column AS column_name, null_count, avg_len, max_len, versions_stale
         |FROM $cat.jsonl_stats_meta.stats
         |ORDER BY column_name""".stripMargin)
  }

  /** q185 (r7): ZERO-COPY CLONE (`CALL <cat>.clone(src, dst)`) — the
    * dev/test-sandbox idiom on the manifest protocol: the clone's
    * manifest lists the source's live files as HARD LINKS (zero bytes
    * copied; metadata-bounded work, like Delta SHALLOW CLONE). The
    * immutable-file contract makes divergence free: each side's writes
    * publish new file names, and one side's VACUUM only unlinks its
    * own links. The query clones the written fixture, DELETEs a class
    * in the CLONE, and reads the clone — the source's integrity under
    * that mutation is pinned in JsonlStatsSpec. Idempotent across
    * reps: the clone is dropped and re-made each run. */
  def catalogClone(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    ensureWrittenFixture(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_clone")
    spark.sql(s"CALL $cat.clone('jsonl_stats_written', 'jsonl_clone')")
    spark.sql(s"DELETE FROM $cat.jsonl_clone WHERE event_type = 'click'")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_clone
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q265 (r10): ROW LINEAGE SCAN — the Iceberg-v3 row-lineage idea:
    * every committed row gets a table-unique `_row_id` and a
    * `_last_updated_version`, assigned by the COMMIT as pure manifest
    * arithmetic (per-file first-row-id from a monotone `next_row_id`
    * counter line + the row's physical position — zero data bytes, no
    * id column stored). The CTAS is globally ORDER BY'd and stamping
    * assigns in file-name (= range partition) order, so ids ARE the
    * sort rank — which is exactly what the oracle pins. At 100 TB the
    * id space costs one JSON int per file entry and one counter line;
    * serving `_row_id` costs the same reader state `_pos` already
    * keeps. */
  def rowLineageScan(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_lineage")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_lineage AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 3 = 0 ORDER BY event_id""".stripMargin)
    spark.sql(
      s"""SELECT event_id, _row_id AS row_id, _last_updated_version AS last_v
         |FROM $cat.jsonl_lineage ORDER BY event_id""".stripMargin)
  }

  /** q266 (r10): LINEAGE SURVIVES MAINTENANCE — the law that makes row
    * ids an identity rather than a position: after two more commits,
    * a bin-packing COMPACT (ids carried as manifest runs — the byte
    * concat moves zero data bytes) and a ZORDER re-cluster (rows
    * scatter, so ids ride THROUGH the rewrite as projected metadata
    * and land materialized in-row), every row still answers the same
    * (`_row_id`, `_last_updated_version`) it was assigned at ingest.
    * The oracle recomputes the full expected id map from the raw data
    * — five commits of history, one deterministic answer. */
  def lineageMaintenance(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_lineage_mx")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_lineage_mx AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 4 = 1 ORDER BY event_id""".stripMargin)
    spark.sql(s"INSERT INTO $cat.jsonl_lineage_mx VALUES (99000001, 1, 'tail', 1.0)")
    spark.sql(s"INSERT INTO $cat.jsonl_lineage_mx VALUES (99000002, 2, 'tail', 2.0)")
    spark.sql(s"CALL $cat.compact('jsonl_lineage_mx', ${64L * 1024 * 1024})")
    spark.sql(s"CALL $cat.zorder('jsonl_lineage_mx', 'user_id', 'value', ${64L * 1024 * 1024})")
    spark.sql(
      s"""SELECT event_id, _row_id AS row_id, _last_updated_version AS last_v
         |FROM $cat.jsonl_lineage_mx ORDER BY event_id""".stripMargin)
  }

  /** q267 (r10): LINEAGE UNDER MERGE-ON-READ DML — deletes mask
    * positions instead of rewriting files, so survivors keep their
    * ids with GAPS where rows died (exactly Iceberg/Delta semantics);
    * an equality-delete upsert retires the old row's id and assigns
    * the replacement a fresh one at the upsert's version — `_row_id`
    * is an identity of the ROW VERSION, not of the key. The oracle
    * derives every survivor's id, the replacement's fresh id (= the
    * pre-delete row count) and per-row versions from the raw data. */
  def lineageMorDml(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_lineage_mor")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_lineage_mor AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 5 = 2 ORDER BY event_id""".stripMargin)
    val dir = Paths.get(catalogRoot(d), "jsonl_lineage_mor").toString
    val m0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, m0.copy(deleteMode = Some("merge-on-read")))
    spark.sql(s"DELETE FROM $cat.jsonl_lineage_mor WHERE event_id % 10 = 7")
    val hit = spark.sql(s"SELECT min(event_id) FROM $cat.jsonl_lineage_mor")
      .head().getLong(0)
    Seq((hit, 0L, "upserted", 0.0)).toDF("event_id", "user_id", "event_type", "value")
      .write.format("graft-jsonl-stats").option("path", dir)
      .option("upsertKeys", "event_id").mode("append").save()
    spark.sql(
      s"""SELECT event_id, _row_id AS row_id, _last_updated_version AS last_v
         |FROM $cat.jsonl_lineage_mor ORDER BY event_id""".stripMargin)
  }

  /** q268 (r10): INCREMENTAL CONSUMPTION BY VERSION — the downstream
    * pattern lineage exists for: "give me every row (re)written since
    * version K" is one predicate on `_last_updated_version`, no change
    * feed plumbing. The scan PRUNES at planning time: a stamped file's
    * version is manifest metadata (`luv`, or per-run for compaction
    * products), so files wholly older than K never plan a task — on a
    * 100-TB table an incremental consumer reads only the new commits'
    * files (the Iceberg incremental-scan shape as a WHERE clause;
    * LineageSpec pins the planned-partition law). */
  def lineageIncremental(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_lineage_inc")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_lineage_inc AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 7 = 1 ORDER BY event_id""".stripMargin)
    spark.sql(s"INSERT INTO $cat.jsonl_lineage_inc VALUES (98000001, 1, 'delta', 1.0)")
    spark.sql(s"INSERT INTO $cat.jsonl_lineage_inc VALUES (98000002, 2, 'delta', 2.0)")
    spark.sql(
      s"""SELECT event_id, _row_id AS row_id, _last_updated_version AS last_v
         |FROM $cat.jsonl_lineage_inc
         |WHERE _last_updated_version > 1 ORDER BY event_id""".stripMargin)
  }

  /** q271 (r10): INCREMENTAL REPLICATION BY WATERMARK — the downstream
    * pattern the lineage tier exists for, end to end: a replica pinned
    * at version 1 (time travel), a source that takes an equality-delete
    * UPSERT and a plain append, and a sync that reads ONLY the rows
    * `_last_updated_version > 1` (file-pruned at planning — the two
    * delta files, never the base) and applies them by key
    * (anti-join ∪ changed). The oracle proves replica ≡ source after
    * the sync from the raw data alone. At 100 TB this is the nightly
    * downstream refresh costing ingest-sized IO instead of a table
    * copy, with no change-feed plumbing — three table-format tiers
    * (refs/history, lineage, MoR upserts) composing in one query. */
  def lineageReplication(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_lineage_rep")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_lineage_rep AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 6 = 1 ORDER BY event_id""".stripMargin)
    val dir = Paths.get(catalogRoot(d), "jsonl_lineage_rep").toString
    val hit = spark.sql(s"SELECT min(event_id) FROM $cat.jsonl_lineage_rep")
      .head().getLong(0)
    // v2: upsert an existing key; v3: append a new one
    Seq((hit, 0L, "upserted", 111.0)).toDF("event_id", "user_id", "event_type", "value")
      .write.format("graft-jsonl-stats").option("path", dir)
      .option("upsertKeys", "event_id").mode("append").save()
    spark.sql(s"INSERT INTO $cat.jsonl_lineage_rep VALUES (97000001, 1, 'inserted', 5.0)")
    val replica = spark.sql(
      s"SELECT event_id, event_type, value FROM $cat.jsonl_lineage_rep VERSION AS OF 1")
    val changed = spark.sql(
      s"""SELECT event_id, event_type, value FROM $cat.jsonl_lineage_rep
         |WHERE _last_updated_version > 1""".stripMargin)
    replica.join(changed.select($"event_id"), Seq("event_id"), "left_anti")
      .unionByName(changed)
      .orderBy($"event_id")
  }

  /** q272 (r10): KEEP-FIRST-INGESTED DEDUP BY LINEAGE — the dedup
    * semantics only a stable row identity enables: "for each key, keep
    * the row that ARRIVED first" is undefined under content hashing
    * (ties) and nondeterministic under file order (rewrites move
    * rows), but exact under `_row_id`, which survives compaction,
    * clustering and merge-on-read. The implementation is the engine's
    * scale idiom for first-occurrence-per-key: a map-side-combinable
    * `min(struct(_row_id, payload))` aggregate — one shuffle of one
    * struct per key, never a window sort over a content-partitioned
    * corpus (the hot-key single-reducer trap). The oracle derives
    * first-arrival from the CTAS order independently. */
  def lineageKeepFirst(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_lineage_kf")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_lineage_kf AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 0 ORDER BY event_id""".stripMargin)
    spark.table(s"$cat.jsonl_lineage_kf")
      .select($"user_id", struct(col("_row_id"), $"event_id").as("arrival"))
      .groupBy($"user_id")
      .agg(min($"arrival").as("first"))
      .select($"user_id", $"first.event_id".as("event_id"),
        $"first._row_id".as("row_id"))
      .orderBy($"user_id")
  }

  /** q275 (r11): BRANCH-HEAD ROW-LEVEL DML — write-audit-publish with
    * the missing verb: when the audit FINDS something, the fix is
    * DELETE/UPDATE **on the branch** (the Iceberg branch-DML shape —
    * the rewrite scans the branch manifest, the commit rebases the
    * branch file), and main never serves a staged, unaudited or
    * pre-fix row. The oracle recomputes the published image from raw
    * data: base rows + the good staged row + the fixed staged row,
    * never the quarantined one. At 100 TB this is the load-fixing
    * workflow with no table copy: the branch is one manifest file, the
    * COW fix rewrites only the staged file it touches. */
  def branchDmlPublish(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_branch_dml")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_branch_dml AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 8 = 3 ORDER BY event_id""".stripMargin)
    spark.sql(s"CALL $cat.create_branch('jsonl_branch_dml', 'load')")
    spark.sql(s"INSERT INTO $cat.jsonl_branch_dml.branch_load VALUES " +
      "(96000001, 1, 'good', 10.0), (96000002, 2, 'quarantine', 11.0), " +
      "(96000003, 3, 'typo', 12.0)")
    spark.sql(
      s"DELETE FROM $cat.jsonl_branch_dml.branch_load WHERE event_type = 'quarantine'")
    spark.sql(s"UPDATE $cat.jsonl_branch_dml.branch_load SET event_type = 'fixed' " +
      "WHERE event_id = 96000003")
    spark.sql(s"CALL $cat.fast_forward('jsonl_branch_dml', 'load')")
    spark.sql(
      s"""SELECT event_id, event_type, value FROM $cat.jsonl_branch_dml
         |ORDER BY event_id""".stripMargin)
  }

  /** q276 (r11): LINEAGE SURVIVES COPY-ON-WRITE DML — the r10 residual
    * closed: the COW operation requires `_row_id`/`_luv` as metadata
    * attributes, Spark's ReplaceData carries them as a metadata
    * projection beside the data rows (nullifying `_luv` on UPDATE per
    * the table's MetadataColumn flag), and the writer materializes
    * them in-row — so an UPDATE keeps the row's identity and restamps
    * only its version, a DELETE preserves every survivor exactly, and
    * the rewritten files still compose with compact + zorder. The
    * oracle derives the full (id, version) map from raw data across
    * five commits. */
  def lineageCowDml(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_lineage_cow")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_lineage_cow AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 9 = 2 ORDER BY event_id""".stripMargin)
    val hit = spark.sql(s"SELECT min(event_id) FROM $cat.jsonl_lineage_cow")
      .head().getLong(0)
    spark.sql(
      s"UPDATE $cat.jsonl_lineage_cow SET event_type = 'patched' WHERE event_id = $hit")
    spark.sql(s"DELETE FROM $cat.jsonl_lineage_cow WHERE event_id % 18 = 11")
    spark.sql(s"CALL $cat.compact('jsonl_lineage_cow', ${64L * 1024 * 1024})")
    spark.sql(s"CALL $cat.zorder('jsonl_lineage_cow', 'user_id', 'value', ${64L * 1024 * 1024})")
    spark.sql(
      s"""SELECT event_id, event_type, _row_id AS row_id,
         |  _last_updated_version AS last_v
         |FROM $cat.jsonl_lineage_cow ORDER BY event_id""".stripMargin)
  }

  /** q279 (r11): ATOMIC TWO-TABLE PUBLISH — fact and its aggregate
    * stage on branches and land via one `fast_forward_all` as ONE
    * warehouse transaction ([[Refs.Wtxn]]): a marker-committed
    * roll-forward that every catalog access completes, so no
    * catalog-routed reader ever sees fact new / agg old (the torn
    * state two independent publishes can crash into). The readout
    * joins the published agg against a recompute from the published
    * fact — exact agreement IS the atomicity witness — and the oracle
    * recomputes both sides from raw data. */
  def atomicPairPublish(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_wtxn_fact")
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_wtxn_agg")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_wtxn_fact AS
         |SELECT event_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 10 = 4 ORDER BY event_id""".stripMargin)
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_wtxn_agg AS
         |SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_wtxn_fact GROUP BY event_type""".stripMargin)
    spark.sql(s"CALL $cat.create_branch('jsonl_wtxn_fact', 'load')")
    spark.sql(s"CALL $cat.create_branch('jsonl_wtxn_agg', 'load')")
    spark.sql(s"INSERT INTO $cat.jsonl_wtxn_fact.branch_load VALUES " +
      "(96100001, 'staged', 10.0), (96100002, 'staged', 20.0)")
    spark.sql(s"INSERT INTO $cat.jsonl_wtxn_agg.branch_load VALUES ('staged', 2, 30.0)")
    spark.sql(s"CALL $cat.fast_forward_all('jsonl_wtxn_fact:load,jsonl_wtxn_agg:load')")
    spark.sql(
      s"""SELECT a.event_type, a.n, a.value_sum,
         |  f.n AS fact_n, f.value_sum AS fact_sum
         |FROM $cat.jsonl_wtxn_agg a
         |JOIN (SELECT event_type, count(*) AS n,
         |        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |      FROM $cat.jsonl_wtxn_fact GROUP BY event_type) f
         |  ON a.event_type = f.event_type
         |ORDER BY a.event_type""".stripMargin)
  }

  /** q141: CONSISTENT TWO-TABLE SNAPSHOT — two gold rollups of one
    * feed, per type ([[graft.gold.Incremental.toGoldGrain]]) and per
    * (event_date, user_id), in one build-once directory that is their
    * own catalog root (so the pair's transaction marker lives with the
    * pair). Both start with the "hist" slice (day-of-month > 7) at v1;
    * the day ≤ 7 "b1" slice stages on a `load` branch of each and lands
    * through ONE `fast_forward_all` (q279's warehouse transaction), so
    * no catalog reader sees one rollup at b1 and the other at hist. The
    * query joins both heads per day; `consistent` asserts the two
    * rollups account for the same events, and the oracle recomputes
    * both from the raw feed, so it must hold on every day
    * (IncrementalSpec pins the torn-pair arms). */
  def multiTableSnapshot(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
    val rollups = Seq[(String, DataFrame => DataFrame)](
      "bytype" -> graft.gold.Incremental.toGoldGrain,
      "byuser" -> (_.groupBy(to_date($"ts").as("event_date"), $"user_id")
        .agg(count(lit(1)).as("n_events"))))
    val root = Landing.ensureBuilt(Landing.fixtureDir(d, "jsonl_gold_pair")) { out =>
      val cat = catalogAt(spark, out)
      rollups.foreach { case (t, grain) =>
        Files.createDirectories(Paths.get(out, t))
        grain(ev.filter(dayofmonth($"ts") > 7)).write.format("graft-jsonl-stats")
          .option("path", s"$out/$t").mode("overwrite").save()
        spark.sql(s"CALL $cat.create_branch('$t', 'load')")
        grain(ev.filter(dayofmonth($"ts") <= 7)).writeTo(s"$cat.$t.branch_load").append()
      }
      spark.sql(s"CALL $cat.fast_forward_all('bytype:load,byuser:load')")
    }
    val cat = catalogAt(spark, root)
    val byType = spark.table(s"$cat.bytype").groupBy($"event_date")
      .agg(sum($"n_events").as("n_events_types"),
        sum($"total_dec").cast("double").as("revenue"))
    val byUser = spark.table(s"$cat.byuser").groupBy($"event_date")
      .agg(sum($"n_events").as("n_events_users"),
        countDistinct($"user_id").as("n_users"))
    byType.join(byUser, "event_date")
      .select($"event_date", $"n_events_types", $"n_events_users",
        ($"n_events_types" === $"n_events_users").as("consistent"),
        $"revenue", $"n_users")
      .orderBy($"event_date")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q179_time_travel" -> timeTravel,
    "q126_gold_time_travel" -> goldTimeTravel,
    "q185_catalog_clone" -> catalogClone,
    "q245_history_compaction" -> historyCompaction,
    "q247_tag_time_travel" -> tagTimeTravel,
    "q248_wap_publish" -> wapPublish,
    "q249_branch_isolation" -> branchIsolation,
    "q250_partitions_meta" -> partitionsMetaTable,
    "q251_files_refs_meta" -> filesRefsMetaTable,
    "q255_rollback" -> rollbackRestore,
    "q256_cherry_pick" -> cherryPickRedo,
    "q263_stats_meta_table" -> statsMetaTable,
    "q265_row_lineage_scan" -> rowLineageScan,
    "q266_lineage_maintenance" -> lineageMaintenance,
    "q267_lineage_mor_dml" -> lineageMorDml,
    "q268_lineage_incremental" -> lineageIncremental,
    "q271_lineage_replication" -> lineageReplication,
    "q272_lineage_keep_first" -> lineageKeepFirst,
    "q275_branch_dml_publish" -> branchDmlPublish,
    "q276_lineage_cow_dml" -> lineageCowDml,
    "q279_atomic_pair_publish" -> atomicPairPublish,
    "q141_multi_table_snapshot" -> multiTableSnapshot,
  )

  val oracles = Map(
    "q179_time_travel" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE event_type <> 'click'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q126_gold_time_travel" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE date_part('day', CAST(ts AS TIMESTAMP)) > 7
        |GROUP BY event_date, event_type
        |ORDER BY event_date, event_type""".stripMargin,
    "q185_catalog_clone" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE event_type <> 'click'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q255_rollback" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM (
        |  SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_id, event_type, value FROM events
        |  WHERE event_id % 2 = 1 AND event_id % 5 = 0) AS t
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q256_cherry_pick" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM (
        |  SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_id, event_type, value FROM events
        |  WHERE event_id % 2 = 1 AND event_id % 3 = 1) AS t
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q263_stats_meta_table" ->
      """SELECT col AS column_name, null_count, avg_len, max_len, versions_stale FROM (
        |  SELECT 'event_id' AS col, CAST(count(*) - count(event_id) AS BIGINT) AS null_count,
        |    CAST(NULL AS BIGINT) AS avg_len, CAST(NULL AS BIGINT) AS max_len,
        |    0 AS versions_stale FROM events
        |  UNION ALL
        |  SELECT 'user_id', CAST(count(*) - count(user_id) AS BIGINT),
        |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 0 FROM events
        |  UNION ALL
        |  SELECT 'event_type', CAST(count(*) - count(event_type) AS BIGINT),
        |    CAST(CEIL(AVG(LENGTH(event_type))) AS BIGINT),
        |    CAST(MAX(LENGTH(event_type)) AS BIGINT), 0 FROM events
        |  UNION ALL
        |  SELECT 'value', CAST(count(*) - count(value) AS BIGINT),
        |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 0 FROM events
        |) AS t ORDER BY column_name""".stripMargin,
    "q265_row_lineage_scan" ->
      """SELECT event_id,
        |  CAST(row_number() OVER (ORDER BY event_id) - 1 AS BIGINT) AS row_id,
        |  CAST(1 AS BIGINT) AS last_v
        |FROM events WHERE event_id % 3 = 0 ORDER BY event_id""".stripMargin,
    "q266_lineage_maintenance" ->
      """WITH base AS (
        |  SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS rid
        |  FROM events WHERE event_id % 4 = 1)
        |SELECT event_id, CAST(row_id AS BIGINT) AS row_id,
        |  CAST(last_v AS BIGINT) AS last_v FROM (
        |  SELECT event_id, rid AS row_id, 1 AS last_v FROM base
        |  UNION ALL SELECT 99000001, (SELECT count(*) FROM base), 2
        |  UNION ALL SELECT 99000002, (SELECT count(*) FROM base) + 1, 3
        |) AS t ORDER BY event_id""".stripMargin,
    "q267_lineage_mor_dml" ->
      """WITH base AS (
        |  SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS rid
        |  FROM events WHERE event_id % 5 = 2),
        |surv AS (SELECT * FROM base WHERE event_id % 10 <> 7)
        |SELECT event_id,
        |  CAST(CASE WHEN event_id = (SELECT min(event_id) FROM surv)
        |    THEN (SELECT count(*) FROM base) ELSE rid END AS BIGINT) AS row_id,
        |  CAST(CASE WHEN event_id = (SELECT min(event_id) FROM surv)
        |    THEN 3 ELSE 1 END AS BIGINT) AS last_v
        |FROM surv ORDER BY event_id""".stripMargin,
    "q268_lineage_incremental" ->
      """SELECT event_id, CAST(row_id AS BIGINT) AS row_id,
        |  CAST(last_v AS BIGINT) AS last_v FROM (
        |  SELECT 98000001 AS event_id,
        |    (SELECT count(*) FROM events WHERE event_id % 7 = 1) AS row_id, 2 AS last_v
        |  UNION ALL SELECT 98000002,
        |    (SELECT count(*) FROM events WHERE event_id % 7 = 1) + 1, 3
        |) AS t ORDER BY event_id""".stripMargin,
    "q272_lineage_keep_first" ->
      """WITH base AS (
        |  SELECT event_id, user_id,
        |    row_number() OVER (ORDER BY event_id) - 1 AS rid
        |  FROM events WHERE event_id % 2 = 0),
        |firsts AS (SELECT user_id, min(event_id) AS event_id FROM base GROUP BY user_id)
        |SELECT b.user_id, b.event_id, CAST(b.rid AS BIGINT) AS row_id
        |FROM base b JOIN firsts f ON b.user_id = f.user_id AND b.event_id = f.event_id
        |ORDER BY b.user_id""".stripMargin,
    "q271_lineage_replication" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value FROM events WHERE event_id % 6 = 1)
        |SELECT event_id, event_type, value FROM (
        |  SELECT event_id, event_type, value FROM base
        |  WHERE event_id <> (SELECT min(event_id) FROM base)
        |  UNION ALL SELECT (SELECT min(event_id) FROM base), 'upserted', 111.0
        |  UNION ALL SELECT 97000001, 'inserted', 5.0
        |) AS t ORDER BY event_id""".stripMargin,
    "q279_atomic_pair_publish" ->
      """WITH fact AS (
        |  SELECT event_type, value FROM events WHERE event_id % 10 = 4
        |  UNION ALL SELECT 'staged', 10.0
        |  UNION ALL SELECT 'staged', 20.0),
        |agg AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |  FROM fact GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n, value_sum,
        |  CAST(n AS BIGINT) AS fact_n, value_sum AS fact_sum
        |FROM agg ORDER BY event_type""".stripMargin,
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
    "q276_lineage_cow_dml" ->
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    row_number() OVER (ORDER BY event_id) - 1 AS rid
        |  FROM events WHERE event_id % 9 = 2)
        |SELECT event_id,
        |  CASE WHEN event_id = (SELECT min(event_id) FROM base)
        |    THEN 'patched' ELSE event_type END AS event_type,
        |  CAST(rid AS BIGINT) AS row_id,
        |  CAST(CASE WHEN event_id = (SELECT min(event_id) FROM base)
        |    THEN 2 ELSE 1 END AS BIGINT) AS last_v
        |FROM base WHERE event_id % 18 <> 11
        |ORDER BY event_id""".stripMargin,
    "q275_branch_dml_publish" ->
      """SELECT event_id, event_type, value FROM (
        |  SELECT event_id, event_type, value FROM events WHERE event_id % 8 = 3
        |  UNION ALL SELECT 96000001, 'good', 10.0
        |  UNION ALL SELECT 96000003, 'fixed', 12.0
        |) AS t ORDER BY event_id""".stripMargin,
    "q247_tag_time_travel" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE event_id % 2 = 0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q248_wap_publish" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q249_branch_isolation" ->
      """SELECT side, n, value_sum FROM (
        |  SELECT 'branch' AS side, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |  FROM events
        |  UNION ALL
        |  SELECT 'main' AS side, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |  FROM events WHERE event_id % 2 = 0) AS u
        |ORDER BY side""".stripMargin,
    "q250_partitions_meta" ->
      """SELECT event_type, count(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q251_files_refs_meta" ->
      """SELECT count(DISTINCT event_type) AS n_keys, count(*) AS n_rows,
        |  CAST(2 AS BIGINT) AS n_refs, count(*) AS tag_rows
        |FROM events""".stripMargin,
    "q245_history_compaction" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE event_id % 24 <= 12
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
  )
}

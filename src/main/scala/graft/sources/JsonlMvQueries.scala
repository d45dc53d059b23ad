package graft.sources

import graft.QueryModule
import graft.ingest.{Landing, Tables}
import graft.util.Det._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import JsonlFixtures._

/** The graft-jsonl-stats connector's materialized-view and change-feed
  * queries: the change data feed (batch and streaming), persistent views,
  * the catalog MV lifecycle with its incremental refresh shapes
  * (aggregate, MIN/MAX, join, AVG, COUNT DISTINCT, outer join, HAVING,
  * view-backed, continuous) and the transparent rewrite onto them.
  * Fixtures live in [[JsonlFixtures]].
  */
object JsonlMvQueries extends QueryModule {

  /** q181 (r7): CHANGE DATA FEED between two committed generations
    * ([[ChangeFeed.tableChanges]]) — the Delta `table_changes` shape on
    * the manifest protocol. The fixture applies one mutation of each
    * kind to its own table (DELETE a class, UPDATE a class to a
    * constant, MERGE-insert per-type adjustment rows under an `adj_`
    * type no predicate touches — that prefix plus the NOT-MATCHED-only
    * MERGE keeps every mutation idempotent across reps), then asks for
    * the row-level delta from version 1 to the live generation. The
    * file-set diff is manifest arithmetic; the row join runs over only
    * the changed files, and copy-on-write re-emissions cancel (a
    * rewritten file's untouched rows have equal before/after images).
    * Adjustment ids are `-dense_rank(event_type)` — deterministic AND
    * oracle-expressible, unlike a hash. */
  def changeFeed(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    val dir = ensureMutableTable(spark, d, "jsonl_mut_cdf")
    spark.sql(s"DELETE FROM $cat.jsonl_mut_cdf WHERE event_type = 'click'")
    spark.sql(s"UPDATE $cat.jsonl_mut_cdf SET value = 0.0 WHERE event_type = 'error'")
    Tables.events(spark, d).groupBy($"event_type")
      .agg(count(lit(1)).cast("double").as("value"))
      .select(
        (-dense_rank().over(org.apache.spark.sql.expressions.Window.orderBy($"event_type")))
          .cast("long").as("event_id"),
        lit(0L).as("user_id"),
        concat(lit("adj_"), $"event_type").as("event_type"),
        $"value")
      .createOrReplaceTempView("cdf_adjustments")
    spark.sql(
      s"""MERGE INTO $cat.jsonl_mut_cdf t
         |USING cdf_adjustments s
         |ON t.event_id = s.event_id
         |WHEN NOT MATCHED THEN INSERT (event_id, user_id, event_type, value)
         |  VALUES (s.event_id, s.user_id, s.event_type, s.value)""".stripMargin)
    val current = JsonlStats.currentVersion(dir)
    ChangeFeed.tableChanges(spark, dir, 1, current, Seq("event_id"))
      .select($"change_type", $"event_id",
        coalesce($"after_event_type", $"before_event_type").as("event_type"),
        $"before_value", $"after_value")
      .orderBy($"change_type", $"event_id")
  }

  /** q254 (r9b): CDF × EQUALITY DELETES — the change feed stays exact
    * across an upsert: file identity includes the APPLICABLE delete
    * set, the derived diff manifests carry each version's eqdel lines,
    * and the image-cancelling join surfaces the retraction as row-level
    * deletes and the new keys as inserts — untouched users cancel. The
    * composition a CDC consumer needs: upsert tables still produce
    * consumable deltas. */
  def upsertChangeFeed(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = Landing.fixtureDir(d, "jsonl_eq_cdf")
    Files.createDirectories(Paths.get(dir))
    val ev = Tables.events(spark, d)
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.repartitionByRange(buckets, $"value")
      .write.format("graft-jsonl-stats").option("path", dir)
      .mode("overwrite").save()
    ev.filter($"event_type" === "error" && $"user_id" % 3 === 0)
      .groupBy($"user_id")
      .agg(count(lit(1)).cast("double").as("value"))
      .select((-$"user_id" - 1).as("event_id"), $"user_id",
        lit("error_summary").as("event_type"), $"value")
      .write.format("graft-jsonl-stats").option("path", dir)
      .option("upsertKeys", "user_id").mode("append").save()
    val v = JsonlStats.currentVersion(dir)
    ChangeFeed.tableChanges(spark, dir, v - 1, v, Seq("event_id"))
      .groupBy($"change_type")
      .agg(count(lit(1)).as("n"),
        sum($"event_id").cast("long").as("id_sum"))
      .orderBy($"change_type")
  }

  /** q234 (r8): STREAMING CHANGE DATA FEED — q181's batch
    * `tableChanges` as a structured-streaming SOURCE
    * ([[JsonlCdfStream]]): offsets are table VERSIONS, each
    * micro-batch emits the row images + `_change_type` the commits in
    * its window produced — inserts from files added (masked by their
    * window-end DVs, net semantics) and deletes from DV growth read
    * with the mask INVERTED; copy-on-write windows refuse loudly
    * (their delta needs batch tableChanges' image-cancelling join).
    * The registered run drives three checkpointed AvailableNow drains
    * through a parquet sink — append, append, merge-on-read DELETE —
    * and aggregates the accumulated change rows; the oracle recomputes
    * the same inserts (the whole feed) and deletes (the masked slice)
    * from parquet, so hash equality pins BOTH legs' exactness and the
    * exactly-once version offsets. It is also the trigger
    * [[graft.streaming.MvAutoRefresh]] refreshes catalog MVs from (q235,
    * q306): at 100 TB the per-batch read is the delta's files, never
    * the table. */
  def cdfStreamDrain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    val dir = Landing.fixtureDir(d, "jsonl_cdf_drain")
    val out = Landing.fixtureDir(d, "jsonl_cdf_drain_out")
    val ckpt = Landing.fixtureDir(d, "jsonl_cdf_drain_ckpt")
    Seq(dir, out, ckpt).foreach(graft.util.Fs.deleteRecursively)
    Files.createDirectories(Paths.get(dir))
    val ev = Tables.events(spark, d)
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.filter($"event_type" =!= "click").repartitionByRange(3, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val m0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, m0.statsCol.get, m0.partitionCol, m0.schema.get,
      m0.bloomCol, deleteMode = Some("merge-on-read"))
    def drain(): Unit = {
      val q = spark.readStream.format("graft-jsonl-stats")
        .option("path", dir).option("readChangeFeed", "true").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    ev.filter($"event_type" === "click").repartitionByRange(2, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("append").save()
    drain()
    val table = Paths.get(dir).getFileName.toString
    spark.sql(s"DELETE FROM $cat.$table WHERE value < 100.0")
    drain()
    spark.read.parquet(out)
      .groupBy(col(JsonlCdfStream.ChangeTypeCol).as("change_type"), $"event_type")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("value_sum"))
      .orderBy($"change_type", $"event_type")
  }

  /** q289 (r12b): PERSISTENT SQL VIEWS — the warehouse's curated
    * slices as durable names. Spark 4.1 ships the V2 `ViewCatalog`
    * interface with zero analyzer wiring, so the engine supplies both
    * halves: the catalog stores definitions as `_views/<name>.json`
    * sidecars ([[GraftViews]]) and an injected resolution rule
    * ([[graft.plans.ResolveGraftViews]]) macro-expands a SELECT over
    * one — which means every scan capability (filter pushdown, file
    * skipping, column pruning) applies THROUGH the view unchanged.
    * This query exercises the full lifecycle a SQL user sees: plain
    * `CREATE OR REPLACE VIEW` DDL (r13 —
    * [[graft.plans.GraftViewDdlParser]] routes the parsed statements
    * Spark 4.1 cannot to the catalog's view methods; the body is
    * analyzed at definition time and unresolvable bodies refuse
    * loudly), a NESTED view over the first, and an aggregate through
    * both layers whose predicate still reaches the manifest (ViewsSpec
    * pins planned-files-through-view == direct). The oracle recomputes
    * the composed slice from raw parquet — a view is a macro, so
    * composition must equal inlining by law. */
  def persistentViewSlice(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    // bodies are written fully qualified: the defining "session" here
    // has spark_catalog current, exactly a mixed-catalog user's shape
    spark.sql(s"CREATE OR REPLACE VIEW $cat.v_purchases AS " +
      s"SELECT event_id, user_id, value FROM $cat.jsonl_stats_table " +
      "WHERE event_type = 'purchase'")
    spark.sql(s"CREATE OR REPLACE VIEW $cat.v_purch_hot AS " +
      s"SELECT event_id % 8 AS b, value FROM $cat.v_purchases WHERE value > 50")
    spark.sql(
      s"""SELECT b, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.v_purch_hot
         |GROUP BY b ORDER BY b""".stripMargin)
  }

  /** q291 (r12b): MATERIALIZED VIEWS with a version-based staleness
    * contract — correct in BOTH states by construction. A materialized
    * view is the stored view plus an engine-managed backing table and
    * the source manifests' versions recorded at refresh: a FRESH read
    * (every source still at its recorded version) serves the backing
    * table — the precomputed aggregate, zero recomputation; a STALE
    * read expands the body exactly like a plain view — slower, never
    * wrong. This query pins both paths to the same oracle: define the
    * MV, append to the source (making it stale), read through the MV
    * (stale path — must see the appended rows), refresh (atomic RTAS),
    * read again (fresh path — backing table scan), and return both
    * readouts tagged. The oracle computes the post-append aggregate
    * once and expects it twice — any divergence between the
    * precomputed and recomputed derivations fails the hash. At 100 TB
    * this is the daily-dashboard contract: the expensive aggregate is
    * paid at refresh, reads between refreshes are metadata-cheap, and
    * a late source commit degrades to correctness, not to lies. */
  def materializedViewLifecycle(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.mv_src")
    Tables.events(spark, d).select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("mv_src_in")
    spark.sql(
      s"""CREATE TABLE $cat.mv_src AS
         |SELECT event_type, value FROM mv_src_in WHERE event_id % 3 = 0""".stripMargin)
    spark.sql(s"CALL $cat.create_materialized_view('mv_rev', " +
      s"'SELECT event_type, count(*) AS n, " +
      s"CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum " +
      s"FROM $cat.mv_src GROUP BY event_type', or_replace => true)")
    // the append moves mv_src's version past the recorded one: STALE
    spark.sql(
      s"INSERT INTO $cat.mv_src SELECT event_type, value FROM mv_src_in WHERE event_id % 3 = 1")
    // analyzed NOW (stale -> body expansion); executes post-refresh but
    // the plan is pinned at analysis, so this IS the recompute path
    val stale = spark.sql(
      s"SELECT 'stale' AS phase, event_type, n, value_sum FROM $cat.mv_rev")
    spark.sql(s"CALL $cat.refresh_materialized_view('mv_rev')")
    val fresh = spark.sql(
      s"SELECT 'fresh' AS phase, event_type, n, value_sum FROM $cat.mv_rev")
    stale.unionAll(fresh).orderBy(col("phase"), col("event_type"))
  }

  /** q293 (r13): INCREMENTAL materialized-view refresh from the change
    * feed. `refresh_materialized_view` used to be a full RTAS; for a
    * single-source distributive body (SUM over DECIMAL/LONG, COUNT at
    * the stored grain) it now applies the SIGNED delta of
    * (recorded version, head] to the backing table with one
    * maintenance MERGE — removed file-identities contribute their rows
    * at -1, added ones at +1, copy-on-write noise cancels inside the
    * signed sums, and hidden graft_ivm_* state columns (raw decimal
    * sums + non-null counters + a liveness COUNT(*)) make the merge
    * bit-exact, including NULL-sum restoration and group death. The
    * readout UNIONS a literal 'mode' row carrying which path ran, so
    * the ORACLE ITSELF pins the incremental path — a silent fallback
    * to RTAS would flip that cell and fail the hash. The lifecycle:
    * seed a third of the events feed, record the MV, append another
    * third, row-level-DELETE every fifth event id, refresh
    * (incrementally), read through the fresh path. The oracle
    * recomputes the post-churn aggregate from raw parquet — delta
    * application must equal recomputation exactly. At 100 TB this is
    * the nightly-refresh contract: cost proportional to the DELTA, not
    * the source (SCALING.md's MvSampleBench refresh law). */
  def incrementalMvRefresh(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.mvi_src")
    Tables.events(spark, d).select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("mvi_src_in")
    spark.sql(
      s"""CREATE TABLE $cat.mvi_src AS
         |SELECT event_id, event_type, value FROM mvi_src_in WHERE event_id % 3 = 0""".stripMargin)
    spark.sql(s"CALL $cat.create_materialized_view('mv_inc', " +
      s"'SELECT event_type, count(*) AS n, " +
      s"CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum " +
      s"FROM $cat.mvi_src GROUP BY event_type', or_replace => true)")
    // the churn window: an append commit and a row-level DELETE commit
    spark.sql(s"INSERT INTO $cat.mvi_src " +
      "SELECT event_id, event_type, value FROM mvi_src_in WHERE event_id % 3 = 1")
    spark.sql(s"DELETE FROM $cat.mvi_src WHERE event_id % 5 = 0")
    markerRow(spark, "event_type", "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum")(
      "mode", refreshMv(spark, cat, "mv_inc"))
      .unionAll(spark.sql(
        s"SELECT 'rows' AS phase, event_type, n, value_sum FROM $cat.mv_inc"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** q210: the dashboard aggregate WRITTEN AGAINST THE RAW FEED — per
    * event_type counts and revenue — transparently answered from the
    * (day × type) materialized view: the query grain is coarser than
    * the MV's, so the rewrite re-aggregates the backing, preserving
    * output attribute ids so nothing upstream notices. The oracle
    * recomputes from the raw parquet — rewrite soundness IS the check,
    * re-proven every round. Plan substitution (only the `_mv_` backing
    * scanned) and the declining shapes (countDistinct, a measure
    * filter, a global aggregate) are pinned in PlanShapeSpec. */
  def mvRewriteAggregate(spark: SparkSession, d: String): DataFrame =
    mvRewriteEvents(spark, d).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), msum(col("value")).as("revenue"))
      .orderBy(col("event_type"))

  /** q228 (r8): the REAL dashboard hit pattern — a date-range +
    * type-exclusion filter over the raw feed, grouped by day. The
    * filter is a function of the MV's grains only, so it commutes with
    * the MV's merge: the rewrite substitutes the backing scan AND
    * carries the translated predicate onto it (the date range — which
    * reaches the raw plan as midnight cuts of `ts` — over the backing's
    * date column, the exclusion over `event_type`), so at 100 TB a
    * raw-feed dashboard query reads a few day-sized MV files instead of
    * the fact table. A sub-day `ts` cut or a `value` predicate still
    * declines — both arms pinned in PlanShapeSpec; the oracle
    * recomputes from raw parquet. */
  def mvRewriteGrainFiltered(spark: SparkSession, d: String): DataFrame = {
    val day = to_date(col("ts"))
    mvRewriteEvents(spark, d)
      .filter(day >= lit("2024-01-08") && day <= lit("2024-01-21") &&
        col("event_type") =!= "view")
      .groupBy(day.as("event_date"))
      .agg(count(lit(1)).as("n_events"), msum(col("value")).as("revenue"))
      .orderBy(col("event_date"))
  }

  /** q294 (r13): TRANSPARENT aggregate rewrite onto a covering catalog
    * MV ([[graft.plans.CatalogMvRewrite]]) — q291 gave catalog MVs
    * read-through-the-name; this query (like q210/q228 on a build-once
    * fixture) writes a dashboard aggregate AGAINST THE RAW
    * TABLE (with a grain predicate riding) and the optimizer routes it
    * to the MV's backing table because a FRESH covering MV exists —
    * grain covered, measures derivable from the hidden graft_ivm_*
    * state (raw decimal sums re-aggregate bit-exactly), the predicate a
    * function of a bare-attribute grain column (pushed to the backing
    * scan, where file pruning applies to the small table). The readout
    * UNIONS a literal 'plan' row that says whether the executed plan
    * scanned the backing — the ORACLE pins 'mv-routed', so a silent
    * decline fails the hash; the data rows are recomputed by DuckDB
    * from raw parquet, so rewrite soundness is re-proven every round.
    * At 100 TB: the fact-table dashboard query reads a type-sized MV,
    * and nobody had to rewrite their SQL. */
  def transparentMvRewrite(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.mvr_src")
    Tables.events(spark, d).select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("mvr_src_in")
    spark.sql(
      s"""CREATE TABLE $cat.mvr_src AS
         |SELECT event_type, value FROM mvr_src_in WHERE event_id % 2 = 0""".stripMargin)
    spark.sql(s"CALL $cat.create_materialized_view('mv_cover', " +
      s"'SELECT event_type, count(*) AS n, " +
      s"CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum " +
      s"FROM $cat.mvr_src GROUP BY event_type', or_replace => true)")
    val agg = spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.mvr_src WHERE event_type <> 'view'
         |GROUP BY event_type""".stripMargin)
    markerRow(spark, "event_type", "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum")(
      "plan", if (mvRouted(agg, "mv_cover")) "mv-routed" else "raw-scan")
      .unionAll(agg.selectExpr("'rows' AS phase", "event_type", "n", "value_sum"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** q296 (r13): TABLESAMPLE THROUGH A VIEW — the sample/view
    * composition law as an oracle-gated query. A graft view is a macro
    * ([[graft.plans.ResolveGraftViews]]), so `FROM <view> TABLESAMPLE
    * (p) REPEATABLE (s)` must behave exactly like sampling the
    * expansion: the view's output-contract projection collapses, the
    * declared (`sampleMode='system'`) block sample pushes to the scan,
    * and the kept files are the SAME deterministic pkey-anchored band
    * q290 pins directly — the DuckDB oracle recomputes the exact kept
    * shard universe from the published LCG, so a view that silently
    * degraded the sample to row-Bernoulli (different kept set) fails
    * the hash. ViewsSpec pins the planned-file equality and both
    * predicate-composition shapes. At 100 TB: the curated-slice NAME
    * and the 1%-of-files sampling contract compose — analysts sample
    * the view, the scan reads the band. */
  def sampledViewScan(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.events_vsamp")
    Tables.events(spark, d)
      .selectExpr("event_id", "value", "CAST(user_id % 16 AS STRING) AS shard")
      .createOrReplaceTempView("vsamp_src")
    spark.sql(
      s"""CREATE TABLE $cat.events_vsamp USING `graft-jsonl-stats`
         |PARTITIONED BY (shard)
         |AS SELECT * FROM vsamp_src ORDER BY shard, event_id""".stripMargin)
    spark.sql(s"ALTER TABLE $cat.events_vsamp " +
      "SET TBLPROPERTIES ('sampleMode' = 'system')")
    spark.sql(s"CREATE OR REPLACE VIEW $cat.v_evs AS " +
      s"SELECT shard, value FROM $cat.events_vsamp")
    spark.sql(
      s"""SELECT shard, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.v_evs TABLESAMPLE (37.5 PERCENT) REPEATABLE (42)
         |GROUP BY shard ORDER BY shard""".stripMargin)
  }

  /** q297 (r13): COARSER-GRAIN transparent rewrite — the other half of
    * the covering proof q294 pins at equal grain. The MV is stored at
    * (event_type × user-bucket) grain; the dashboard query GROUPS BY
    * event_type ONLY, and [[graft.plans.CatalogMvRewrite]] proves the
    * query grain is a SUBSET of the MV's and re-aggregates the backing:
    * counts sum the per-cell liveness, sums add the per-cell RAW
    * DECIMAL state (then re-apply the body's cast template), so the
    * coarser readout is bit-identical to the raw recompute even though
    * every output row merges 8 MV cells. The 'plan' row pins the route
    * in the oracle; DuckDB recomputes from the raw columns. At 100 TB
    * this is why ONE (day × type × bucket)-grain MV serves the whole
    * dashboard family — every coarser cut re-aggregates the small
    * table. */
  def coarserGrainMvRewrite(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.mvc_src")
    Tables.events(spark, d)
      .selectExpr("event_type", "CAST(user_id % 8 AS STRING) AS ub", "value")
      .createOrReplaceTempView("mvc_src_in")
    spark.sql(s"CREATE TABLE $cat.mvc_src AS SELECT * FROM mvc_src_in")
    spark.sql(s"CALL $cat.create_materialized_view('mv_grain', " +
      s"'SELECT event_type, ub, count(*) AS n, " +
      s"CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum " +
      s"FROM $cat.mvc_src GROUP BY event_type, ub', or_replace => true)")
    val agg = spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.mvc_src GROUP BY event_type""".stripMargin)
    markerRow(spark, "event_type", "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum")(
      "plan", if (mvRouted(agg, "mv_grain")) "mv-routed" else "raw-scan")
      .unionAll(agg.selectExpr("'rows' AS phase", "event_type", "n", "value_sum"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** q298 (r13b, repair-upgraded r14): MIN/MAX incremental refresh.
    * Extrema are exact under any merge over INSERT-ONLY windows
    * (`least`/`greatest` skip nulls exactly like SQL MIN/MAX), but a
    * deletion can RETRACT a stored extremum, which no merge of extrema
    * can express. r13 rebuilt on any removed file identity; r14
    * repairs GROUP-SCOPED instead: sums/counts/liveness still merge
    * from the signed delta, while the MIN/MAX columns of exactly the
    * groups whose kept extremum a deleted row held recompute from the
    * source at head — a grain-predicate scan the connector prunes —
    * and ride into the same maintenance MERGE as extra delta columns
    * (this window's DELETE removes such a row at every scale). This
    * lifecycle pins BOTH modes in the ORACLE: an append window
    * refreshes 'incremental', a row-level DELETE window refreshes
    * 'incremental-repair', and the final rows must equal DuckDB's
    * recompute either way. At 100 TB: the rare corrective delete pays
    * a scan of the touched groups' rows, never the year's fact. */
  def minMaxMvRefresh(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.mvm_src")
    Tables.events(spark, d).select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("mvm_src_in")
    spark.sql(
      s"""CREATE TABLE $cat.mvm_src AS
         |SELECT event_id, event_type, value FROM mvm_src_in WHERE event_id % 2 = 0""".stripMargin)
    spark.sql(s"CALL $cat.create_materialized_view('mv_minmax', " +
      s"'SELECT event_type, min(value) AS mn, max(value) AS mx, count(*) AS n " +
      s"FROM $cat.mvm_src GROUP BY event_type', or_replace => true)")
    spark.sql(s"INSERT INTO $cat.mvm_src " +
      "SELECT event_id, event_type, value FROM mvm_src_in WHERE event_id % 2 = 1")
    val mode1 = refreshMv(spark, cat, "mv_minmax")
    spark.sql(s"DELETE FROM $cat.mvm_src WHERE event_id % 7 = 0")
    val mode2 = refreshMv(spark, cat, "mv_minmax")
    spark.sql(s"SELECT 'mode-append' AS phase, '$mode1' AS event_type, " +
      "CAST(0.0 AS DOUBLE) AS mn, CAST(0.0 AS DOUBLE) AS mx, CAST(0 AS BIGINT) AS n")
      .unionAll(spark.sql(s"SELECT 'mode-delete' AS phase, '$mode2' AS event_type, " +
        "CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0 AS BIGINT)"))
      .unionAll(spark.sql(
        s"SELECT 'rows' AS phase, event_type, mn, mx, n FROM $cat.mv_minmax"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** q201: INCREMENTAL VIEW MAINTENANCE for a JOIN view — the delta-join
    * algebra (Blakeley 1986)
    *
    *   Δ(A ⋈ B) = ΔA ⋈ B₀  ∪  A₀ ⋈ ΔB  ∪  ΔA ⋈ ΔB
    *
    * served by the catalog-MV tier: BOTH deltas land in one window and
    * ONE refresh consumes them — the two-mover telescoping (ΔA⋈B_head
    * + A_recorded⋈ΔB, see q299) covers the cross term. The registered
    * read is the MV; the oracle is the monolithic recompute, so
    * "incrementally maintained ≡ re-joined" is re-proven every round
    * (c_nationkey back at the oracle's INT). */
  def joinIvm(spark: SparkSession, d: String): DataFrame = {
    val (cat, _, _) = ensureJoinMv(spark, d, "jmv", Seq(Seq("jmv_orders", "jmv_customer")))
    spark.table(s"$cat.mv_jmv")
      .select(col("c_nationkey").cast("int").as("c_nationkey"), col("n_orders"), col("revenue"))
      .orderBy(col("c_nationkey"))
  }

  /** q229 (r8): the TABLE-FORMAT tier FEEDING the IVM tier — q201's
    * join MV with the deltas arriving as separate commits: a fact
    * window (orders v1→v2) and then a dim window (customer v1→v2), each
    * refreshed incrementally from the change feed of its window — a
    * scan of exactly the files that entered the manifest
    * (IncrementalSpec pins the only-changed-files law on both tables).
    * The oracle is the monolithic recompute with the connector's BIGINT
    * nation key, so "CDF-sourced refresh ≡ full re-join" is re-proven
    * every round. */
  def cdfJoinIvm(spark: SparkSession, d: String): DataFrame = {
    val (cat, _, _) = ensureJoinMv(spark, d, "jcdf", Seq(Seq("jcdf_orders"), Seq("jcdf_customer")))
    spark.table(s"$cat.mv_jcdf")
      .select(col("c_nationkey"), col("n_orders"), col("revenue"))
      .orderBy(col("c_nationkey"))
  }

  /** q299 (r14): JOIN-AWARE incremental MV refresh — the Phase-2
    * star-schema MV (`fact ⋈ dim GROUP BY segment`, the reference's
    * dashboard shape at `Stream_Analytics_Phase_2.md:135-161`) no
    * longer rebuilds nightly. The body's source side may be a tree of
    * INNER joins: it is LINEAR in each leaf, so when exactly ONE
    * source moved the refresh splices that leaf's SIGNED window into
    * the body ([[graft.plans.MvIncremental.splicedTerm]]) — a fact
    * window joins the recorded dims, and the one maintenance MERGE
    * applies the result; group birth/death flows through the join.
    * TWO movers in one window TELESCOPE (r15): Δview = ΔF⋈D_head +
    * F_recorded⋈ΔD, the second term version-pinning the fact at its
    * recorded manifest — the cross term is covered, and self-joined
    * movers telescope over their occurrences the same way.
    * The lifecycle pins THREE modes in the ORACLE: a fact append
    * window refreshes 'incremental', a fact row-level DELETE window
    * refreshes 'incremental', and a window where the dim ALSO moved
    * stays 'incremental' via the telescoping (r14 pinned 'full' here);
    * the final rows must equal DuckDB recomputing
    * the join-aggregate from raw parquet either way. At 100 TB this is
    * THE nightly-refresh win: the 100-TB fact's daily partition joins
    * a broadcast dim at delta cost instead of re-reading the year. */
  def joinMvRefresh(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.mvj_fact")
    spark.sql(s"DROP TABLE IF EXISTS $cat.mvj_dim")
    Tables.events(spark, d).select(col("event_id"), col("user_id"), col("value"))
      .createOrReplaceTempView("mvj_fact_in")
    Tables.customer(spark, d).select(col("c_custkey"), col("c_mktsegment"))
      .createOrReplaceTempView("mvj_dim_in")
    spark.sql(s"CREATE TABLE $cat.mvj_dim AS SELECT * FROM mvj_dim_in")
    spark.sql(
      s"""CREATE TABLE $cat.mvj_fact AS
         |SELECT event_id, user_id, value FROM mvj_fact_in WHERE event_id % 3 = 0""".stripMargin)
    spark.sql(s"CALL $cat.create_materialized_view('mv_star', " +
      s"'SELECT c_mktsegment AS seg, count(*) AS n, " +
      s"CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum " +
      s"FROM $cat.mvj_fact JOIN $cat.mvj_dim ON user_id = c_custkey " +
      s"GROUP BY c_mktsegment', or_replace => true)")
    // window 1: fact append — incremental through the join
    spark.sql(s"INSERT INTO $cat.mvj_fact " +
      "SELECT event_id, user_id, value FROM mvj_fact_in WHERE event_id % 3 = 1")
    val m1 = refreshMv(spark, cat, "mv_star")
    // window 2: fact row-level DELETE — still incremental
    spark.sql(s"DELETE FROM $cat.mvj_fact WHERE event_id % 7 = 0")
    val m2 = refreshMv(spark, cat, "mv_star")
    // window 3: BOTH sides move — the telescoping covers the cross term
    spark.sql(s"INSERT INTO $cat.mvj_fact " +
      "SELECT event_id, user_id, value FROM mvj_fact_in WHERE event_id % 3 = 2")
    spark.sql(s"INSERT INTO $cat.mvj_dim VALUES (99999991, 'SYNTHETIC')")
    val m3 = refreshMv(spark, cat, "mv_star")
    val modeRow = markerRow(spark, "seg",
      "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum")(_, _)
    modeRow("mode-append", m1)
      .unionAll(modeRow("mode-delete", m2))
      .unionAll(modeRow("mode-dim-moved", m3))
      .unionAll(spark.sql(
        s"SELECT 'rows' AS phase, seg, n, value_sum FROM $cat.mv_star"))
      .orderBy(col("phase"), col("seg"))
  }

  /** q300 (r14): AVG as a DERIVED IVM slot pair — the single most
    * common dashboard aggregate joins the incremental tier. An
    * `avg(DECIMAL)` body is exactly `sum/count` over state the backing
    * already stores, so [[graft.plans.MvIncremental]] canonicalizes
    * `Average` into a (SumSlot, CountSlot) pair with a division
    * template that reproduces Spark's own Average evaluation
    * bit-for-bit (Divide(sum : DECIMAL(p+10,s), count : DECIMAL(20,0))
    * under null-on-zero semantics, cast to DECIMAL(p+4,s+4)); the
    * refresh applies the signed delta to both slots and re-derives the
    * visible average from MERGED state, and
    * [[graft.plans.CatalogMvRewrite]] routes raw-table AVG queries
    * through the same slots (total = Sum of sum-state cast back down —
    * lossless, the true total fits Average's own sum type — divided by
    * the summed counts). The lifecycle pins BOTH capabilities in the
    * ORACLE: the refresh after an append+delete window must say
    * 'incremental' (float AVG would say 'full'), the raw-table readout
    * must say 'mv-routed', and the rows must equal DuckDB recomputing
    * the average by exact integer arithmetic (the oracle replays the
    * HALF_UP rounding chain — quotient at scale 16, cast to 10, cast
    * to 2 — in HUGEINT units, so the compare is bit-exact, not
    * float-fuzzy). At 100 TB: the revenue-per-type dashboard average
    * refreshes at delta cost and reads type-sized state. */
  def avgMvRefreshAndRoute(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.mva_src")
    Tables.events(spark, d).select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("mva_src_in")
    spark.sql(
      s"""CREATE TABLE $cat.mva_src AS
         |SELECT event_id, event_type, value FROM mva_src_in WHERE event_id % 3 <> 2""".stripMargin)
    spark.sql(s"CALL $cat.create_materialized_view('mv_avg', " +
      s"'SELECT event_type, avg(CAST(value AS DECIMAL(18,6))) AS av, count(*) AS n " +
      s"FROM $cat.mva_src GROUP BY event_type', or_replace => true)")
    // churn window: an append and a row-level delete — AVG must merge
    spark.sql(s"INSERT INTO $cat.mva_src " +
      "SELECT event_id, event_type, value FROM mva_src_in WHERE event_id % 3 = 2")
    spark.sql(s"DELETE FROM $cat.mva_src WHERE event_id % 11 = 0")
    val mode = refreshMv(spark, cat, "mv_avg")
    // the dashboard query is written against the RAW table — the
    // transparent rewrite must route it through the (sum, count) state
    val agg = spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(CAST(avg(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,2)) AS DOUBLE) AS av2
         |FROM $cat.mva_src GROUP BY event_type""".stripMargin)
    val modeRow = markerRow(spark, "event_type",
      "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS av2")(_, _)
    modeRow("mode", mode)
      .unionAll(modeRow("plan", if (mvRouted(agg, "mv_avg")) "mv-routed" else "raw-scan"))
      .unionAll(agg.selectExpr("'rows' AS phase", "event_type", "n", "av2"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** q303 (r15): COUNT(DISTINCT) joins the incremental MV tier — the
    * reference's own headline DAX measure (DISTINCTCOUNT of users per
    * segment, `Stream_Analytics_Phase_2.md:117`) was the last
    * decline-to-RTAS among its dashboard aggregates. The count is not
    * distributive (whether a deleted occurrence decrements depends on
    * whether it was the LAST one), so [[graft.plans.MvIncremental]]
    * maintains a hidden per-(group, value) LIVENESS table
    * (`_mv_<view>_d<j>`) under the same signed MERGE: the window's
    * per-(group, value) net counts merge into it, and the visible
    * count moves by +1 per value BORN in the window and -1 per value
    * that DIED — read off a delta⋈liveness join against the pre-merge
    * state, cost ∝ the window's value rows. The lifecycle pins BOTH
    * window modes in the ORACLE: an append window AND a row-level
    * DELETE window (which removes every occurrence of some users —
    * the non-distributive case) must each say 'incremental', and the
    * rows must equal DuckDB recomputing COUNT(DISTINCT) from the raw
    * final state. At 100 TB: the distinct-users dashboard refreshes at
    * delta cost; the liveness table is value-grain but group-pruned,
    * and only the window's values are ever touched. */
  def distinctMvRefresh(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.mvd_src")
    Tables.events(spark, d).select(col("event_id"), col("event_type"), col("user_id"))
      .createOrReplaceTempView("mvd_src_in")
    spark.sql(
      s"""CREATE TABLE $cat.mvd_src AS
         |SELECT event_id, event_type, user_id FROM mvd_src_in WHERE event_id % 3 <> 2""".stripMargin)
    spark.sql(s"CALL $cat.create_materialized_view('mv_du', " +
      s"'SELECT event_type, count(DISTINCT user_id) AS du, count(*) AS n " +
      s"FROM $cat.mvd_src GROUP BY event_type', or_replace => true)")
    // window 1: append — mostly duplicate users (no distinct move) plus
    // genuinely new ones; the liveness merge separates the two
    spark.sql(s"INSERT INTO $cat.mvd_src " +
      "SELECT event_id, event_type, user_id FROM mvd_src_in WHERE event_id % 3 = 2")
    val m1 = refreshMv(spark, cat, "mv_du")
    // window 2: row-level DELETE removing EVERY occurrence of some
    // users — the last-occurrence decrements that make DISTINCTCOUNT
    // non-distributive — must still refresh incrementally
    spark.sql(s"DELETE FROM $cat.mvd_src WHERE user_id % 5 = 0")
    val m2 = refreshMv(spark, cat, "mv_du")
    // the dashboard query is written against the RAW table — at the
    // EXACT grain the transparent rewrite serves the stored liveness
    // count (r15); a coarser grain would decline (distinct counts do
    // not merge), so the 'plan' row pins the exact-grain route
    val agg = spark.sql(s"SELECT event_type, count(DISTINCT user_id) AS du, " +
      s"count(*) AS n FROM $cat.mvd_src GROUP BY event_type")
    val modeRow = markerRow(spark, "event_type",
      "CAST(0 AS BIGINT) AS du, CAST(0 AS BIGINT) AS n")(_, _)
    modeRow("mode-append", m1)
      .unionAll(modeRow("mode-delete", m2))
      .unionAll(modeRow("plan", if (mvRouted(agg, "mv_du")) "mv-routed" else "raw-scan"))
      .unionAll(agg.selectExpr("'rows' AS phase", "event_type", "du", "n"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** q307 (r15): MV OVER A STORED VIEW — the semantic-layer shape
    * (dashboard MV over a curated view) used to refuse with a
    * flatten-it-yourself remediation. The create now FLATTENS view
    * sources through the stored expansion: version tracking lands on
    * the view's UNDERLYING TABLES, and each view dependency is pinned
    * by its definition-content hash (`graft.mv.viewdeps`) — views have
    * no versions, so freshness pins the definition. The lifecycle pins
    * both legs in the ORACLE: a TABLE append window refreshes
    * 'incremental' (the delta splices through the expansion), then the
    * VIEW is REDEFINED — no table version moves, but the MV goes stale
    * and the refresh says 'full', rebuilding under the new definition;
    * the rows must equal DuckDB recomputing the REDEFINED view's
    * aggregate. At 100 TB: the semantic layer stays declarative — MVs
    * over curated views refresh at delta cost, and a governance change
    * to the view propagates on the next refresh instead of silently
    * serving the old meaning. */
  def mvOverViewRefresh(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP VIEW IF EXISTS $cat.mv_sem")
    spark.sql(s"DROP VIEW IF EXISTS $cat.v_sem")
    spark.sql(s"DROP TABLE IF EXISTS $cat.mvf_src")
    Tables.events(spark, d).select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("mvf_src_in")
    spark.sql(
      s"""CREATE TABLE $cat.mvf_src AS
         |SELECT event_id, event_type, value FROM mvf_src_in WHERE event_id % 3 <> 2""".stripMargin)
    spark.sql(s"CALL $cat.create_view('v_sem', " +
      s"'SELECT event_type, value FROM $cat.mvf_src WHERE value >= 50.0', " +
      "or_replace => true)")
    spark.sql(s"CALL $cat.create_materialized_view('mv_sem', " +
      s"'SELECT event_type, count(*) AS n, " +
      s"CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv " +
      s"FROM $cat.v_sem GROUP BY event_type', or_replace => true)")
    // window 1: a TABLE append — incremental THROUGH the view expansion
    spark.sql(s"INSERT INTO $cat.mvf_src " +
      "SELECT event_id, event_type, value FROM mvf_src_in WHERE event_id % 3 = 2")
    val m1 = refreshMv(spark, cat, "mv_sem")
    // window 2: REDEFINE the view — no table version moves, the MV is
    // stale by definition-hash and rebuilds under the new meaning
    spark.sql(s"CALL $cat.create_view('v_sem', " +
      s"'SELECT event_type, value FROM $cat.mvf_src WHERE value >= 100.0', " +
      "or_replace => true)")
    val m2 = refreshMv(spark, cat, "mv_sem")
    val modeRow = markerRow(spark, "event_type",
      "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv")(_, _)
    modeRow("mode-append", m1)
      .unionAll(modeRow("mode-redefine", m2))
      .unionAll(spark.sql(s"SELECT 'rows' AS phase, event_type, n, sv FROM $cat.mv_sem"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** q235 (r8): CONTINUOUS IVM of a JOIN view — q229's composition
    * made a RUNNING process: per run, a fresh orders table (v1 = the
    * orderkey%3=0 slice) and the per-nation join MV over it and a
    * static customer dim; two delta generations arrive, and after each
    * an AvailableNow drain of [[graft.streaming.MvAutoRefresh]] (the
    * orders change feed, versions as offsets) refreshes the MV —
    * Δ(A⋈B) = ΔA⋈B for an append-only fact and a static dim. The read
    * is the MV, so the oracle's monolithic re-join pins "continuously
    * maintained ≡ recomputed" every run. */
  def streamingJoinIvm(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    val (o, c) = ordersAndCustomer(spark, d)
    ensureTable(d, "jstream_customer", Map("statsColumn" -> "c_custkey"))(c)
    val dir = Landing.fixtureDir(d, "jstream_orders")
    val ckpt = Landing.fixtureDir(d, "jstream_ckpt")
    Seq(dir, ckpt).foreach(graft.util.Fs.deleteRecursively)
    Files.createDirectories(Paths.get(dir))
    def land(g: Int, mode: String): Unit = o.filter(col("o_orderkey") % 3 === g)
      .write.format("graft-jsonl-stats").option("path", dir)
      .option("statsColumn", "o_orderkey").mode(mode).save()
    land(0, "overwrite")
    spark.sql(s"DROP VIEW IF EXISTS $cat.mv_jstream")
    spark.sql(s"CALL $cat.create_materialized_view('mv_jstream', " +
      s"'${nationRevenueBody(cat, "jstream_orders", "jstream_customer")}', or_replace => true)")
    Seq(1, 2).foreach { g =>
      land(g, "append")
      graft.streaming.MvAutoRefresh.start(spark, cat, "mv_jstream", dir, ckpt).awaitTermination()
    }
    spark.table(s"$cat.mv_jstream")
      .select(col("c_nationkey"), col("n_orders"), col("revenue"))
      .orderBy(col("c_nationkey"))
  }

  /** q306 (r15): CONTINUOUS MV refresh — the change feed drives the
    * catalog-MV refresh (q235 does it for a join MV): [[graft.streaming.MvAutoRefresh]]
    * reads the source's streaming change feed and CALLs the one-code-
    * path refresh per micro-batch under the per-view lock. The stream
    * is only a TRIGGER — exactly-once comes from the refresh's version
    * discipline, not the checkpoint: after each drain a MANUAL refresh
    * must say 'noop' (the stream already applied the window), and the
    * run then WIPES the checkpoint and re-drains the whole feed — the
    * replayed batches find their windows recorded and the MV stays
    * hash-equal to DuckDB's recompute of the final state (pinned).
    * Windows exercised: an append and a merge-on-read DELETE. At
    * 100 TB: dashboard MVs follow the fact stream at micro-batch
    * freshness with per-window delta cost and no scheduler glue. */
  def continuousMvRefresh(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    val dir = Landing.fixtureDir(d, "jsonl_mv_stream")
    val ckpt = Landing.fixtureDir(d, "jsonl_mv_stream_ckpt")
    Seq(dir, ckpt).foreach(graft.util.Fs.deleteRecursively)
    Files.createDirectories(Paths.get(dir))
    val ev = Tables.events(spark, d).select($"event_id", $"event_type", $"value")
    ev.filter($"event_id" % 3 === 0).repartitionByRange(3, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val m0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, m0.statsCol.get, m0.partitionCol, m0.schema.get,
      m0.bloomCol, deleteMode = Some("merge-on-read"))
    val table = Paths.get(dir).getFileName.toString
    spark.sql(s"DROP VIEW IF EXISTS $cat.mv_cms")
    spark.sql(s"CALL $cat.create_materialized_view('mv_cms', " +
      s"'SELECT event_type, count(*) AS n, " +
      s"CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv " +
      s"FROM $cat.$table GROUP BY event_type', or_replace => true)")
    def drain(): Unit = graft.streaming.MvAutoRefresh
      .start(spark, cat, "mv_cms", dir, ckpt).awaitTermination()
    def manualMode(): String = refreshMv(spark, cat, "mv_cms")
    // window 1: append — the drain's refresh leaves nothing to do
    ev.filter($"event_id" % 3 === 1).repartitionByRange(2, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("append").save()
    drain()
    val m1 = manualMode()
    // window 2: merge-on-read DELETE flows through the same trigger
    spark.sql(s"DELETE FROM $cat.$table WHERE value < 100.0")
    drain()
    val m2 = manualMode()
    // replay: wipe the checkpoint and re-drain the WHOLE feed — every
    // replayed batch no-ops against the recorded versions
    graft.util.Fs.deleteRecursively(ckpt)
    drain()
    val m3 = manualMode()
    val modeRow = markerRow(spark, "event_type",
      "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv")(_, _)
    modeRow("post-append", m1)
      .unionAll(modeRow("post-delete", m2))
      .unionAll(modeRow("post-replay", m3))
      .unionAll(spark.sql(s"SELECT 'rows' AS phase, event_type, n, sv FROM $cat.mv_cms"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** q304 (r15, dim movers r16): LEFT-OUTER-JOIN bodies join the
    * incremental MV tier — the star schema's real shape when dims LAG
    * facts (`Stream_Analytics_Platform.md:84`'s J2): facts whose dim
    * row hasn't arrived yet must still count, in a null-extended
    * group. A left-outer join is linear in its LEFT side ({f} ⟕ D is
    * one independent term per fact row), so fact windows splice
    * exactly as inner joins do. r16 closes the RIGHT side via the
    * Griffin–Libkin compensation: a dim window's term is the INNER
    * join of the facts against the signed dim delta PLUS the
    * null-extension flips — per join key, a fact flips out of the
    * 'none' group when its first match arrives (old match count 0,
    * window net > 0) and back in when its last match dies — with the
    * old match counts probed from the dim's RECORDED version,
    * key-bounded by the window ([[graft.plans.MvIncremental]]). The
    * lifecycle pins all four modes in the ORACLE: fact append, fact
    * delete, dim insert AND dim delete all 'incremental' — and the dim
    * windows genuinely re-home facts across the 'none' boundary,
    * recomputed by DuckDB either way. At 100 TB: late-arriving
    * dimension feeds cost their own delta plus a key-bounded dim
    * probe — never a fact re-read in either direction. */
  def leftOuterMvRefresh(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.mvlo_fact")
    spark.sql(s"DROP TABLE IF EXISTS $cat.mvlo_dim")
    Tables.events(spark, d).select(col("event_id"), col("user_id"), col("value"))
      .createOrReplaceTempView("mvlo_fact_in")
    Tables.customer(spark, d).select(col("c_custkey"), col("c_mktsegment"))
      .createOrReplaceTempView("mvlo_dim_in")
    // the dim LAGS: every 4th customer key is missing, so those users'
    // events ride in the null-extended 'none' group
    spark.sql(s"CREATE TABLE $cat.mvlo_dim AS " +
      "SELECT * FROM mvlo_dim_in WHERE c_custkey % 4 <> 3")
    spark.sql(
      s"""CREATE TABLE $cat.mvlo_fact AS
         |SELECT event_id, user_id, value FROM mvlo_fact_in WHERE event_id % 3 <> 2""".stripMargin)
    spark.sql(s"CALL $cat.create_materialized_view('mv_lo', " +
      s"'SELECT COALESCE(c_mktsegment, ''none'') AS seg, count(*) AS n, " +
      s"CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv " +
      s"FROM $cat.mvlo_fact LEFT JOIN $cat.mvlo_dim ON user_id = c_custkey " +
      s"GROUP BY COALESCE(c_mktsegment, ''none'')', or_replace => true)")
    // window 1: fact append — matched and unmatched rows alike splice
    spark.sql(s"INSERT INTO $cat.mvlo_fact " +
      "SELECT event_id, user_id, value FROM mvlo_fact_in WHERE event_id % 3 = 2")
    val m1 = refreshMv(spark, cat, "mv_lo")
    // window 2: fact row-level DELETE — still incremental
    spark.sql(s"DELETE FROM $cat.mvlo_fact WHERE event_id % 7 = 0")
    val m2 = refreshMv(spark, cat, "mv_lo")
    // window 3: the LAGGING dim row arrives — Griffin–Libkin
    // compensation (r16): user 3's events re-home from 'none' into the
    // real segment INCREMENTALLY (flip −1 on the 'none' group, inner
    // term +matches), where r15 declined to the rebuild
    spark.sql(s"INSERT INTO $cat.mvlo_dim VALUES (3, 'SYNTHETIC')")
    val m3 = refreshMv(spark, cat, "mv_lo")
    // window 4 (r16): dim rows DIE — their facts flip back INTO 'none'
    // (old match count > 0, window nets it to 0), still incremental
    spark.sql(s"DELETE FROM $cat.mvlo_dim WHERE c_custkey % 10 = 6")
    val m4 = refreshMv(spark, cat, "mv_lo")
    val modeRow = markerRow(spark, "seg",
      "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv")(_, _)
    modeRow("mode-append", m1)
      .unionAll(modeRow("mode-delete", m2))
      .unionAll(modeRow("mode-dim-moved", m3))
      .unionAll(modeRow("mode-dim-deleted", m4))
      .unionAll(spark.sql(s"SELECT 'rows' AS phase, seg, n, sv FROM $cat.mv_lo"))
      .orderBy(col("phase"), col("seg"))
  }

  /** q305 (r15): HAVING bodies join the incremental MV tier — the
    * dashboard's "segments above threshold" shape
    * (`Stream_Analytics_Phase_2.md` measure filters) used to decline
    * to RTAS. The insight: HAVING filters WHOLE GROUPS over the
    * grouped aggregates, so state maintenance is HAVING-blind — the
    * backing stores ALL groups and the predicate re-applies at READ
    * over the visible columns ([[graft.plans.ResolveGraftViews]]
    * splices a Filter from the stored `graft.mv.having` property).
    * The threshold here is computed from the INITIAL load and embedded
    * as a literal (integer count — bit-exact in both engines), so the
    * append window pushes the 'error' segment ACROSS the boundary into
    * the view and the delete window pushes it back out — while both
    * refreshes stay 'incremental' (pinned in the ORACLE, which
    * recomputes the same HAVING from raw parquet). At 100 TB: the
    * filtered dashboard refreshes at delta cost, and the boundary
    * crossing costs nothing — the groups were maintained all along. */
  def havingMvRefresh(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.mvh_src")
    Tables.events(spark, d).select(col("event_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("mvh_src_in")
    spark.sql(
      s"""CREATE TABLE $cat.mvh_src AS
         |SELECT event_id, event_type, value FROM mvh_src_in WHERE event_id % 3 <> 2""".stripMargin)
    val thr = spark.sql(
      s"SELECT count(*) FROM $cat.mvh_src WHERE event_type = 'error'")
      .collect().head.getLong(0)
    // the segment merges view+click (≈2× the others) so the boundary
    // splits the groups non-trivially at EVERY scale factor: after the
    // append all segments clear the threshold, after the delete only
    // the merged one does — the singles cross back OUT
    val seg = "CASE WHEN event_type IN (''view'', ''click'') " +
      "THEN ''engage'' ELSE event_type END"
    spark.sql(s"CALL $cat.create_materialized_view('mv_hav', " +
      s"'SELECT $seg AS seg, count(*) AS n, " +
      s"CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv " +
      s"FROM $cat.mvh_src GROUP BY $seg HAVING n > $thr', or_replace => true)")
    // window 1: append — every segment grows past the threshold
    spark.sql(s"INSERT INTO $cat.mvh_src " +
      "SELECT event_id, event_type, value FROM mvh_src_in WHERE event_id % 3 = 2")
    val m1 = refreshMv(spark, cat, "mv_hav")
    // window 2: delete roughly half — the single-type segments cross OUT
    spark.sql(s"DELETE FROM $cat.mvh_src WHERE event_id % 2 = 0")
    val m2 = refreshMv(spark, cat, "mv_hav")
    val modeRow = markerRow(spark, "seg",
      "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv")(_, _)
    modeRow("mode-append", m1)
      .unionAll(modeRow("mode-delete", m2))
      .unionAll(spark.sql(s"SELECT 'rows' AS phase, seg, n, sv FROM $cat.mv_hav"))
      .orderBy(col("phase"), col("seg"))
  }

  /** q301 (r14): FILTERED-MV rewrite via predicate subsumption — the
    * second-most-common production MV shape ("last-90-days revenue")
    * can now answer its own dashboard. A body WHERE used to veto the
    * transparent rewrite outright; [[graft.plans.CatalogMvRewrite]]
    * now fires when the query's predicate IMPLIES the MV's under
    * conjunctive strengthening: every MV conjunct appears semantically
    * among the query's conjuncts (matched away once each) and the
    * REMAINING query conjuncts ride onto the backing scan through the
    * existing grain-predicate gate, where file pruning applies to the
    * small table. The lifecycle pins BOTH shapes in the ORACLE: the
    * exact-predicate query routes ('mv-routed-exact'), the
    * strengthened query routes with its residual pushed
    * ('mv-routed-strong'), and the strengthened rows must equal
    * DuckDB's raw recompute. Weaker predicates and non-grain residuals
    * still decline (pinned in ViewsSpec). At 100 TB: the windowed MV
    * serves every dashboard cut whose WHERE starts from its own. */
  def filteredMvRewrite(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.mvf_src")
    Tables.events(spark, d).select(col("event_type"), col("value"))
      .createOrReplaceTempView("mvf_src_in")
    spark.sql(s"CREATE TABLE $cat.mvf_src AS SELECT * FROM mvf_src_in")
    spark.sql(s"CALL $cat.create_materialized_view('mv_filt', " +
      s"'SELECT event_type, count(*) AS n, " +
      s"CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum " +
      s"FROM $cat.mvf_src WHERE event_type <> ''view'' GROUP BY event_type', " +
      "or_replace => true)")
    val exact = spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.mvf_src WHERE event_type <> 'view' GROUP BY event_type""".stripMargin)
    val strong = spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.mvf_src WHERE event_type <> 'view' AND event_type <> 'error'
         |GROUP BY event_type""".stripMargin)
    def planRow(phase: String, ok: Boolean, tag: String) = markerRow(spark, "event_type",
      "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum")(phase, if (ok) s"mv-routed-$tag" else s"raw-scan-$tag")
    planRow("plan-exact", mvRouted(exact, "mv_filt"), "exact")
      .unionAll(planRow("plan-strong", mvRouted(strong, "mv_filt"), "strong"))
      .unionAll(strong.selectExpr("'rows' AS phase", "event_type", "n", "value_sum"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** `df` reads only MV `mv`'s storage table: the transparent rewrite
    * routed it. */
  private def mvRouted(df: DataFrame, mv: String): Boolean = {
    val scans = v2Scans(df).map(_.description())
    scans.nonEmpty && scans.forall(_.contains(s"_mv_$mv"))
  }

  /** A one-row frame pinning a refresh mode (or plan choice) into a
    * query's result: `phase`, then `mode` under column `key`, then
    * `zeros`, the remaining columns as typed zero literals. */
  private def markerRow(spark: SparkSession, key: String, zeros: String)(
      phase: String, mode: String): DataFrame =
    spark.sql(s"SELECT '$phase' AS phase, '$mode' AS $key, $zeros")

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q181_change_feed" -> changeFeed,
    "q234_cdf_stream" -> cdfStreamDrain,
    "q254_upsert_change_feed" -> upsertChangeFeed,
    "q289_persistent_view" -> persistentViewSlice,
    "q291_materialized_view" -> materializedViewLifecycle,
    "q293_incremental_mv_refresh" -> incrementalMvRefresh,
    "q210_mv_rewrite" -> mvRewriteAggregate,
    "q228_mv_rewrite_grain_filter" -> mvRewriteGrainFiltered,
    "q294_transparent_mv_rewrite" -> transparentMvRewrite,
    "q296_sampled_view" -> sampledViewScan,
    "q297_coarser_grain_rewrite" -> coarserGrainMvRewrite,
    "q298_minmax_mv_refresh" -> minMaxMvRefresh,
    "q201_join_ivm" -> joinIvm,
    "q229_cdf_join_ivm" -> cdfJoinIvm,
    "q299_join_mv_refresh" -> joinMvRefresh,
    "q300_avg_mv" -> avgMvRefreshAndRoute,
    "q301_filtered_mv_rewrite" -> filteredMvRewrite,
    "q303_distinct_mv_refresh" -> distinctMvRefresh,
    "q304_leftouter_mv_refresh" -> leftOuterMvRefresh,
    "q305_having_mv_refresh" -> havingMvRefresh,
    "q235_streaming_ivm" -> streamingJoinIvm,
    "q306_continuous_mv_refresh" -> continuousMvRefresh,
    "q307_mv_over_view" -> mvOverViewRefresh,
  )

  val oracles = Map(
    "q307_mv_over_view" ->
      """WITH src AS (
        |  SELECT event_type, value FROM events WHERE value >= 100.0)
        |SELECT 'mode-append' AS phase, 'incremental' AS event_type,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv
        |UNION ALL
        |SELECT 'mode-redefine' AS phase, 'full' AS event_type,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv
        |UNION ALL
        |SELECT 'rows' AS phase, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
        |FROM src GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    // q235: the continuously-maintained view must equal the monolithic
    // re-join over every generation the stream delivered
    "q235_streaming_ivm" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q306_continuous_mv_refresh" ->
      """WITH src AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 3 <> 2 AND value >= 100.0)
        |SELECT 'post-append' AS phase, 'noop' AS event_type,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv
        |UNION ALL
        |SELECT 'post-delete' AS phase, 'noop' AS event_type,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv
        |UNION ALL
        |SELECT 'post-replay' AS phase, 'noop' AS event_type,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv
        |UNION ALL
        |SELECT 'rows' AS phase, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
        |FROM src GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    "q304_leftouter_mv_refresh" ->
      """WITH dim AS (
        |  SELECT * FROM (
        |    SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 4 <> 3
        |    UNION ALL SELECT 3, 'SYNTHETIC')
        |  WHERE c_custkey % 10 <> 6),
        |fact AS (
        |  SELECT user_id, value FROM events WHERE event_id % 7 <> 0)
        |SELECT 'mode-append' AS phase, 'incremental' AS seg,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv
        |UNION ALL
        |SELECT 'mode-delete' AS phase, 'incremental' AS seg,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv
        |UNION ALL
        |SELECT 'mode-dim-moved' AS phase, 'incremental' AS seg,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv
        |UNION ALL
        |SELECT 'mode-dim-deleted' AS phase, 'incremental' AS seg,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv
        |UNION ALL
        |SELECT 'rows' AS phase, COALESCE(c_mktsegment, 'none') AS seg,
        |  count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
        |FROM fact LEFT JOIN dim ON user_id = c_custkey
        |GROUP BY COALESCE(c_mktsegment, 'none')
        |ORDER BY phase, seg""".stripMargin,
    "q305_having_mv_refresh" ->
      """WITH thr AS (
        |  SELECT count(*) AS t FROM events
        |  WHERE event_id % 3 <> 2 AND event_type = 'error'),
        |final AS (
        |  SELECT CASE WHEN event_type IN ('view', 'click')
        |    THEN 'engage' ELSE event_type END AS seg, value
        |  FROM events WHERE event_id % 2 <> 0)
        |SELECT 'mode-append' AS phase, 'incremental' AS seg,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv
        |UNION ALL
        |SELECT 'mode-delete' AS phase, 'incremental' AS seg,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv
        |UNION ALL
        |SELECT 'rows' AS phase, seg, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
        |FROM final GROUP BY seg
        |HAVING count(*) > (SELECT t FROM thr)
        |ORDER BY phase, seg""".stripMargin,
    "q303_distinct_mv_refresh" ->
      """WITH src AS (
        |  SELECT event_type, user_id FROM events WHERE user_id % 5 <> 0)
        |SELECT 'mode-append' AS phase, 'incremental' AS event_type,
        |  CAST(0 AS BIGINT) AS du, CAST(0 AS BIGINT) AS n
        |UNION ALL
        |SELECT 'mode-delete' AS phase, 'incremental' AS event_type,
        |  CAST(0 AS BIGINT) AS du, CAST(0 AS BIGINT) AS n
        |UNION ALL
        |SELECT 'plan' AS phase, 'mv-routed' AS event_type,
        |  CAST(0 AS BIGINT) AS du, CAST(0 AS BIGINT) AS n
        |UNION ALL
        |SELECT 'rows' AS phase, event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS du, count(*) AS n
        |FROM src GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    "q254_upsert_change_feed" ->
      """WITH err AS (
        |  SELECT user_id, count(*) AS cnt FROM events
        |  WHERE event_type = 'error' AND user_id % 3 = 0 GROUP BY user_id)
        |SELECT change_type, n, id_sum FROM (
        |  SELECT 'delete' AS change_type, count(*) AS n,
        |    CAST(SUM(e.event_id) AS BIGINT) AS id_sum
        |  FROM events e JOIN err ON e.user_id = err.user_id
        |  UNION ALL
        |  SELECT 'insert' AS change_type, count(*) AS n,
        |    CAST(SUM(-user_id - 1) AS BIGINT) AS id_sum
        |  FROM err) AS u
        |ORDER BY change_type""".stripMargin,
    "q298_minmax_mv_refresh" ->
      """WITH src AS (
        |  SELECT event_type, value FROM events WHERE event_id % 7 <> 0)
        |SELECT 'mode-append' AS phase, 'incremental' AS event_type,
        |  CAST(0.0 AS DOUBLE) AS mn, CAST(0.0 AS DOUBLE) AS mx, CAST(0 AS BIGINT) AS n
        |UNION ALL
        |SELECT 'mode-delete', 'incremental-repair', CAST(0.0 AS DOUBLE),
        |  CAST(0.0 AS DOUBLE), CAST(0 AS BIGINT)
        |UNION ALL
        |SELECT 'rows' AS phase, event_type, min(value) AS mn, max(value) AS mx,
        |  count(*) AS n
        |FROM src GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    "q301_filtered_mv_rewrite" ->
      """SELECT 'plan-exact' AS phase, 'mv-routed-exact' AS event_type,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum
        |UNION ALL
        |SELECT 'plan-strong', 'mv-routed-strong', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
        |UNION ALL
        |SELECT 'rows' AS phase, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events WHERE event_type <> 'view' AND event_type <> 'error'
        |GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    // the monolithic recompute the incremental refresh must equal
    "q201_join_ivm" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    // same monolithic recompute: the CDF-sourced refresh must equal the
    // full re-join (nationkey cast mirrors the connector's long schema)
    "q229_cdf_join_ivm" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q299_join_mv_refresh" ->
      """WITH fact AS (
        |  SELECT event_id, user_id, value FROM events
        |  WHERE (event_id % 3 = 2) OR (event_id % 7 <> 0)),
        |j AS (
        |  SELECT c.c_mktsegment AS seg, f.value
        |  FROM fact f JOIN customer c ON f.user_id = c.c_custkey)
        |SELECT 'mode-append' AS phase, 'incremental' AS seg,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum
        |UNION ALL
        |SELECT 'mode-delete', 'incremental', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
        |UNION ALL
        |SELECT 'mode-dim-moved', 'incremental', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
        |UNION ALL
        |SELECT 'rows' AS phase, seg, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM j GROUP BY seg
        |ORDER BY phase, seg""".stripMargin,
    // q300's oracle replays Spark's decimal-average rounding chain in
    // exact HUGEINT arithmetic (values are nonnegative, so HALF_UP is
    // (2a+n) DIV 2n): quotient at scale 16 (the Divide result type),
    // cast to scale 10 (Average's DECIMAL(22,10)), cast to scale 2
    // (the readout) — bit-exact, never float-fuzzy.
    "q300_avg_mv" ->
      """WITH src AS (
        |  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS vd
        |  FROM events WHERE event_id % 11 <> 0),
        |agg AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(SUM(vd) * 1000000 AS HUGEINT) AS s6,
        |    CAST(count(vd) AS HUGEINT) AS cnt
        |  FROM src GROUP BY event_type),
        |r16 AS (SELECT event_type, n,
        |    (2 * s6 * 10000000000 + cnt) // (2 * cnt) AS v16 FROM agg),
        |r10 AS (SELECT event_type, n, (2 * v16 + 1000000) // 2000000 AS v10 FROM r16),
        |r2 AS (SELECT event_type, n, (2 * v10 + 100000000) // 200000000 AS v2 FROM r10)
        |SELECT 'mode' AS phase, 'incremental' AS event_type,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS av2
        |UNION ALL
        |SELECT 'plan', 'mv-routed', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
        |UNION ALL
        |SELECT 'rows' AS phase, event_type, CAST(n AS BIGINT) AS n,
        |  CAST(v2 AS DOUBLE) / 100.0 AS av2 FROM r2
        |ORDER BY phase, event_type""".stripMargin,
    "q297_coarser_grain_rewrite" ->
      """SELECT 'plan' AS phase, 'mv-routed' AS event_type,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum
        |UNION ALL
        |SELECT 'rows' AS phase, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    "q296_sampled_view" ->
      """WITH base AS (SELECT user_id % 16 AS shard, value FROM events)
        |SELECT CAST(shard AS VARCHAR) AS shard, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM base
        |WHERE ((shard * 2654435761 + 42 * 40503 + 17) % 2147483648)
        |      < CAST(0.375 * 2147483648 AS BIGINT)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q210_mv_rewrite" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q228_mv_rewrite_grain_filter" ->
      """SELECT CAST(ts AS DATE) AS event_date, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
        |  AND CAST(ts AS DATE) <= DATE '2024-01-21'
        |  AND event_type <> 'view'
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q294_transparent_mv_rewrite" ->
      """WITH src AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 2 = 0 AND event_type <> 'view')
        |SELECT 'plan' AS phase, 'mv-routed' AS event_type,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum
        |UNION ALL
        |SELECT 'rows' AS phase, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM src GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    "q293_incremental_mv_refresh" ->
      """WITH src AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 3 IN (0, 1) AND event_id % 5 <> 0)
        |SELECT 'mode' AS phase, 'incremental' AS event_type,
        |  CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum
        |UNION ALL
        |SELECT 'rows' AS phase, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM src GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,
    "q291_materialized_view" ->
      """WITH src AS (
        |  SELECT event_type, value FROM events WHERE event_id % 3 IN (0, 1)),
        |agg AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |  FROM src GROUP BY event_type)
        |SELECT phase, event_type, n, value_sum FROM (
        |  SELECT 'stale' AS phase, * FROM agg
        |  UNION ALL
        |  SELECT 'fresh' AS phase, * FROM agg)
        |ORDER BY phase, event_type""".stripMargin,
    "q289_persistent_view" ->
      """SELECT event_id % 8 AS b, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE event_type = 'purchase' AND value > 50
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q181_change_feed" ->
      """WITH adj AS (
        |  SELECT CAST(-DENSE_RANK() OVER (ORDER BY event_type) AS BIGINT) AS event_id,
        |         'adj_' || event_type AS event_type,
        |         CAST(COUNT(*) AS DOUBLE) AS value
        |  FROM events GROUP BY event_type)
        |SELECT 'delete' AS change_type, event_id, event_type,
        |       value AS before_value, CAST(NULL AS DOUBLE) AS after_value
        |FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT 'update' AS change_type, event_id, event_type,
        |       value AS before_value, 0.0 AS after_value
        |FROM events WHERE event_type = 'error' AND value <> 0.0
        |UNION ALL
        |SELECT 'insert' AS change_type, event_id, event_type,
        |       CAST(NULL AS DOUBLE) AS before_value, value AS after_value
        |FROM adj
        |ORDER BY change_type, event_id""".stripMargin,
    "q234_cdf_stream" ->
      """SELECT change_type, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM (
        |  SELECT 'insert' AS change_type, event_type, value FROM events
        |  UNION ALL
        |  SELECT 'delete' AS change_type, event_type, value FROM events
        |  WHERE value < 100.0
        |)
        |GROUP BY change_type, event_type
        |ORDER BY change_type, event_type""".stripMargin,
    // q236: old rows carry the 2.5 exists-default, the appended slice
    // its explicit value — n_bonus = n iff the reader serves defaults
    // (a default-blind read would collapse count(bonus) to the slice)
  )
}

package graft.sources

import graft.QueryModule
import graft.ingest.{Landing, Tables}
import graft.util.Det._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import JsonlFixtures._

/** The graft-jsonl-stats connector's write-side queries: row-level DELETE,
  * UPDATE and MERGE (copy-on-write and merge-on-read deletion vectors),
  * equality-delete upserts, replaceWhere and dynamic overwrite, schema
  * evolution, constraints and protocol gates, concurrent appends, and
  * the streaming source and sinks. Fixtures live in [[JsonlFixtures]].
  */
object JsonlDmlQueries extends QueryModule {

  /** q192 (r7b): STREAMING SINK through the connector — readStream from
    * the written fixture's manifest (the q161 source leg), writeStream
    * INTO a fresh connector table under the exactly-once epoch-commit
    * protocol: each micro-batch's files and its txn watermark line
    * (`{"txn": appId, "epoch": N}`) publish in ONE manifest swap, so
    * there is no crash window between rows-visible and epoch-recorded,
    * and a replayed batch fails the watermark test and is swept
    * (replay idempotency + watermark-survives-compaction proven in
    * JsonlStatsSpec). AvailableNow drains; the SINK table then answers
    * the same aggregate as the parquet oracle — no loss, no
    * duplication, end to end through both streaming legs. Re-runs
    * drain zero new files (checkpointed offsets), so the result is
    * stable across reps. */
  def streamingManifestWrite(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val src = ensureWrittenFixture(spark, d)
    val sink = Landing.streamState(d, "jsonl_stream_sink")
    streamInto(spark, src, sink, s"$sink/_checkpoint", "q192")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"))
      .orderBy($"event_type")
  }

  /** q175 (r7): atomic CTAS through the catalog
    * ([[GraftCatalog]] as a `StagingTableCatalog`): `CREATE OR REPLACE
    * TABLE … AS SELECT` stages data files in the table directory where
    * they stay INVISIBLE until the write's commit swaps the manifest —
    * the connector's own commit point doubles as the staging protocol,
    * so an aborted CTAS leaves no table and a replace keeps serving the
    * old generation until the swap instant. The read-back aggregate
    * goes through the catalog identifier path, so the oracle pins the
    * whole round trip: source scan → staged write → manifest commit →
    * catalog-resolved read. Idempotent across reps (each run republishes
    * the same rows). */
  def catalogCtas(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_ctas AS
         |SELECT event_id, user_id, event_type, value
         |FROM $cat.jsonl_stats_table
         |WHERE event_type = 'purchase'""".stripMargin)
    spark.sql(
      s"""SELECT count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM $cat.jsonl_ctas""".stripMargin)
  }

  /** q196: MERGE-ON-READ DELETE via position deletion vectors
    * ([[JsonlDeleteVectors]], `SupportsDelta` with rowId = (_file,
    * _pos)) — the needle-delete half of the row-level story (q172's
    * copy-on-write rewrites whole files; here NO data file is touched:
    * DELETE writes DV sidecars and the manifest swap attaches them).
    * Two composing deletes: the type predicate masks rows in every
    * file; the value predicate's DELETE scan is itself pruned by the
    * value-ranged manifest bounds, so most files never even read
    * during the second delete. Idempotent across reps (a masked row is
    * invisible to the next DELETE's scan, so re-running deletes
    * nothing). Oracle = the parquet feed minus both slices;
    * JsonlStatsSpec proves the zero-rewrite claim (file set and bytes
    * untouched), DV composition, and COUNT-pushdown arithmetic. */
  def dvDelete(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    ensureMorTable(spark, d, "jsonl_mor_delete")
    spark.sql(s"DELETE FROM $cat.jsonl_mor_delete WHERE event_type = 'click'")
    spark.sql(s"DELETE FROM $cat.jsonl_mor_delete WHERE value < 100.0")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_mor_delete
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q197: `CALL <cat>.rewrite_deletes` — DV major compaction
    * (Iceberg's rewrite_position_delete_files): every DV'd file is
    * rewritten without its masked rows, stats re-derived from the
    * survivors, DVs dropped in the same swap. The registered read is
    * COUNT/MIN/MAX — exactly the aggregate the DVs had forced off the
    * manifest (attained bounds unknowable under a mask) and the
    * rewrite re-arms: post-rewrite it answers metadata-only again
    * (plan-asserted in JsonlStatsSpec). Idempotent: a clean table is a
    * no-op. */
  def dvRewrite(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    ensureMorTable(spark, d, "jsonl_mor_rewrite")
    spark.sql(s"DELETE FROM $cat.jsonl_mor_rewrite WHERE value < 100.0")
    spark.sql(s"CALL $cat.rewrite_deletes('jsonl_mor_rewrite')").collect()
    spark.sql(
      s"""SELECT count(*) AS n, min(value) AS min_value, max(value) AS max_value
         |FROM $cat.jsonl_mor_rewrite""".stripMargin)
  }

  /** q203: CHECK-CONSTRAINT gate (Spark 4.1 DSv2 constraints API): the
    * table reports `positive_value CHECK (value >= 0)` and Spark's
    * analyzer injects the row-level validation into every write plan —
    * each run re-proves enforcement by attempting a poisoned INSERT
    * (refused before the commit point; the atomic manifest means
    * nothing of it is ever visible) and then aggregates the clean
    * table, which the refusals have kept byte-stable across reps. The
    * Delta invariant/constraint story on Spark's own enforcement —
    * no bespoke writer-side evaluator to drift from SQL semantics. */
  def checkConstraintGate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    ensureTable(d, "jsonl_ck_gate",
        after = stampMeta(_.copy(constraints = Seq("positive_value" -> "value >= 0")))) {
      Tables.events(spark, d)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .filter($"value" >= 0)
        .repartitionByRange(buckets, $"value")
    }
    val refused =
      try {
        spark.sql(s"INSERT INTO $cat.jsonl_ck_gate VALUES (999999901, 1, 'poison', -1.0)")
        false
      } catch { case _: Exception => true }
    require(refused, "CHECK constraint failed to refuse the poisoned insert")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_ck_gate
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q204: RENAME COLUMN via column mapping (the Delta column-mapping
    * idea): the fixture renames `user_id` → `uid` ONCE at build (a
    * pure `_table.json` rewrite — data bytes and manifest stats keys
    * keep the physical name forever), then every run reads the renamed
    * schema: the reader translates logical → physical per projected
    * column, manifest MIN/MAX pushdown resolves bounds under the
    * physical key, and appends through the new schema write the
    * physical field so old and new files stay byte-compatible
    * (spec-proven; declared layout columns and constraint-referenced
    * columns refuse renames). Oracle reads the parquet feed with the
    * rename applied as a projection alias. */
  def renamedColumnRead(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    ensureTable(d, "jsonl_renamed",
        after = _ => spark.sql(s"ALTER TABLE $cat.jsonl_renamed RENAME COLUMN user_id TO uid"))(
      valueRangedFeed(spark, d))
    spark.sql(
      s"""SELECT event_type, count(*) AS n, min(uid) AS min_uid, max(uid) AS max_uid,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_renamed
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q219: MERGE-ON-READ UPDATE — the matched row's position joins a
    * deletion vector and its new image is APPENDED as ordinary data
    * rows, both in ONE manifest swap (there is no instant where a row
    * is gone-but-not-replaced): needle updates at O(matched rows)
    * write volume where q173's copy-on-write rewrites whole files.
    * The predicate includes `value <> 0` so re-running matches
    * nothing — idempotent across reps by construction. Oracle = the
    * updated derivation over parquet; JsonlStatsSpec proves original
    * files keep their bytes, the images land in appended files, and
    * rewrite_deletes collapses the whole history. */
  def dvUpdate(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    ensureMorTable(spark, d, "jsonl_mor_update")
    spark.sql(
      s"UPDATE $cat.jsonl_mor_update SET value = 0.0 " +
        "WHERE event_type = 'error' AND value <> 0.0")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_mor_update
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q220: MERGE-ON-READ MERGE — q174's corrections batch (purchases
    * doubled = matched-update, per-type adjustment rows = not-matched
    * insert) driven through the deletion-vector delta path: matched
    * rows mask their old position and their new image appends, inserts
    * append directly, ALL in one manifest swap — the full MERGE at
    * O(touched rows) write volume on a table whose files are never
    * rewritten. The matched arm guards `t.value <> s.value` so a
    * replayed batch matches nothing — reps are storage-no-ops, not
    * just content-no-ops. Oracle = q174's derivation verbatim (the
    * two paths MUST agree — same semantics, different storage). */
  def dvMerge(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    ensureMorTable(spark, d, "jsonl_mor_merge")
    Tables.events(spark, d)
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"event_type", ($"value" * 2).as("value"))
      .union(
        Tables.events(spark, d).groupBy($"event_type")
          .agg(count(lit(1)).cast("double").as("value"))
          .select((-xxhash64($"event_type") % 1000000000L - 1000000000L).as("event_id"),
            lit(0L).as("user_id"), $"event_type", $"value"))
      .createOrReplaceTempView("mor_corrections")
    spark.sql(
      s"""MERGE INTO $cat.jsonl_mor_merge t
         |USING mor_corrections s
         |ON t.event_id = s.event_id
         |WHEN MATCHED AND t.value <> s.value THEN UPDATE SET value = s.value
         |WHEN NOT MATCHED THEN INSERT (event_id, user_id, event_type, value)
         |  VALUES (s.event_id, s.user_id, s.event_type, s.value)""".stripMargin)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_mor_merge
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q172: SQL DELETE FROM through the connector's row-level-operation
    * leg (`SupportsRowLevelOperations`, copy-on-write at file
    * granularity): the group filter finds the files containing matching
    * rows, only those are rewritten without the matching rows, and the
    * manifest swap commits — the connector as a MUTABLE table format.
    * Idempotent by construction (a second delete matches nothing), so
    * bench reps converge. Oracle = the parquet feed minus the deleted
    * class; JsonlStatsSpec proves unaffected files are not rewritten. */
  def rowLevelDelete(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    ensureMutableTable(spark, d, "jsonl_mut_delete")
    spark.sql(s"DELETE FROM $cat.jsonl_mut_delete WHERE event_type = 'click'")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_mut_delete
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q173: SQL UPDATE through the same rewrite machinery — matching
    * rows re-emitted with the assignment applied, non-matching rows of
    * affected files carried through verbatim. The assignment
    * (`value = 0`) is chosen idempotent so reps converge. */
  def rowLevelUpdate(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    ensureMutableTable(spark, d, "jsonl_mut_update")
    spark.sql(s"UPDATE $cat.jsonl_mut_update SET value = 0.0 WHERE event_type = 'error'")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_mut_update
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q174: SQL MERGE INTO through the connector — the S9 upsert
    * semantics at the TABLE-FORMAT layer (q83 implements them over
    * parquet partitions engine-side; here Spark's MERGE rewrite drives
    * the connector's own copy-on-write machinery). The source feed is
    * a deterministic corrections batch: every purchase row's value
    * doubled (matched → update), plus one synthetic adjustment row per
    * event_type with a negative id (not matched → insert). Both arms
    * are idempotent: re-merging sets the same values and re-matches the
    * previously inserted rows. */
  def rowLevelMerge(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    ensureMutableTable(spark, d, "jsonl_mut_merge")
    Tables.events(spark, d)
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"event_type", ($"value" * 2).as("value"))
      .union(
        Tables.events(spark, d).groupBy($"event_type")
          .agg(count(lit(1)).cast("double").as("value"))
          .select((-xxhash64($"event_type") % 1000000000L - 1000000000L).as("event_id"),
            lit(0L).as("user_id"), $"event_type", $"value"))
      .createOrReplaceTempView("corrections")
    spark.sql(
      s"""MERGE INTO $cat.jsonl_mut_merge t
         |USING corrections s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET value = s.value
         |WHEN NOT MATCHED THEN INSERT (event_id, user_id, event_type, value)
         |  VALUES (s.event_id, s.user_id, s.event_type, s.value)""".stripMargin)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_mut_merge
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q180 (r7): VACUUM — the deletion point of the deferred-GC
    * protocol. Every write path (truncate/replace/row-level/compact)
    * now leaves superseded data files on disk because archived
    * manifests still reference them (snapshots outlive commits);
    * `CALL <cat>.vacuum(table, retain_last, orphan_grace_ms)` is the
    * ONLY place files die: it expires archived generations beyond
    * retention, deletes the files no surviving manifest references
    * (pure manifest arithmetic — no listing), sweeps crash orphans
    * behind an age grace, and records the time-travel horizon so
    * expired-snapshot reads fail loudly by BOTH version and timestamp
    * (JsonlStatsSpec pins all of it). The fixture deletes a class and
    * vacuums to retention 1; the read-back aggregate equals the
    * parquet-side oracle, proving GC is invisible to the live table.
    * Idempotent across reps: re-deleting matches nothing, re-vacuuming
    * finds nothing to expire. */
  def vacuumTable(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    ensureMutableTable(spark, d, "jsonl_mut_vacuum")
    spark.sql(s"DELETE FROM $cat.jsonl_mut_vacuum WHERE event_type = 'click'")
    spark.sql(s"CALL $cat.vacuum('jsonl_mut_vacuum', retain_last => 1, orphan_grace_ms => 0)")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_mut_vacuum
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q182 (r7): replaceWhere — `INSERT INTO t REPLACE WHERE p SELECT …`
    * through the connector's `SupportsOverwrite` leg: delete-the-
    * matching-rows + insert-the-new-data in ONE manifest swap. On this
    * key-grouped layout the predicate (`event_type = 'purchase'`)
    * resolves at file granularity by pkey alone — the old partition's
    * files leave the manifest as metadata (zero data reads), the
    * replacement lands re-keyed (same clustered+sorted write contract
    * as CTAS), and unaffected partitions keep their very files. This
    * is the nightly-backfill idiom: at 100 TB, replacing one
    * partition costs the new data's write plus a manifest round-trip.
    * A predicate that straddles a file refuses loudly
    * (JsonlStatsSpec) — partial-file overwrite is DELETE's job. The
    * replacement (purchases at doubled value) is recomputed from the
    * source feed, so reps converge. */
  def replaceWhere(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    ensureTypeKeyedFact(spark, d)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $cat.jsonl_mut_replace PARTITIONED BY (event_type) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_by_type""".stripMargin)
    Tables.events(spark, d)
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"event_type", ($"value" * 2).as("value"))
      .createOrReplaceTempView("purchase_recompute")
    spark.sql(
      s"""INSERT INTO $cat.jsonl_mut_replace REPLACE WHERE event_type = 'purchase'
         |SELECT event_id, user_id, event_type, value FROM purchase_recompute""".stripMargin)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_mut_replace
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q246 (r9): STREAMING SINK × HIDDEN PARTITIONING — the
    * exactly-once epoch appends (q192's txn-ledger contract) routed
    * through the bucket transform: each micro-batch's writer derives
    * per-row bucket ids and lands one file per (task, bucket), every
    * entry stamped with its spec. The read back is a point lookup with
    * NO partitionColumn option at all — the per-entry spec stamps make
    * a path read self-describing, so bucket pruning fires from the
    * manifest alone (law in JsonlStatsSpec). The composition matters
    * at 100 TB because ingest IS streaming there: a table whose layout
    * only materialized under batch writers would shuffle every
    * point lookup against fresh data. */
  def streamingHiddenBucket(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val src = ensureWrittenFixture(spark, d)
    val sink = Landing.streamState(d, "jsonl_stream_bucket")
    val out = streamInto(spark, src, sink, s"$sink/_checkpoint", "q246",
      sinkOpts = Map("partitionColumn" -> "bucket(8,user_id)"))
    val probeUid = Tables.events(spark, d).agg(max($"user_id")).head().getLong(0)
    out.filter($"user_id" === probeUid)
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
  }

  /** q252 (r9b): EQUALITY-DELETE UPSERT — merge-on-read's streaming
    * half ([[JsonlEqualityDeletes]], the Iceberg v2 equality-delete
    * shape): one append-shaped commit both INSERTS its rows and
    * RETRACTS every older row sharing their keys, without reading a
    * byte of the base — what MERGE (q83) costs a full join of, and
    * what position DVs (q196) cannot express when the writer never
    * read the rows it replaces. Here every error-active user's event
    * history collapses to one summary row: task writers ship their
    * distinct keys as delete files, the commit stamps sequence
    * numbers, and the masked read serves the upserted image. The base
    * rebuild (overwrite) is priced each rep, like the CTAS lifecycle
    * cells. */
  def equalityUpsert(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = Landing.fixtureDir(d, "jsonl_eq_upsert")
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
    spark.read.format("graft-jsonl-stats").option("path", dir).load()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }

  /** q253 (r9b): STREAMING UPSERT SINK — the Flink→Iceberg CDC shape
    * end-to-end: a stream lands as upsert epochs under the exactly-once
    * txn ledger, each epoch's retraction (its tasks' equality-delete
    * files) and inserts in ONE commit with the watermark — a replayed
    * epoch can never re-retract. The sink is pre-seeded with the same
    * image, so the epoch retracts every pre-seeded key and the final
    * table IS the source image: the read proves retraction + insert +
    * exactly-once in one oracle. (AvailableNow over the manifest
    * source plans one epoch; overlapping keys across epochs would
    * keep only the newest image — upsert semantics — and the oracle
    * would flag any drift loudly.) */
  def streamingUpsert(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val src = ensureWrittenFixture(spark, d)
    val sink = Landing.fixtureDir(d, "jsonl_stream_upsert")
    Files.createDirectories(Paths.get(sink))
    val ev = Tables.events(spark, d)
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.repartitionByRange(buckets, $"value")
      .write.format("graft-jsonl-stats").option("path", sink)
      .mode("overwrite").save()
    val rep = runSeq.incrementAndGet()
    streamInto(spark, src, sink, s"$sink/_ckpt-$rep", s"q253-$rep",
      sinkOpts = Map("upsertKeys" -> "user_id"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }

  /** q260 (r9c): RATE-LIMITED STREAM DRAIN — `maxFilesPerTrigger`
    * admission control (the Delta option, via DSv2
    * `SupportsAdmissionControl` + `SupportsTriggerAvailableNow`): a
    * backlog drains as a SEQUENCE of bounded, checkpointed micro-
    * batches instead of one giant catch-up batch — at 100 TB this is
    * what keeps a restart from planning ten thousand files into a
    * single stateful step. AvailableNow freezes its target manifest up
    * front and steps to it; the aggregate over the drained sink must
    * equal the batch derivation, proving bounded admission loses and
    * duplicates nothing (per-batch laws in StreamAdmissionSpec). */
  def rateLimitedDrain(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val src = ensureIdRangedFixture(spark, d)
    val sink = Landing.fixtureDir(d, "jsonl_admission_sink")
    graft.util.Fs.deleteRecursively(sink) // lifecycle cell: fresh sink + checkpoint per rep
    Files.createDirectories(Paths.get(sink))
    val rep = runSeq.incrementAndGet()
    streamInto(spark, src, sink, s"$sink/_ckpt", s"q260-$rep",
      srcOpts = Map("maxFilesPerTrigger" -> "2"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Drain the connector table at `src` into the one at `sink` with an
    * AvailableNow streaming write (`srcOpts` on the read, `sinkOpts` on
    * the write; `ckpt` and `appId` make it exactly-once), then read the
    * sink back. */
  private def streamInto(spark: SparkSession, src: String, sink: String, ckpt: String,
                         appId: String, sinkOpts: Map[String, String] = Map.empty,
                         srcOpts: Map[String, String] = Map.empty): DataFrame = {
    spark.readStream.format("graft-jsonl-stats").option("path", src).options(srcOpts).load()
      .writeStream.format("graft-jsonl-stats")
      .option("path", sink).options(sinkOpts)
      .option("checkpointLocation", ckpt)
      .option("txnAppId", appId)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    spark.read.format("graft-jsonl-stats").option("path", sink).load()
  }

  /** q161: STREAMING read through the connector — the manifest doubles
    * as the incremental-progress source (offset = manifested file set;
    * each micro-batch reads exactly the files that joined since the
    * last offset — Delta's streaming-source shape on the same
    * immutable-files + manifest-swap contract the write side
    * established). AvailableNow drains the table; the complete-mode
    * aggregate must equal the batch/oracle derivation, proving the
    * drain saw every file exactly once. Per-file exactly-once under
    * checkpoint recovery is proven in JsonlStatsSpec. */
  def streamingManifestRead(spark0: SparkSession, d: String): DataFrame = {
    val dir = ensureWrittenFixture(spark0, d)
    // stateful streaming agg: plan in the 8-partition stream session
    // (state-store instance count, see MicroBatch.streamSession)
    val spark = graft.streaming.MicroBatch.streamSession(spark0)
    import spark.implicits._
    val name = "dsv2_stream_" + d.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + runSeq.incrementAndGet()
    val q = spark.readStream.format("graft-jsonl-stats").option("path", dir).load()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msumDec($"value").as("sum_dec"))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
      .select($"event_type", $"n", $"sum_dec".cast("double").as("value_sum"))
      .orderBy($"event_type")
  }

  /** q231 (r8): CONCURRENT MULTI-WRITER APPEND through the optimistic
    * commit loop ([[JsonlStats.commitAtomic]]) — the multi-job ingest
    * shape every warehouse table format must survive: three driver
    * threads race `writeTo(...).append()` against ONE connector table
    * (plus the seeding overwrite, which takes the serializable arm),
    * each commit CAS-reserving its version slot and rebasing its
    * blind append on whichever base wins. The registered read
    * aggregates the table afterwards and the oracle recomputes the
    * same content from parquet — equality IS the no-lost-update law,
    * end-to-end through SQL (the unit laws live in ConcurrencySpec).
    * At 100 TB this is N ingest jobs landing on one table: commit cost
    * is O(manifest) metadata arithmetic + each writer's own files;
    * contention costs bounded CAS retries, never a table lock and
    * never silent data loss. */
  def concurrentAppend(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    val table = "jsonl_occ_append"
    val dir = Landing.fixtureDir(d, table)
    Files.createDirectories(Paths.get(dir))
    val ev = Tables.events(spark, d)
      .select($"event_id", $"user_id", $"event_type", $"value")
    // fresh generation every rep (reps must not accumulate): the
    // overwrite truncates through the same OCC commit
    ev.where(pmod($"event_id", lit(4)) === 0)
      .write.format("graft-jsonl-stats").option("path", dir)
      .mode("overwrite").save()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val barrier = new java.util.concurrent.CyclicBarrier(3)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to 3).foreach { r =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
            ev.where(pmod($"event_id", lit(4)) === r)
              .writeTo(s"$cat.$table").append()
          } catch { case e: Throwable => errs.add(e) }
      })
    }
    pool.shutdown()
    require(pool.awaitTermination(300, java.util.concurrent.TimeUnit.SECONDS)
      && errs.isEmpty, s"concurrent appender failed: ${Option(errs.peek())}")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.$table
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q233 (r8): PROTOCOL-GATED READ — the Delta reader-features idea on
    * the connector's sidecar: write paths STAMP read-gating features
    * the moment they first use the capability (the DELETE's first
    * deletion vector, the RENAME's column mapping), and every
    * resolution path refuses a table whose feature list names
    * something this build does not implement — loud forward
    * incompatibility instead of silently resurrecting masked rows or
    * nulling renamed columns. Each run re-proves the refusal on a
    * future-featured sidecar (q203's device: the negative arm executes
    * every rep), then reads the doubly-featured table with BOTH
    * features load-bearing in the result: the masked slice must be
    * absent (DVs honored) and the renamed column non-null (mapping
    * honored) — `count(uid)` collapses to zero if a reader ignores the
    * mapping, so the oracle catches it. */
  def protocolGatedRead(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    val dir = Landing.fixtureDir(d, "jsonl_proto_gate")
    // one-way DDL (RENAME) inside: rebuild from scratch every rep
    graft.util.Fs.deleteRecursively(dir)
    Files.createDirectories(Paths.get(dir))
    Tables.events(spark, d)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val m0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, m0.statsCol.get, m0.partitionCol, m0.schema.get,
      m0.bloomCol, deleteMode = Some("merge-on-read"))
    val table = Paths.get(dir).getFileName.toString
    spark.sql(s"DELETE FROM $cat.$table WHERE event_type = 'click'")
    spark.sql(s"ALTER TABLE $cat.$table RENAME COLUMN user_id TO uid")
    val m = JsonlStats.readTableMeta(dir)
    require(m.features.toSet ==
      Set(JsonlStats.FeatureDvs, JsonlStats.FeatureColumnMapping),
      s"write paths must stamp their read-gating features, got ${m.features}")
    // negative arm, re-proven every run: a future feature must refuse
    JsonlStats.writeTableMeta(dir, m.statsCol.get, m.partitionCol, m.schema.get,
      m.bloomCol, m.deleteMode, m.constraints, m.columnMapping,
      m.features :+ "future-feature")
    val refused =
      try { spark.read.format("graft-jsonl-stats").option("path", dir).load().collect(); false }
      catch { case t: Throwable =>
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .exists(c => Option(c.getMessage).exists(_.contains("future-feature"))) }
    require(refused, "an unknown read-gating feature must refuse the read")
    JsonlStats.writeTableMeta(dir, m.statsCol.get, m.partitionCol, m.schema.get,
      m.bloomCol, m.deleteMode, m.constraints, m.columnMapping, m.features)
    spark.sql(
      s"""SELECT event_type, count(*) AS n, count(uid) AS n_uid,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.$table
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q236 (r8): COLUMN DEFAULT VALUES — schema evolution that back-
    * fills WITHOUT rewriting history: `ALTER TABLE ... ADD COLUMN
    * bonus DOUBLE DEFAULT 2.5` is one sidecar write; every file
    * written BEFORE the column existed reads the EXISTS default (the
    * JSON field is absent — an explicitly-written null stays null,
    * the Iceberg/Delta initial-default distinction), INSERTs that
    * omit the column get the CURRENT default from Spark's own
    * analyzer (the SUPPORT_COLUMN_DEFAULT_VALUE capability), and the
    * table stamps the `column-defaults` protocol feature so a
    * default-blind reader refuses instead of serving nulls. Defaults
    * are LITERALS only — an expression default would re-evaluate per
    * read. The registered run evolves the schema, appends a slice
    * with explicit values, and aggregates the mixed column; at 100 TB
    * the alternative is a full-table rewrite to materialize the new
    * column. */
  def columnDefaultRead(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    val dir = Landing.fixtureDir(d, "jsonl_default_col")
    // one-way DDL inside: rebuild from scratch every rep
    graft.util.Fs.deleteRecursively(dir)
    Files.createDirectories(Paths.get(dir))
    val ev = Tables.events(spark, d)
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val table = Paths.get(dir).getFileName.toString
    spark.sql(s"ALTER TABLE $cat.$table ADD COLUMN bonus DOUBLE DEFAULT 2.5")
    // a later slice arrives WITH explicit values for the new column
    ev.filter($"event_id" % 5 === 0)
      .withColumn("bonus", $"value" / 10)
      .writeTo(s"$cat.$table").append()
    spark.sql(
      s"""SELECT event_type, count(*) AS n, count(bonus) AS n_bonus,
         |  CAST(SUM(CAST(bonus AS DECIMAL(18,6))) AS DOUBLE) AS bonus_sum
         |FROM $cat.$table
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q237 (r8): DROP COLUMN — the last member of the zero-IO schema-
    * evolution family (RENAME q204, ADD+DEFAULT q236): one sidecar
    * write removes the column from the schema and RESERVES its
    * physical JSON key forever, because old files still carry the
    * bytes and an identity-mapped re-ADD would resurrect them — the
    * re-ADD refusal is re-proven every run (q203's negative-arm
    * device). The registered read aggregates the surviving columns;
    * a reader that mis-handled the drop (served the old bytes under a
    * later same-named column) cannot produce the oracle's content.
    * At 100 TB the alternative is a full-table rewrite to physically
    * remove the column. */
  def dropColumnRead(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    val dir = Landing.fixtureDir(d, "jsonl_drop_col")
    // one-way DDL inside: rebuild from scratch every rep
    graft.util.Fs.deleteRecursively(dir)
    Files.createDirectories(Paths.get(dir))
    Tables.events(spark, d)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val table = Paths.get(dir).getFileName.toString
    spark.sql(s"ALTER TABLE $cat.$table DROP COLUMN user_id")
    require(JsonlStats.readTableMeta(dir).reserved == Seq("user_id"),
      "the dropped column's physical key must be reserved")
    // negative arm, re-proven every run: the reservation refuses re-ADD
    val refused =
      try { spark.sql(s"ALTER TABLE $cat.$table ADD COLUMN user_id LONG"); false }
      catch { case t: Throwable =>
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .exists(c => Option(c.getMessage).exists(_.contains("DROPPED"))) }
    require(refused, "re-adding a dropped column's name must refuse")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.$table
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q292 (r12b): DYNAMIC PARTITION OVERWRITE — the nightly
    * partition-reload idiom (`df.writeTo(t).overwritePartitions()` /
    * `INSERT OVERWRITE` under dynamic mode). The incoming rows' derived
    * keys ARE the replace set: those partitions' entries leave the live
    * manifest (still time-travelable until vacuum), every other key's
    * files survive byte-verbatim in one atomic swap — Iceberg's
    * ReplacePartitions semantics on this manifest protocol. Here: the
    * table seeds with half of every event type, then two partitions
    * (purchase, error) are RELOADED in full; the readout shows full
    * counts for the reloaded keys and half counts for the untouched
    * ones, recomputed by the oracle from raw parquet. At 100 TB this is
    * the recompute-yesterday pattern: one day's partitions swap, the
    * year's files never move. */
  def dynamicPartitionOverwrite(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.events_dyn")
    Tables.events(spark, d)
      .select(col("event_type"), col("value"), col("event_id"))
      .createOrReplaceTempView("dyn_src")
    spark.sql(
      s"""CREATE TABLE $cat.events_dyn USING `graft-jsonl-stats`
         |PARTITIONED BY (event_type)
         |AS SELECT * FROM dyn_src WHERE event_id % 2 = 0""".stripMargin)
    spark.table("dyn_src")
      .where(col("event_type").isin("purchase", "error"))
      .writeTo(s"$cat.events_dyn").overwritePartitions()
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.events_dyn
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q161_dsv2_stream_read" -> streamingManifestRead,
    "q172_dsv2_delete" -> rowLevelDelete,
    "q173_dsv2_update" -> rowLevelUpdate,
    "q174_dsv2_merge" -> rowLevelMerge,
    "q175_catalog_ctas" -> catalogCtas,
    "q180_vacuum" -> vacuumTable,
    "q182_replace_where" -> replaceWhere,
    "q192_dsv2_stream_sink" -> streamingManifestWrite,
    "q196_dv_delete" -> dvDelete,
    "q197_dv_rewrite" -> dvRewrite,
    "q203_check_constraint" -> checkConstraintGate,
    "q204_rename_column" -> renamedColumnRead,
    "q219_dv_update" -> dvUpdate,
    "q220_dv_merge" -> dvMerge,
    "q231_concurrent_append" -> concurrentAppend,
    "q233_protocol_gate" -> protocolGatedRead,
    "q236_column_default" -> columnDefaultRead,
    "q237_drop_column" -> dropColumnRead,
    "q246_stream_hidden_bucket" -> streamingHiddenBucket,
    "q252_equality_upsert" -> equalityUpsert,
    "q253_streaming_upsert" -> streamingUpsert,
    "q260_rate_limited_drain" -> rateLimitedDrain,
    "q292_dynamic_overwrite" -> dynamicPartitionOverwrite,
  )

  val oracles = Map(
    "q161_dsv2_stream_read" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q172_dsv2_delete" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE event_type <> 'click'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q196_dv_delete" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE event_type <> 'click' AND value >= 100.0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q197_dv_rewrite" ->
      """SELECT count(*) AS n, min(value) AS min_value, max(value) AS max_value
        |FROM events
        |WHERE value >= 100.0""".stripMargin,
    "q203_check_constraint" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE value >= 0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q204_rename_column" ->
      """SELECT event_type, count(*) AS n, min(user_id) AS min_uid, max(user_id) AS max_uid,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q219_dv_update" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(CASE WHEN event_type = 'error' THEN 0.0 ELSE value END
        |    AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q173_dsv2_update" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(CASE WHEN event_type = 'error' THEN 0.0 ELSE value END
        |    AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q175_catalog_ctas" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE event_type = 'purchase'""".stripMargin,
    "q180_vacuum" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE event_type <> 'click'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q252_equality_upsert" ->
      """WITH err AS (
        |  SELECT user_id, count(*) AS cnt FROM events
        |  WHERE event_type = 'error' AND user_id % 3 = 0 GROUP BY user_id)
        |SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM (
        |  SELECT e.event_id, e.user_id, e.event_type, e.value FROM events e
        |  WHERE e.user_id NOT IN (SELECT user_id FROM err)
        |  UNION ALL
        |  SELECT -user_id - 1 AS event_id, user_id,
        |    'error_summary' AS event_type, CAST(cnt AS DOUBLE) AS value
        |  FROM err) AS u
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q253_streaming_upsert" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q292_dynamic_overwrite" ->
      ("WITH rows AS (\n" +
      "  SELECT event_type, value FROM events\n" +
      "  WHERE event_type IN ('purchase', 'error') OR event_id % 2 = 0)\n" +
      "SELECT event_type, count(*) AS n,\n" +
      "  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum\n" +
      "FROM rows GROUP BY event_type ORDER BY event_type"),
    "q260_rate_limited_drain" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q246_stream_hidden_bucket" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE user_id = (SELECT max(user_id) FROM events)""".stripMargin,
    "q182_replace_where" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END
        |    AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q231_concurrent_append" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q234: inserts = the whole feed (both appended generations),
    // deletes = the slice the merge-on-read DELETE masked — both legs
    // recomputed from parquet, so the hash pins image exactness AND
    // the exactly-once version offsets across the three drains
    "q236_column_default" ->
      """SELECT event_type, count(*) AS n, count(bonus) AS n_bonus,
        |  CAST(SUM(CAST(bonus AS DECIMAL(18,6))) AS DOUBLE) AS bonus_sum
        |FROM (
        |  SELECT event_type, 2.5 AS bonus FROM events
        |  UNION ALL
        |  SELECT event_type, value / 10 AS bonus FROM events WHERE event_id % 5 = 0
        |)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q238: the fixture is the feed replicated 16x, so every group's
    // count and sum scale by 16; the cut mirrors the engine arithmetic
    "q237_drop_column" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q233: n_uid = n iff the reader honors the column mapping (a
    // mapping-blind reader serves NULLs and count(uid) collapses);
    // the click slice absent iff DVs are honored
    "q233_protocol_gate" ->
      """SELECT event_type, count(*) AS n, count(user_id) AS n_uid,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE event_type <> 'click'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q192_dsv2_stream_sink" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q174_dsv2_merge" ->
      """WITH merged AS (
        |  SELECT event_type,
        |    CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END AS value
        |  FROM events
        |  UNION ALL
        |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS value
        |  FROM events GROUP BY event_type)
        |SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM merged
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q220_dv_merge" ->
      """WITH merged AS (
        |  SELECT event_type,
        |    CASE WHEN event_type = 'purchase' THEN value * 2 ELSE value END AS value
        |  FROM events
        |  UNION ALL
        |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS value
        |  FROM events GROUP BY event_type)
        |SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM merged
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
  )
}

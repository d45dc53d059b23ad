package graft.silver

import graft.QueryModule
import graft.ingest.{Landing, Tables}
import graft.util.Det._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths, StandardOpenOption}

/** MERGE / keyed upsert silver refresh — the reference warehouse DAG's
  * `merge_silver_user_events` step (dag_streamflow_warehouse.py:118-126,
  * chained bronze→silver→gold at :139; Stream_Analytics_Phase_2.md Phase-2
  * Task `refresh_silver`). Snowflake runs a `MERGE` per batch: new keys
  * insert, existing keys update, latest record wins.
  *
  * Spark has no MERGE over plain parquet, so the engine re-expresses the
  * same semantics with the standard partition-pruned rewrite:
  *
  *   1. the delta's touched partitions are collected (bounded by contract:
  *      a refresh batch spans O(days), not O(data)),
  *   2. the silver base is read WITH a partition filter on that set — the
  *      scan prunes to touched directories only (PartitionFilters in the
  *      plan), so merge cost scales with the delta, not the table,
  *   3. base ∪ delta → `row_number()` over (key, version DESC, source
  *      priority DESC) keeps the latest record per key — delta wins a
  *      version tie, which is what makes re-applying the same delta a
  *      no-op (idempotent refresh, the exactly-once story under
  *      at-least-once delivery),
  *   4. the result lands via DYNAMIC partition overwrite: only partitions
  *      present in the merged output are replaced; untouched partitions'
  *      files are never rewritten (asserted by MergeUpsertSpec).
  *
  * Constraint (standard for date-partitioned upserts): the partition
  * column must be stable per key — a delta row relocating a key to a new
  * partition would leave the old copy behind. The reference's event
  * stream satisfies this (event time never mutates).
  *
  * At 100 TB: step 2's pruning + step 4's dynamic overwrite keep the
  * rewrite proportional to touched partitions; the dedup shuffle is one
  * hash exchange over (touched base ∪ delta) on the key.
  */
object MergeUpsert extends QueryModule {

  /** Latest-record-wins dedup: highest version per key, source priority
    * (`_src`: delta=1, base=0) breaking version ties in the delta's
    * favor — Snowflake's WHEN MATCHED THEN UPDATE. */
  private def latestWins(df: DataFrame, keyCols: Seq[String], versionCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("_src").desc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")
  }

  /** The MERGE: upsert `delta` into the parquet table at `silverDir`.
    * First call (no table yet) is the initial load. An EMPTY delta is a
    * no-op (a zero-row micro-batch must not kill the streaming leg —
    * review r5: staging an empty frame writes no part files and the
    * read-back throws).
    *
    * Tombstones (the `WHEN MATCHED AND <flag> THEN DELETE` arm) are
    * RETAINED as stored rows, not physically dropped: under
    * at-least-once delivery a redelivered EARLIER batch can arrive
    * after the delete, and only a stored tombstone can outversion it
    * in [[latestWins]] (review r5 — the previous physical drop meant a
    * replayed stale batch found no competitor and resurrected the key).
    * Readers see the CURRENT view through [[readCurrent]], which
    * filters tombstoned keys; a retention/compaction pass (q97's
    * machinery) may purge tombstones older than the redelivery
    * horizon. A welcome structural consequence: a batch that deletes a
    * whole partition still writes rows (the tombstones) into it, so
    * dynamic overwrite replaces the partition normally and no
    * out-of-band file deletion is needed. */
  def merge(silverDir: String, delta: DataFrame, keyCols: Seq[String],
            versionCol: String, partitionCol: String): Unit = {
    val spark = delta.sparkSession
    val exists = Files.isDirectory(Paths.get(silverDir)) && {
      val s = Files.list(Paths.get(silverDir))
      try s.findFirst().isPresent finally s.close()
    }
    if (!exists) {
      if (delta.isEmpty) return // zero-row batch: nothing to merge
      latestWins(delta.withColumn("_src", lit(1)), keyCols, versionCol)
        .write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(silverDir)
    } else {
      // touched-partition set: bounded by contract (a batch spans
      // O(days)). This collect doubles as the empty-batch gate (r17:
      // the separate isEmpty() action was one more job per merge —
      // an empty delta yields an empty set here at the same cost).
      val touched = delta.select(col(partitionCol)).distinct().collect().map(_.get(0))
      if (touched.isEmpty) return // zero-row batch: nothing to merge
      val base = spark.read.parquet(silverDir)
        .filter(col(partitionCol).isin(touched: _*)) // partition-pruned scan
        .withColumn("_src", lit(0))
      val merged = latestWins(
        base.unionByName(delta.withColumn("_src", lit(1))), keyCols, versionCol)
      // Materialize BEFORE overwriting (r17, guide §1.2/§6): the merged
      // rows used to be staged as a parquet table and read back so the
      // dynamic overwrite never read the path it replaces — a full
      // second write of every touched partition. localCheckpoint gives
      // the same two guarantees at block-store cost instead: the plan
      // no longer references silver's files (so Spark's overwrite-a-
      // read-path check passes and the delete cannot unseat the data),
      // and the rows are fully computed before any file is removed. The
      // crash envelope is unchanged — the old scheme's dynamic
      // overwrite could also die mid-commit after staging succeeded.
      // At 100 TB the checkpointed state is touched-partitions-sized
      // (delta-bounded by contract), the same bytes the staging table
      // held on disk.
      val ck = merged.localCheckpoint()
      ck.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic") // replace touched partitions only
        .partitionBy(partitionCol).parquet(silverDir)
      ck.unpersist(false)
    }
  }

  /** The CURRENT view of a silver table: tombstoned keys filtered out
    * at read time (the stored tombstones are what defend deletes
    * against redelivered stale batches). */
  def readCurrent(spark: SparkSession, silverDir: String,
                  tombstoneCol: Option[String] = None): DataFrame =
    tombstoneCol.fold(spark.read.parquet(silverDir))(tc =>
      spark.read.parquet(silverDir).filter(!col(tc)))

  // ------------------------------------------------------------- fixtures

  /** Silver base: the events table as an initial load (version 1). */
  private[graft] def baseEvents(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .select($"event_id", $"user_id", $"event_type", $"value", $"ts")
      .withColumn("event_date", to_date($"ts"))
      .withColumn("load_seq", lit(1L))
  }

  /** Refresh batch: corrections (value + 1000) for every 5th key and
    * brand-new keys (id + 1e9) for every 17th, both confined to
    * day-of-month ≤ 7 — so the merge touches a strict subset of the
    * table's date partitions and the pruning is observable. */
  private[graft] def deltaEvents(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val base = baseEvents(spark, d).filter(dayofmonth($"ts") <= 7)
    val updates = base.filter($"event_id" % 5 === 0)
      .withColumn("value", $"value" + 1000.0)
      .withColumn("load_seq", lit(2L))
    val inserts = base.filter($"event_id" % 17 === 0)
      .withColumn("event_id", $"event_id" + 1000000000L)
      .withColumn("load_seq", lit(2L))
    updates.unionByName(inserts)
  }

  /** Delete-variant fixtures: the table carries a tombstone column
    * (false everywhere in the base), and the refresh batch mixes
    * corrections (every 5th key) with deletions (every 11th key not
    * already updated — disjoint sets, so no same-version tie), again
    * confined to day-of-month ≤ 7. */
  private[graft] def baseEventsDel(spark: SparkSession, d: String): DataFrame =
    baseEvents(spark, d).withColumn("deleted", lit(false))

  private[graft] def deltaEventsDel(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val base = baseEventsDel(spark, d).filter(dayofmonth($"ts") <= 7)
    val updates = base.filter($"event_id" % 5 === 0)
      .withColumn("value", $"value" + 1000.0)
      .withColumn("load_seq", lit(2L))
    val deletes = base.filter($"event_id" % 11 === 0 && $"event_id" % 5 =!= 0)
      .withColumn("load_seq", lit(2L))
      .withColumn("deleted", lit(true))
    updates.unionByName(deletes)
  }

  /** q88: MERGE with the DELETE arm — tombstoned keys leave the table,
    * corrected keys update, new versions win. Idempotent like q83. */
  def mergeDelete(spark: SparkSession, d: String): DataFrame = {
    val silverDir = Landing.fixtureDir(d, "silver_merge_del")
    val marker = Paths.get(silverDir + "__init_ok")
    // orphan marker (table wiped, sibling marker survived a partial
    // cleanup — review r5): without this, merge() would rebuild the
    // table from the delta alone
    if (!Files.isDirectory(Paths.get(silverDir))) Files.deleteIfExists(marker)
    if (!Files.exists(marker)) {
      graft.util.Fs.deleteRecursively(silverDir)
      merge(silverDir, baseEventsDel(spark, d), Seq("event_id"), "load_seq", "event_date")
      Files.write(marker, Array.emptyByteArray,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
    merge(silverDir, deltaEventsDel(spark, d), Seq("event_id"), "load_seq", "event_date")
    refreshedSummary(spark, silverDir, tombstoneCol = Some("deleted"))
  }

  private def refreshedSummary(spark: SparkSession, silverDir: String,
                               tombstoneCol: Option[String] = None): DataFrame = {
    import spark.implicits._
    readCurrent(spark, silverDir, tombstoneCol)
      .groupBy($"event_date", $"event_type")
      .agg(count(lit(1)).as("n_rows"),
           count(when($"load_seq" === 2L, 1)).as("n_upserted"),
           msum($"value").as("total_value"))
      .orderBy($"event_date", $"event_type")
  }

  /** q83: initial load + merge of the refresh batch, summarized. Every
    * invocation re-applies the SAME delta — idempotence is what keeps
    * the Verify/Bench re-runs deterministic. */
  def mergeUpsert(spark: SparkSession, d: String): DataFrame = {
    val silverDir = Landing.fixtureDir(d, "silver_merge_events")
    val marker = Paths.get(silverDir + "__init_ok")
    // orphan marker heal — see mergeDelete
    if (!Files.isDirectory(Paths.get(silverDir))) Files.deleteIfExists(marker)
    if (!Files.exists(marker)) {
      graft.util.Fs.deleteRecursively(silverDir)
      merge(silverDir, baseEvents(spark, d), Seq("event_id"), "load_seq", "event_date")
      Files.write(marker, Array.emptyByteArray,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
    merge(silverDir, deltaEvents(spark, d), Seq("event_id"), "load_seq", "event_date")
    refreshedSummary(spark, silverDir)
  }

  // ------------------------------------------------------- streaming leg

  private val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
  private val wireSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("ts_str", StringType), StructField("load_seq", LongType)))

  /** q84: the same refresh driven by `foreachBatch` — each micro-batch of
    * the delta feed MERGEs into silver (the streaming silver-refresh the
    * reference runs on a DAG schedule). Merge idempotence makes replayed
    * batches safe (at-least-once delivery → exactly-once table state);
    * batches need no ordering because within this feed each key carries
    * one version. */
  def streamMergeUpsert(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val silverDir = Landing.fixtureDir(d, "silver_merge_stream")
    val ckpt = Landing.fixtureDir(d, "silver_merge_stream_ckpt")
    val wire = deltaEvents(spark, d).select(
      $"event_id", $"user_id", $"event_type", $"value",
      date_format($"ts", tsFmt).as("ts_str"), $"load_seq")
    val landing = Landing.ensureJsonlFixture(wire, d, "merge_delta_jsonl")
    def initBase(): Unit = {
      graft.util.Fs.deleteRecursively(silverDir)
      merge(silverDir, baseEvents(spark, d), Seq("event_id"), "load_seq", "event_date")
    }
    def drain(): Unit = {
      val q = spark.readStream.schema(wireSchema).json(landing)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val typed = batch
            .withColumn("ts", to_timestamp(col("ts_str"), tsFmt))
            .withColumn("event_date", to_date(col("ts")))
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), col("ts"), col("event_date"), col("load_seq"))
          merge(silverDir, typed, Seq("event_id"), "load_seq", "event_date")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // Orphan checkpoint (committed ckpt but silver table gone — partial
    // fixture cleanup) must be detected BEFORE draining: a drain against
    // the committed checkpoint is a no-op, so re-initializing the base
    // alone would silently skip the delta merge. Wiping the checkpoint
    // with the base forces a full replay, and the merge's idempotence
    // makes the replay converge to the same state (see q81's self-heal).
    if (!Files.isDirectory(Paths.get(silverDir))) {
      graft.util.Fs.deleteRecursively(ckpt)
      initBase()
    }
    drain()
    refreshedSummary(spark, silverDir)
  }

  /** q142: snapshot-diff CDC — the inverse of the MERGE family: given
    * two GENERATIONS of a dimension (no changelog was kept), emit the
    * change feed that transforms v1 into v2. One full outer join on the
    * key classifies every row: key only in v1 → delete, only in v2 →
    * insert, in both with different payload → update (unchanged rows
    * are dropped — the feed is the DELTA, which at 100 TB is the point:
    * downstream consumers replay changes, not snapshots). This is how a
    * warehouse bootstraps CDC out of periodic full exports.
    *
    * v2 is derived deterministically from v1 so the oracle can mirror
    * it: custkey % 89 == 0 rows deleted, % 97 == 0 get acctbal + 10,
    * % 101 == 0 cloned to a new key (+ 1,000,000) as inserts. */
  def snapshotDiffCdc(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val v1 = Tables.customer(spark, d)
      .select($"c_custkey", $"c_name", $"c_acctbal")
    val v2base = v1.filter($"c_custkey" % 89 =!= 0)
      .withColumn("c_acctbal",
        when($"c_custkey" % 97 === 0, $"c_acctbal" + 10.0).otherwise($"c_acctbal"))
    val v2new = v1.filter($"c_custkey" % 101 === 0)
      .select(($"c_custkey" + 1000000L).as("c_custkey"), $"c_name", $"c_acctbal")
    val v2 = v2base.unionByName(v2new)
    // presence flags, NOT payload nullness, classify the sides (review
    // r5: a legitimately-NULL payload on a key present in both
    // generations must read as unchanged/update, never insert/delete),
    // and the update test is null-safe (<=> negated) so null↔value
    // transitions surface as updates
    val o = v1.select($"c_custkey", lit(true).as("in_old"), $"c_acctbal".as("old_acctbal"))
    val n = v2.select($"c_custkey", lit(true).as("in_new"), $"c_acctbal".as("new_acctbal"))
    o.join(n, Seq("c_custkey"), "full_outer")
      .withColumn("op",
        when($"in_old".isNull, "insert")
          .when($"in_new".isNull, "delete")
          .when(!($"old_acctbal" <=> $"new_acctbal"), "update"))
      .filter($"op".isNotNull)
      .select($"op", $"c_custkey", $"old_acctbal", $"new_acctbal")
      .orderBy($"op", $"c_custkey")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q83_merge_upsert" -> mergeUpsert,
    "q84_stream_merge_upsert" -> streamMergeUpsert,
    "q88_merge_delete" -> mergeDelete,
    "q142_snapshot_diff_cdc" -> snapshotDiffCdc,
  )

  /** Oracle: MERGE ≡ QUALIFY row_number() = 1 over base ∪ delta (version
    * DESC per key). Versions are distinct across the two legs, so no
    * source-priority term is needed in the SQL. */
  private val mergeOracle =
    """WITH base AS (
      |  SELECT event_id, user_id, event_type, value,
      |    CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
      |    CAST(1 AS BIGINT) AS load_seq
      |  FROM events
      |), delta AS (
      |  SELECT event_id, user_id, event_type, value + 1000 AS value, ts,
      |    event_date, CAST(2 AS BIGINT) AS load_seq
      |  FROM base WHERE event_id % 5 = 0 AND EXTRACT(day FROM ts) <= 7
      |  UNION ALL
      |  SELECT event_id + 1000000000, user_id, event_type, value, ts,
      |    event_date, CAST(2 AS BIGINT)
      |  FROM base WHERE event_id % 17 = 0 AND EXTRACT(day FROM ts) <= 7
      |), merged AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY event_id
      |      ORDER BY load_seq DESC) AS rn
      |    FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      |  ) WHERE rn = 1
      |)
      |SELECT event_date, event_type, COUNT(*) AS n_rows,
      |  COUNT(CASE WHEN load_seq = 2 THEN 1 END) AS n_upserted,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM merged
      |GROUP BY event_date, event_type
      |ORDER BY event_date, event_type""".stripMargin

  val oracles = Map(
    "q83_merge_upsert" -> mergeOracle,
    "q84_stream_merge_upsert" -> mergeOracle,
    "q142_snapshot_diff_cdc" ->
      """WITH v1 AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |), v2 AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 97 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal
        |  FROM v1 WHERE c_custkey % 89 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_acctbal
        |  FROM v1 WHERE c_custkey % 101 = 0
        |), diff AS (
        |  SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
        |    o.c_acctbal AS old_acctbal, n.c_acctbal AS new_acctbal,
        |    CASE WHEN o.c_custkey IS NULL THEN 'insert'
        |         WHEN n.c_custkey IS NULL THEN 'delete'
        |         WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'update' END AS op
        |  FROM v1 o FULL OUTER JOIN v2 n ON o.c_custkey = n.c_custkey
        |)
        |SELECT op, c_custkey, old_acctbal, new_acctbal
        |FROM diff WHERE op IS NOT NULL
        |ORDER BY op, c_custkey""".stripMargin,
    "q88_merge_delete" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type, value,
        |    CAST(ts AS TIMESTAMP) AS ts,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
        |    CAST(1 AS BIGINT) AS load_seq, FALSE AS deleted
        |  FROM events
        |), delta AS (
        |  SELECT event_id, user_id, event_type, value + 1000 AS value, ts,
        |    event_date, CAST(2 AS BIGINT) AS load_seq, FALSE AS deleted
        |  FROM base WHERE event_id % 5 = 0 AND EXTRACT(day FROM ts) <= 7
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value, ts,
        |    event_date, CAST(2 AS BIGINT), TRUE
        |  FROM base WHERE event_id % 11 = 0 AND event_id % 5 <> 0
        |    AND EXTRACT(day FROM ts) <= 7
        |), merged AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY event_id
        |      ORDER BY load_seq DESC) AS rn
        |    FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
        |  ) WHERE rn = 1
        |)
        |SELECT event_date, event_type, COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN load_seq = 2 THEN 1 END) AS n_upserted,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM merged
        |WHERE NOT deleted
        |GROUP BY event_date, event_type
        |ORDER BY event_date, event_type""".stripMargin,
  )
}

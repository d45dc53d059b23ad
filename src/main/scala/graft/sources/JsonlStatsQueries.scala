package graft.sources

import graft.QueryModule
import graft.ingest.{Landing, Tables}
import graft.util.Det._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Drives the [[JsonlStats]] DSv2 connector end-to-end (q152) and owns
  * its fixture: the event feed laid out as range-bucketed JSONL files
  * with a `_stats.jsonl` manifest carrying each file's `value` bounds —
  * the landing-zone-with-manifest table a connector would meet in
  * production. The fixture bucketing is VALUE-RANGED (bucket k =
  * k-th eighth of the observed [min, max]) precisely so the manifest
  * bounds are tight and a range predicate can prove most files
  * irrelevant; a hash layout would give every file the full interval
  * and skip nothing.
  */
object JsonlStatsQueries extends QueryModule {

  private val buckets = 8
  private val threshold = 300.0 // prunes ~5 of 8 range buckets; all types survive

  /** Build-once JSONL + manifest fixture under the shared marker
    * convention. The manifest rows are per-FILE aggregates — bounded by
    * file count, a driver-sized collect, never a data-sized one. */
  def ensureFixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    val dir = Landing.fixtureDir(d, "jsonl_stats_table")
    Landing.ensureBuilt(dir) { out =>
      val ev = Tables.events(spark, d)
        .select($"event_id", $"user_id", $"event_type", $"value")
      val b = ev.agg(min($"value").as("mn"), max($"value").as("mx"))
      val span = broadcast(b.withColumn("step", ($"mx" - $"mn") / buckets))
      ev.crossJoin(span)
        .withColumn("bucket",
          least(lit(buckets - 1),
            floor(($"value" - $"mn") / $"step")).cast("int"))
        .select($"event_id", $"user_id", $"event_type", $"value", $"bucket")
        .repartition($"bucket")
        .write.partitionBy("bucket").json(out)
      // manifest: one line per data file with its value bounds; paths
      // relative to the table root so the table relocates freely
      val stats = spark.read.schema(JsonlStats.schema)
        .json(s"$out/bucket=*/")
        .select(col("_metadata.file_path").as("fp"), col("value"))
        .groupBy($"fp")
        .agg(min($"value").as("mn"), max($"value").as("mx"),
          count(lit(1)).as("n_rows"))
        .orderBy($"fp")
        .collect()
      val root = Paths.get(out).toAbsolutePath.toString
      val lines = stats.toSeq.map { r =>
        // _metadata.file_path is a URI (file:/...); normalize to a plain
        // path before relativizing against the table root
        val rel = r.getString(0).replaceFirst("^file:/+", "/")
          .stripPrefix(root).stripPrefix("/")
        s"""{"file":"$rel","min_value":${r.getDouble(1)},"max_value":${r.getDouble(2)},"n_rows":${r.getLong(3)}}"""
      }
      Files.write(Paths.get(out, "_stats.jsonl"), lines.asJava,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
    dir
  }

  /** The connector-backed frame, exposed for plan/pushdown specs. */
  def scanFrame(spark: SparkSession, d: String): DataFrame =
    spark.read.format("graft-jsonl-stats")
      .option("path", ensureFixture(spark, d)).load()

  /** The one build-once connector fixture: under [[Landing.ensureBuilt]],
    * `rows` land through `graft-jsonl-stats` (with `opts`, overwrite) as
    * a fresh table at `fixtureDir(d, name)`, then `after` runs on the
    * new table root — a sidecar stamp, DDL or maintenance CALL that is
    * part of the build. Every such table sits under the
    * [[ensureCatalog]] root, so `after` can address it by `name`. */
  private def ensureTable(d: String, name: String, opts: Map[String, String] = Map.empty,
                          after: String => Unit = _ => ())(rows: => DataFrame): String =
    Landing.ensureBuilt(Landing.fixtureDir(d, name)) { out =>
      Files.createDirectories(Paths.get(out))
      rows.write.format("graft-jsonl-stats").option("path", out).options(opts)
        .mode("overwrite").save()
      after(out)
    }

  /** An `after` step for [[ensureTable]]: rewrite the table sidecar. */
  private def stampMeta(f: JsonlStats.TableMeta => JsonlStats.TableMeta): String => Unit =
    out => JsonlStats.writeTableMeta(out, f(JsonlStats.readTableMeta(out)))

  /** The event feed range-partitioned on `value` into [[buckets]] files:
    * tight, disjoint value bounds per file. */
  private def valueRangedFeed(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .repartitionByRange(buckets, $"value")
  }

  /** [lo, hi] of column `c` over the live manifest's per-file bounds —
    * a metadata read; no data file is opened. Every entry must carry
    * bounds for `c`, or the span would be a guess. */
  private def manifestSpan(dir: String, c: String): (Double, Double) = {
    val statsCol = JsonlStats.readTableMeta(dir).statsCol.getOrElse(JsonlStats.statsColumn)
    val stats = JsonlStats.readStats(dir)
    val bounds = stats.flatMap(s => JsonlStats.colBounds(s, c, statsCol))
    require(bounds.nonEmpty && bounds.size == stats.size,
      s"$dir: ${stats.size - bounds.size} of ${stats.size} manifest entries lack $c bounds")
    (bounds.map(_._1).min, bounds.map(_._2).max)
  }

  /** The calendar day of an epoch-microsecond timestamp bound. */
  private def microsDay(us: Double): java.time.LocalDate =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(us.toLong, 86400L * 1000000L))

  /** `c`'s calendar day lies in [lo, hi], stated on the raw timestamp
    * column as a half-open range, so the connector prunes files with it
    * (a `to_date(c) BETWEEN` predicate never reaches the scan). */
  private def dayRange(c: Column, lo: java.time.LocalDate, hi: java.time.LocalDate): Column =
    c >= lit(lo.atStartOfDay()) && c < lit(hi.plusDays(1).atStartOfDay())

  /** q152: selective range aggregate THROUGH the connector — the filter
    * reaches `pushedFilters`, the manifest prunes non-intersecting
    * files at planning time, the projection prunes parsed fields, and
    * the residual filter re-checks surviving rows. Oracle reads the
    * same events from parquet: the connector must be a pure access
    * path, invisible in the result. */
  def statsSkippingScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    scanFrame(spark, d)
      .filter($"value" >= threshold)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"))
      .orderBy($"event_type")
  }

  /** q159: global count/min/max THROUGH the connector's aggregate
    * pushdown — answered from the manifest with zero data-file IO
    * (JsonlStatsSpec proves both the plan substitution and, by deleting
    * every data file from a fixture copy, the no-IO claim physically).
    * The oracle derives the same three numbers from the parquet events
    * table, so manifest contents are pinned to the data they index. */
  def manifestAggregate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    scanFrame(spark, d)
      .agg(count(lit(1)).as("n"),
        min($"value").as("min_value"), max($"value").as("max_value"))
  }

  /** The WRITTEN table fixture: the event feed pushed through the
    * connector's own BatchWrite (range-partitioned on the stats column
    * so the written files carry tight, disjoint bounds — the layout a
    * stats-manifest table wants). */
  def ensureWrittenFixture(spark: SparkSession, d: String): String =
    ensureMutableTable(spark, d, "jsonl_stats_written")

  /** q160: full write→read round trip through the connector — rows go
    * out through the DSv2 commit protocol (task files + per-file stats
    * in commit messages, manifest published by atomic move) and come
    * back through the scan path; the oracle reads the original parquet,
    * so any loss, duplication or stats corruption in either direction
    * breaks the hash. Same selective aggregate as q152, now against
    * bounds the WRITER computed. */
  def writeRoundTrip(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graft-jsonl-stats")
      .option("path", ensureWrittenFixture(spark, d)).load()
      .filter($"value" >= threshold)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"))
      .orderBy($"event_type")
  }

  /** The USER-KEYED twin of the written fixture: same event feed, same
    * connector write path, but range-partitioned on `user_id` with
    * `statsColumn=user_id` — so the manifest carries per-file user-id
    * bounds and a user-cohort join can skip files. */
  def ensureUserKeyedFixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    ensureTable(d, "jsonl_stats_by_user", Map("statsColumn" -> "user_id")) {
      Tables.events(spark, d)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .repartitionByRange(buckets, $"user_id")
    }
  }

  /** The user-keyed connector frame, exposed for the runtime-filter spec. */
  def userKeyedFrame(spark: SparkSession, d: String): DataFrame =
    spark.read.format("graft-jsonl-stats")
      .option("path", ensureUserKeyedFixture(spark, d))
      .option("statsColumn", "user_id").load()

  /** Materialized signup-cohort dimension (user_id, cohort): the first
    * eighth of users by id — monotone ids ↔ signup order — are 'early'.
    * MATERIALIZED (parquet on disk, not an expression over customer)
    * because that is both what production cohort tables are and what
    * makes the test honest: the optimizer cannot fold `cohort='early'`
    * into an id range, so only RUNTIME filtering can skip fact files. */
  def ensureCohortDim(spark: SparkSession, d: String): String = {
    import spark.implicits._
    val dir = Landing.fixtureDir(d, "user_cohorts")
    Landing.ensureBuilt(dir) { out =>
      // the cut is the first eighth of the ACTIVE id span (the driver's
      // customer dim is larger than the event-active user set at small
      // SFs); integer division, mirrored by the oracle
      val cut = (Tables.events(spark, d).agg(max($"user_id")).head().getLong(0) + 1L) / 8L
      Tables.customer(spark, d)
        .select($"c_custkey".as("user_id"),
          when($"c_custkey" < cut, "early").otherwise("late").as("cohort"))
        .coalesce(1)
        .write.parquet(out)
    }
    dir
  }

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
    val sink = Landing.fixtureDir(d, "jsonl_stream_sink")
    Files.createDirectories(Paths.get(sink))
    val q = spark.readStream.format("graft-jsonl-stats").option("path", src).load()
      .writeStream.format("graft-jsonl-stats")
      .option("path", sink)
      .option("checkpointLocation", s"$sink/_checkpoint")
      .option("txnAppId", "q192")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.format("graft-jsonl-stats").option("path", sink).load()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"))
      .orderBy($"event_type")
  }

  /** q162: RUNTIME file skipping through the connector — the DPP
    * analogue for custom sources ([[JsonlStatsScan.filterAttributes]]).
    * The query joins the feed to the early-signup cohort of the
    * materialized cohort dim; its text names no user-id range and the
    * `cohort='early'` predicate is opaque to constraint propagation, so
    * planning-time pushdown prunes NOTHING (a `c_custkey <= k`
    * formulation would be inferred onto `user_id` and statically pushed
    * — the engine is that good — which is why the demo needs a genuine
    * dimension attribute). At execution Spark hands the scan the
    * cohort's actual key set (the broadcast join side, via
    * `SupportsRuntimeV2Filtering`), and files whose manifest user-id
    * interval contains none of those keys never launch tasks. The
    * oracle re-derives the cohort from the customer table — runtime
    * pruning must be invisible in the result; JsonlStatsSpec proves the
    * executed scan carried a runtime filter and read a strict subset of
    * the manifest while the static planning set stayed full. */
  def runtimeFilteredJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val fact = userKeyedFrame(spark, d)
    val cohort = spark.read.parquet(ensureCohortDim(spark, d))
      .filter($"cohort" === "early")
    fact.join(broadcast(cohort), Seq("user_id"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"))
      .orderBy($"event_type")
  }

  /** q167: METADATA COLUMNS through the connector
    * (`SupportsMetadataColumns`): `_file` and `_pos` are row provenance
    * the data never carried — resolved by name like ordinary columns,
    * served from reader state at zero IO cost, absent from the schema
    * unless queried. The query audits the lineage they provide against
    * the connector's own manifest: per-file row counts seen through
    * `_file` (and densely-numbered `_pos`) must equal the manifest's
    * published `n_rows` — the "did every file land intact" check a
    * 100-TB ingest runs after each batch, here expressible WITHOUT any
    * lineage columns baked into the data (the S7 pattern at the
    * connector layer). The oracle pins the total and the verified flag;
    * file identities are connector-internal and stay out of the hash
    * (JsonlStatsSpec asserts the per-file semantics directly). */
  def metadataLineage(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureFixture(spark, d)
    // _file is absolute (root + "/" + manifest-relative path, which may
    // itself contain partition subdirs) — relativize against the root,
    // not a basename strip
    val rootLen = Paths.get(dir).toAbsolutePath.toString.length
    val perFile = scanFrame(spark, d)
      .groupBy(substring(col(JsonlStats.FileMeta), rootLen + 2, 1 << 20).as("file"))
      .agg(count(lit(1)).as("n_seen"),
        (max(col(JsonlStats.PosMeta)) + 1L).as("n_pos"))
    val manifest = JsonlStats.readStats(dir)
      .map(s => (s.file, s.rows)).toDF("file", "n_manifest")
    perFile.join(manifest, Seq("file"), "full_outer")
      .agg(
        coalesce(bool_and(
          coalesce($"n_seen", lit(-1L)) === coalesce($"n_manifest", lit(-2L)) &&
            coalesce($"n_pos", lit(-1L)) === coalesce($"n_manifest", lit(-2L))),
          lit(false)).as("all_counts_match"),
        coalesce(sum($"n_seen"), lit(0L)).cast("long").as("n_events"))
  }

  /** Key-grouped FACT layout: one JSONL file per event_type, each
    * manifest entry carrying its `pkey` — the layout contract the SPJ
    * leg reports as `KeyGroupedPartitioning`. */
  def ensureTypeKeyedFact(spark: SparkSession, d: String): String = {
    import spark.implicits._
    val dir = Landing.fixtureDir(d, "jsonl_stats_by_type")
    Landing.ensureBuilt(dir) { out =>
      val ev = Tables.events(spark, d)
        .select($"event_id", $"user_id", $"event_type", $"value")
      // duplicate the key into the partition dir so the JSON lines KEEP
      // event_type (partitionBy strips the partition column from data)
      ev.withColumn("et", $"event_type")
        .repartition($"et")
        .write.partitionBy("et").json(out)
      val stats = spark.read.schema(JsonlStats.schema)
        .json(s"$out/et=*/")
        .select(col("_metadata.file_path").as("fp"), $"event_type", $"value")
        .groupBy($"fp")
        .agg(min($"value").as("mn"), max($"value").as("mx"),
          count(lit(1)).as("n_rows"),
          min($"event_type").as("k_lo"), max($"event_type").as("k_hi"))
        .orderBy($"fp")
        .collect()
      val root = Paths.get(out).toAbsolutePath.toString
      val lines = stats.toSeq.map { r =>
        require(r.getString(4) == r.getString(5),
          s"file ${r.getString(0)} mixes event types — not a keyed layout")
        val rel = r.getString(0).replaceFirst("^file:/+", "/")
          .stripPrefix(root).stripPrefix("/")
        s"""{"file":"$rel","min_value":${r.getDouble(1)},"max_value":${r.getDouble(2)},"n_rows":${r.getLong(3)},"pkey":"${r.getString(4)}"}"""
      }
      Files.write(Paths.get(out, "_stats.jsonl"), lines.asJava,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      JsonlStats.writeTableMeta(out, JsonlStats.statsColumn,
        Some("event_type"), JsonlStats.schema)
    }
    dir
  }

  /** Per-type dimension through the SAME connector, same key-grouped
    * layout: one single-row file per event_type (type totals). */
  val typeDimSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_total", org.apache.spark.sql.types.LongType)))

  def ensureTypeDim(spark: SparkSession, d: String): String = {
    import spark.implicits._
    val dir = Landing.fixtureDir(d, "jsonl_type_dim")
    Landing.ensureBuilt(dir) { out =>
      Files.createDirectories(Paths.get(out))
      val perType = Tables.events(spark, d)
        .groupBy($"event_type").agg(count(lit(1)).as("n_total"))
        .orderBy($"event_type").collect() // dimension-sized: one row per type
      val lines = perType.toSeq.map { r =>
        val t = r.getString(0)
        Files.write(Paths.get(out, s"et_$t.jsonl"),
          java.util.Arrays.asList(s"""{"event_type":"$t","n_total":${r.getLong(1)}}"""))
        s"""{"file":"et_$t.jsonl","min_value":0.0,"max_value":0.0,"n_rows":1,"pkey":"$t"}"""
      }
      Files.write(Paths.get(out, "_stats.jsonl"), lines.asJava,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      JsonlStats.writeTableMeta(out, JsonlStats.statsColumn,
        Some("event_type"), typeDimSchema)
    }
    dir
  }

  /** q169: STORAGE-PARTITIONED JOIN through the connector
    * (`SupportsReportPartitioning` + `KeyGroupedPartitioning` +
    * `HasPartitionKey`): fact and dimension are both laid out one file
    * per event_type with the key in the manifest, both scans report the
    * key grouping, and Spark joins them by ALIGNING the groups — zero
    * Exchange on either side, and the post-join per-type aggregate
    * inherits the distribution so it is shuffle-free too (plan-asserted
    * in JsonlStatsSpec). The merge hint keeps the broadcast planner
    * from hiding the effect at fixture scale; at 100 TB co-located
    * layouts ARE how two fact-sized tables join (the q64 bucketed-join
    * story generalized to a custom source — the fact table never
    * moves). The oracle re-derives both sides from parquet. */
  def storagePartitionedJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // session-wide and deliberately NOT restored: the returned frame
    // plans lazily (at the caller's action), so the flag must still be
    // set then. Safe to leave on — it only affects scans that REPORT
    // key-grouped partitioning, which only the SPJ tables do. The
    // engine's own sessions (Verify/Bench/specs) also set it at build
    // time; this covers externally supplied sessions.
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val fact = spark.read.format("graft-jsonl-stats")
      .option("path", ensureTypeKeyedFact(spark, d))
      .option("partitionColumn", "event_type").load()
    val dim = spark.read.format("graft-jsonl-stats")
      .schema(typeDimSchema)
      .option("path", ensureTypeDim(spark, d))
      .option("partitionColumn", "event_type").load()
    fact.join(dim.hint("merge"), Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), max($"n_total").as("n_total"),
        msum($"value").as("value_sum"))
      .orderBy($"event_type")
  }

  /** Register a [[GraftCatalog]] for this corpus' fixture root and
    * return its name. */
  def ensureCatalog(spark: SparkSession, d: String): String =
    catalogAt(spark, Paths.get(ensureFixture(spark, d)).getParent.toString)

  /** Register a [[GraftCatalog]] rooted at `root` and return its name.
    * One catalog per root (the name encodes the root): Spark caches
    * catalog instances per session, so reconfiguring one name for a
    * different directory would silently keep serving the old root. */
  private[graft] def catalogAt(spark: SparkSession, root: String): String = {
    val cat = "graft_" + java.lang.Integer.toHexString(root.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  /** q170: the CATALOG path (`TableCatalog`): SQL addresses the
    * connector table as `<catalog>.<table>` — no temp-view plumbing,
    * and every connector capability (here: filter pushdown + file
    * skipping + column pruning) rides through catalog resolution
    * unchanged, because the identifier path and the `format(...)` path
    * meet at the same Table object. Same derivation as q152, so the
    * oracle also pins path-equivalence of the two resolution routes. */
  def catalogSql(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_stats_table
         |WHERE value >= $threshold
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
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

  /** q177 (r7): PARTITIONED-BY CTAS → storage-partitioned join. The
    * catalog's keyed write path (`RequiresDistributionAndOrdering`:
    * clustered + sorted on the key, the task writer rolls one file per
    * key run, each manifested with its `pkey`) means `CREATE OR
    * REPLACE TABLE … PARTITIONED BY (event_type) AS SELECT` produces a
    * REAL key-grouped layout — and the query then joins the CTAS'd
    * fact to the keyed dimension with ZERO exchanges (q169's plan
    * family, now over a table the engine's own DDL created).
    * JsonlStatsSpec asserts the no-shuffle plan and pkey'd manifest. */
  def catalogCtasPartitioned(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    ensureTypeKeyedFact(spark, d)
    ensureTypeDim(spark, d)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_ctas_by_type PARTITIONED BY (event_type) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_by_type""".stripMargin)
    val fact = spark.table(s"$cat.jsonl_ctas_by_type")
    val dim = spark.table(s"$cat.jsonl_type_dim")
    fact.join(dim.hint("merge"), Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), max($"n_total").as("n_total"),
        msum($"value").as("value_sum"))
      .orderBy($"event_type")
  }

  /** q178 (r7): CALL-addressable table maintenance
    * (`ProcedureCatalog` + [[GraftProcedures]]): the feed written
    * through the connector as 48 small task files — a streaming
    * ingest's natural output — then
    * `CALL <cat>.compact('jsonl_fragmented', 512k)` bin-packs them via
    * streaming byte concat (JSONL is concatenation-safe; no row is
    * ever parsed), derives merged manifest entries from the members'
    * (bounds/rows unioned exactly), and commits by the same atomic
    * manifest swap as every write. The read-back aggregate equals the
    * parquet-side oracle, proving compaction is invisible to queries;
    * the file-count/bounds mechanics are asserted in JsonlStatsSpec.
    * Idempotent-enough across reps: re-CALLing re-packs already-packed
    * files or does nothing, and content never changes. */
  def catalogCompact(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    ensureTable(d, "jsonl_fragmented") {
      Tables.events(spark, d)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .repartition(48)
    }
    spark.sql(s"CALL $cat.compact('jsonl_fragmented', ${512L * 1024})")
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_fragmented
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q97: compaction round trip on a KEYED layout. The event feed lands
    * keyed on `days(event_date)` in four commits — up to four small
    * files per day, the shape streaming micro-batches leave behind —
    * and `CALL compact` bin-packs each day to one file inside the
    * build (bins never cross keys). The query aggregates the compacted
    * table; the oracle is the same aggregate over the source, so any
    * row lost or duplicated by the rewrite breaks the hash. The
    * manifest is re-checked on every run so the query cannot pass on
    * a compaction that did nothing. */
  def compactionRoundtrip(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val name = "jsonl_events_by_day"
    def slice(i: Int): DataFrame = Tables.events(spark, d)
      .filter($"event_id" % 4 === i)
      .select($"event_id", $"event_type", $"value", to_date($"ts").as("event_date"))
    val dir = ensureTable(d, name, Map("partitionColumn" -> "days(event_date)"), after = out => {
      (1 until 4).foreach(i =>
        slice(i).write.format("graft-jsonl-stats").option("path", out).mode("append").save())
      spark.sql(s"CALL ${ensureCatalog(spark, d)}.compact('$name', ${1L << 30})").collect()
    })(slice(0))
    val filesPerKey = JsonlStats.readStats(dir).groupBy(_.pkey).values.map(_.size)
    require(filesPerKey.nonEmpty && filesPerKey.forall(_ == 1),
      s"compaction left a multi-file key in $dir")
    spark.read.format("graft-jsonl-stats").option("path", dir).load()
      .groupBy($"event_date", $"event_type")
      .agg(count(lit(1)).as("n_events"), msum($"value").as("total_value"))
      .orderBy($"event_date", $"event_type")
  }

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

  /** q176 (r7): MIN/MAX aggregate pushdown on a LONG stats column — the
    * q159 twin over the user-keyed layout. The manifest's per-file
    * user-id bounds answer MIN/MAX(user_id) (exact: long bounds
    * round-trip through doubles below 2^53) and its row counts answer
    * COUNT(*) — zero data-file IO, plan-asserted in JsonlStatsSpec. */
  def manifestAggregateLong(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    userKeyedFrame(spark, d)
      .agg(count(lit(1)).as("n"),
        min($"user_id").as("min_user"), max($"user_id").as("max_user"))
  }

  /** The EVENT-ID-RANGED fixture with FULL per-column stats (r7b):
    * events written through the connector range-partitioned on
    * `event_id` while the DECLARED stats column stays `value` — so the
    * legacy manifest interval indexes value (loose: value is random per
    * id bucket) but the writer's per-column `cols` map carries tight
    * `event_id` bounds and full-span `user_id`/`value` bounds. The
    * layout where multi-column stats do real work: predicates and
    * MIN/MAX on columns the table was never DECLARED to index. */
  def ensureMultiColFixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    ensureTable(d, "jsonl_stats_multicol") {
      Tables.events(spark, d)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .repartitionByRange(buckets, $"event_id")
    }
  }

  /** The multi-column-stats frame, exposed for plan/pruning specs. */
  def multiColFrame(spark: SparkSession, d: String): DataFrame =
    spark.read.format("graft-jsonl-stats")
      .option("path", ensureMultiColFixture(spark, d)).load()

  /** q188 (r7b): MULTI-COLUMN MIN/MAX pushdown — COUNT plus MIN/MAX of
    * THREE columns (the declared stats column and two the table never
    * indexed) answered entirely from the manifest's per-column bounds
    * map with zero data-file IO (plan substitution + bare-copy proof in
    * JsonlStatsSpec). The Iceberg/Delta full-stats shape: any numeric
    * column EVERY file recorded non-null bounds for is servable
    * metadata; one uncovered file makes the column unservable rather
    * than wrong. Long bounds are exact through the manifest's doubles
    * below 2^53 (engine law). */
  def multiColAggregate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    multiColFrame(spark, d)
      .agg(count(lit(1)).as("n"),
        min($"value").as("min_value"), max($"value").as("max_value"),
        min($"user_id").as("min_user"), max($"user_id").as("max_user"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
  }

  /** q189 (r7b): planning-time file skipping on a NON-stats column —
    * the fixture is event-id-ranged, so each file's `cols` map carries
    * a tight, disjoint event_id interval and the `event_id <= max/8`
    * predicate proves ~7 of 8 files irrelevant before any task
    * launches, even though the table's declared stats column is
    * `value` (whose legacy interval would prune nothing here).
    * Pruned-file counts asserted in JsonlStatsSpec; the oracle
    * re-derives from parquet — pruning must be invisible in the
    * result. The scalar cut is one driver-side long (bounded), the
    * same `max/8` idiom as q162's cohort cut. */
  def multiColSkippingScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cut = Tables.events(spark, d).agg(max($"event_id")).head().getLong(0) / 8L
    multiColFrame(spark, d)
      .filter($"event_id" <= cut)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"))
      .orderBy($"event_type")
  }

  /** q130's table: lineitem with only the columns the query reads,
    * range-clustered on `l_shipdate` into 16 files, so per-file
    * ship-date bounds are near-disjoint and a date range admits ~its
    * selectivity in files. On an unclustered layout every file would
    * straddle the range and the manifest would (correctly) prune
    * nothing: stats skipping composes with layout, it does not replace
    * it. */
  def ensureLineitemByShipdate(spark: SparkSession, d: String): String = {
    import spark.implicits._
    ensureTable(d, "jsonl_lineitem_by_shipdate", Map("statsColumn" -> "l_shipdate")) {
      Tables.lineitem(spark, d)
        .select($"l_shipdate", $"l_returnflag", $"l_quantity", $"l_extendedprice")
        .repartitionByRange(16, $"l_shipdate")
    }
  }

  /** q130's range: the middle third of the ship-date span, derived from
    * the manifest's per-file bounds (min of mins, max of maxes — equal
    * to the raw min/max because the manifest covers every row). Integer
    * day arithmetic so the oracle mirrors it exactly. */
  def shipdateMidThird(spark: SparkSession, d: String): (java.time.LocalDate, java.time.LocalDate) = {
    val (mn, mx) = manifestSpan(ensureLineitemByShipdate(spark, d), "l_shipdate")
    val (mnd, mxd) = (microsDay(mn), microsDay(mx))
    val span = java.time.temporal.ChronoUnit.DAYS.between(mnd, mxd)
    // 2*(span/3), NOT (2*span)/3 — they differ when span % 3 == 2, and
    // the oracle's `2 * ((mxd - mnd) // 3)` must be mirrored exactly
    (mnd.plusDays(span / 3), mnd.plusDays(2 * (span / 3)))
  }

  /** Lineitem rows shipped on a day in [lo, hi]: the manifest prunes the
    * files whose ship-date bounds miss the range at planning time, and
    * the residual filter re-checks the survivors' rows. */
  def shipdateRead(spark: SparkSession, d: String,
                   lo: java.time.LocalDate, hi: java.time.LocalDate): DataFrame =
    spark.read.format("graft-jsonl-stats")
      .option("path", ensureLineitemByShipdate(spark, d)).load()
      .filter(dayRange(col("l_shipdate"), lo, hi))

  /** q130: return-flag aggregate over the manifest-pruned middle third
    * of the ship dates. The oracle has no manifest: it filters the raw
    * table with the same derived range, so the manifest must be a pure
    * access path — identical rows, fewer files (ManifestSpec counts
    * them). */
  def statsManifestScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (lo, hi) = shipdateMidThird(spark, d)
    shipdateRead(spark, d, lo, hi)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        msum($"l_quantity").as("sum_qty"),
        msum($"l_extendedprice").as("sum_price"))
      .orderBy($"l_returnflag")
  }

  /** The ISO-STRING-TIME fixture (r8): events written through the
    * connector with the event time as an ISO-8601 MICROSECOND string
    * (`yyyy-MM-dd'T'HH:mm:ss.SSSSSS` — injective, so string order ==
    * chronological order), range-partitioned on that string into
    * [[buckets]] files. Each manifest entry then carries tight,
    * disjoint `scols.ts_iso` truncated bounds — the layout where
    * STRING stats do real work, and the reference's own wire format
    * (`user_events_producer.py:82` ships ISO strings). */
  def ensureIsoStringFixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    ensureTable(d, "jsonl_stats_isostr") {
      Tables.events(spark, d)
        .select($"event_id", $"event_type", $"value",
          date_format($"ts", isoMicroFmt).as("ts_iso"))
        .repartitionByRange(buckets, $"ts_iso")
    }
  }

  private[graft] val isoMicroFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

  def isoStringFrame(spark: SparkSession, d: String): DataFrame =
    spark.read.format("graft-jsonl-stats")
      .option("path", ensureIsoStringFixture(spark, d)).load()

  /** q227 (r8): planning-time file skipping on a STRING column — the
    * q189 shape over truncated string bounds. The time-ranged layout
    * gives each file a tight, disjoint `ts_iso` interval, so the
    * half-span ISO cut proves ~half the files irrelevant before any
    * task launches (pruned-file counts + truncation laws asserted in
    * JsonlStatsSpec). The cut is derived from the corpus min/max
    * INSTANT and formatted in UTC — the injective microsecond format
    * makes `ts_iso >= cutIso` exactly `ts >= cut`, which is how the
    * DuckDB oracle states it (on `epoch_us`, no string formatting —
    * pruning must be invisible in the result). */
  def stringSkippingScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val b = Tables.events(spark, d)
      .agg(unix_micros(min($"ts")).as("lo"), unix_micros(max($"ts")).as("hi")).head()
    val cutMicros = (b.getLong(0) + b.getLong(1)) / 2L
    val cutIso = java.time.format.DateTimeFormatter.ofPattern(isoMicroFmt)
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(
        Math.floorDiv(cutMicros, 1000000L), Math.floorMod(cutMicros, 1000000L) * 1000L))
    isoStringFrame(spark, d)
      .filter($"ts_iso" >= cutIso)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"))
      .orderBy($"event_type")
  }

  /** q191 (r7b): GROUPED aggregate pushdown — GROUP BY the partition
    * column of a key-grouped layout is answered from the manifest
    * alone: every row of a file carries the file's one `pkey`, so one
    * partial row per file (pkey, rows, bounds) is a correct per-group
    * partial aggregation and Spark's final aggregate merges per key
    * (count→sum, min→min, max→max). COUNT rides `n_rows`; MIN/MAX of
    * the stats column ride the declared interval. Zero data IO
    * (plan-asserted + bare-copy-proven in JsonlStatsSpec) — the
    * per-partition profile a 100-TB table should answer from metadata.
    * Any other grouping is declined and the scan path answers it. */
  def keyedGroupAggregate(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graft-jsonl-stats")
      .option("path", ensureTypeKeyedFact(spark, d))
      .option("partitionColumn", "event_type").load()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        min($"value").as("min_value"), max($"value").as("max_value"))
      .orderBy($"event_type")
  }

  /** q190 (r7b): OPTIMIZE ZORDER —
    * `CALL <cat>.zorder('<t>', 'user_id', 'value')` rewrites the table
    * clustered by the Morton interleave of the two columns, after which
    * the per-column manifest bounds ALONE prune a 2-D box predicate to
    * ≈ the product of the selectivities — no z-cell arithmetic, no
    * bounds artifact and no special read path: the manifest is the
    * index and two ordinary range predicates do the work (pruning
    * fractions asserted in JsonlStatsSpec; q122 is the same shape over
    * a (long, timestamp) pair). Idempotent
    * across reps: re-clustering never changes content, and the box
    * aggregate hash-matches the parquet oracle regardless of layout. */
  def catalogZOrder(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    val t = "jsonl_mut_zorder"
    ensureMutableTable(spark, d, t)
    spark.sql(s"CALL $cat.zorder('$t', 'user_id', 'value', ${256L * 1024})")
    val quarter =
      (Tables.events(spark, d).agg(max($"user_id")).head().getLong(0) + 1L) / 4L
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.$t
         |WHERE user_id <= $quarter AND value >= $threshold
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q122's table: orders (the columns the box aggregate reads) written
    * through the connector, then re-clustered inside the build by
    * `CALL zorder` on (o_custkey, o_orderdate) into ~64 files. A
    * z-clustered file has tight bounds on BOTH dimensions, so a 2-D box
    * keeps ≈ the product of the two selectivities in files, where a
    * table clustered on one dimension keeps ≈ that dimension's alone
    * (file fractions measured in ZOrderSpec). */
  def ensureOrdersZordered(spark: SparkSession, d: String): String = {
    import spark.implicits._
    val name = "jsonl_orders_zorder"
    ensureTable(d, name, Map("statsColumn" -> "o_custkey"), after = out => {
      val bytes = JsonlStats.readStats(out).map(s => Files.size(Paths.get(out, s.file))).sum
      spark.sql(s"CALL ${ensureCatalog(spark, d)}.zorder('$name', 'o_custkey', " +
        s"'o_orderdate', ${math.max(1L, (bytes + 63) / 64)})").collect()
    }) {
      Tables.orders(spark, d)
        .select($"o_custkey", $"o_orderdate", $"o_orderpriority", $"o_totalprice")
    }
  }

  /** q122's box: the first quarter of each dimension's span, derived
    * from the manifest's per-file bounds and stated in RAW values, so
    * the oracle needs no z machinery. */
  def ordersBox(spark: SparkSession, d: String)
      : (Long, Long, java.time.LocalDate, java.time.LocalDate) = {
    val dir = ensureOrdersZordered(spark, d)
    val (mnk, mxk) = manifestSpan(dir, "o_custkey")
    val (mnu, mxu) = manifestSpan(dir, "o_orderdate")
    val (mnd, mxd) = (microsDay(mnu), microsDay(mxu))
    (mnk.toLong, mnk.toLong + (mxk.toLong - mnk.toLong) / 4,
      mnd, mnd.plusDays(java.time.temporal.ChronoUnit.DAYS.between(mnd, mxd) / 4))
  }

  /** Orders inside an arbitrary box: two plain range predicates the
    * manifest prunes with, re-checked row by row on the survivors. */
  def ordersBoxRead(spark: SparkSession, d: String, klo: Long, khi: Long,
                    dlo: java.time.LocalDate, dhi: java.time.LocalDate): DataFrame =
    spark.read.format("graft-jsonl-stats")
      .option("path", ensureOrdersZordered(spark, d)).load()
      .filter(col("o_custkey").between(klo, khi) && dayRange(col("o_orderdate"), dlo, dhi))

  /** q122: priority aggregate over the z-pruned box read. The oracle
    * computes the same box on the raw table: identical rows through a
    * far cheaper access path at scale. */
  def zorderBoxScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (klo, khi, dlo, dhi) = ordersBox(spark, d)
    ordersBoxRead(spark, d, klo, khi, dlo, dhi)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), msum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** q171: the V2 FUNCTION path (`FunctionCatalog` +
    * [[GraftCatalog.SqNormBound]]): `sqnorm` is a catalog-scoped scalar
    * function with the magic `invoke` method, so Spark binds it as a
    * codegen'd Invoke — a typed JVM call in the generated code, not a
    * reflective black box (PlanShapeSpec asserts no ScalaUDF). The
    * function body keeps the engine's determinism contract (per-element
    * double products rounded to DECIMAL(38,25), summed exactly), which
    * is why a JVM loop can be hash-compared against DuckDB's decimal
    * aggregate at all. */
  def catalogFunction(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    Tables.embeddings(spark, d).createOrReplaceTempView("embeddings_v")
    spark.sql(
      s"""SELECT vec_id, $cat.sqnorm(embedding) AS sq
         |FROM embeddings_v
         |ORDER BY sq DESC, vec_id
         |LIMIT 5""".stripMargin)
  }

  /** One value-ranged connector-written table per name — the read-only
    * written fixture and each row-level query's own mutable copy
    * (mutations must not compound across queries, and each query must
    * be idempotent across bench reps on its own table). */
  private def ensureMutableTable(spark: SparkSession, d: String, name: String): String =
    ensureTable(d, name)(valueRangedFeed(spark, d))

  /** The merge-on-read twin of [[ensureMutableTable]]: same value-ranged
    * layout, `deleteMode=merge-on-read` stamped into the table sidecar
    * so DELETE takes the deletion-vector path. */
  private def ensureMorTable(spark: SparkSession, d: String, name: String): String =
    ensureTable(d, name, after = stampMeta(_.copy(deleteMode = Some("merge-on-read"))))(
      valueRangedFeed(spark, d))

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

  /** q223: COUNT(col) AGGREGATE PUSHDOWN from per-column NON-NULL
    * counts (`colns` in the manifest — the null-count statistic every
    * production format's footer carries): the fixture nulls out
    * `value` for the error class, so count(*) ≠ count(value) and the
    * distinction is load-bearing; all three counts are answered from
    * the manifest with ZERO data IO (bare-copy-proven in spec),
    * declined when any file lacks coverage or carries deletion
    * vectors (a masked row might be a non-null one — the MIN/MAX
    * attainability argument applied to counts). */
  def countColPushdown(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureTable(d, "jsonl_nullable_value", Map("statsColumn" -> "event_id")) {
      Tables.events(spark, d)
        .select($"event_id", $"user_id", $"event_type",
          when($"event_type" === "error", lit(null)).otherwise($"value").as("value"))
        .repartitionByRange(buckets, $"event_id")
    }
    spark.read.format("graft-jsonl-stats")
      .option("path", dir).option("statsColumn", "event_id").load()
      .agg(count(lit(1)).as("n_rows"),
        count($"value").as("n_value"),
        count($"user_id").as("n_user"))
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

  /** The bloom-indexed fixture: value-ranged layout (so user_id bounds
    * discriminate nothing) + per-file bloom sidecars over `user_id`. */
  def ensureBloomFixture(spark: SparkSession, d: String): String =
    ensureTable(d, "jsonl_bloom_events", Map("bloomColumn" -> "user_id"))(valueRangedFeed(spark, d))

  /** q184 (r7): BLOOM FILE SKIPPING — point lookup on a column the
    * manifest's single [min, max] interval can't discriminate. The
    * fixture is value-ranged, so every file's user_id span covers the
    * whole id space and stats skipping is useless for
    * `user_id = <k>`; the writer's per-file bloom sidecars
    * ([[Bloom]]) let each TASK probe before parsing — planning stays
    * manifest-only (the Parquet row-group-bloom stance, not
    * bloom-in-manifest), and a needle query parses only the files
    * that actually contain the needle (~1 + FPP·files instead of all,
    * proven by the skip counter in JsonlStatsSpec). The probed key is
    * the corpus's max user id — present at every scale factor, and
    * expressible in the oracle as a scalar subquery. The 1-row
    * driver collect fetches that key (dimension-bounded, same
    * contract as the heavy-hitter collects). */
  def bloomPointLookup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureBloomFixture(spark, d)
    val probeUid = Tables.events(spark, d).agg(max($"user_id")).head().getLong(0)
    spark.read.format("graft-jsonl-stats")
      .option("path", dir).option("bloomColumn", "user_id").load()
      .filter($"user_id" === probeUid)
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
  }

  /** q239's fixture: documents text routed through the connector with
    * the WRITER-MAINTAINED substring gram index (`gramColumn` write
    * option → per-file gram sidecars, [[Bloom]] r9). A marker token is
    * appended to the lowest doc ids and the layout is doc_id-ranged, so
    * the needle lives in exactly one of the 8 files — the shape where
    * substring search should prune, and where the manifest's doc_id
    * bounds CANNOT (the predicate never mentions doc_id). */
  def ensureGramFixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    ensureTable(d, "jsonl_gram_docs", Map("statsColumn" -> "doc_id", "gramColumn" -> "text")) {
      Tables.documents(spark, d)
        .select($"doc_id",
          when($"doc_id" < 25, concat($"text", lit(" xqzgramneedle")))
            .otherwise($"text").as("text"))
        .repartitionByRange(buckets, $"doc_id")
        .sortWithinPartitions($"doc_id")
    }
  }

  /** q239 (r9): SUBSTRING GRAM-INDEX SCAN — `LIKE '%needle%'` file
    * skipping over text, the needle-in-100-TB-of-text path. The pushed
    * `StringContains` becomes a set of required 5-gram hashes at
    * planning; each TASK probes its file's gram sidecar and skips the
    * whole parse when any gram is absent (planning stays
    * manifest-only — the bloom stance). On this layout 7 of 8 files
    * skip (proven by the gramSkippedRanges law in JsonlStatsSpec);
    * value-bounds skipping can never serve this predicate because no
    * ranged column appears in it. False positives degrade to a parse,
    * false negatives are impossible — results stay exact, which is
    * what the oracle checks. */
  def gramIndexScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureGramFixture(spark, d)
    spark.read.format("graft-jsonl-stats").option("path", dir).load()
      .filter($"text".contains("xqzgramneedle"))
      .agg(count(lit(1)).as("n"), sum($"doc_id").as("id_sum"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
  }

  /** q240 (r9): HIDDEN PARTITIONING, bucket transform
    * ([[PartitionTransforms]]): `PARTITIONED BY (bucket(8, user_id))`
    * derives each file's partition key from the SOURCE column — the
    * query below never names a partition value, yet its point lookup
    * plans only the probed bucket's files (1 of 8; law asserted in
    * JsonlStatsSpec). This is the layout where raw bounds CANNOT help:
    * a hash bucket's user_id span covers the whole id space, so only
    * the derived-key route prunes. The CTAS prices the whole lifecycle
    * each rep (Create-Or-Replace through the staging catalog, writer
    * routing rows to per-bucket sinks). */
  def hiddenBucketLookup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_hidden_bucket
         |PARTITIONED BY (bucket(8, user_id)) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    val probeUid = Tables.events(spark, d).agg(max($"user_id")).head().getLong(0)
    spark.table(s"$cat.jsonl_hidden_bucket")
      .filter($"user_id" === probeUid)
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
  }

  /** q241 (r9): HIDDEN PARTITIONING, truncate transform —
    * `PARTITIONED BY (truncate(4, event_type))` keys files by the
    * 4-char prefix; an equality (or prefix) predicate on the raw
    * column keeps only the matching prefix's files. The truncate-long
    * twin (W-aligned numeric boundaries, negative-safe) is law-tested
    * in JsonlStatsSpec alongside the pruning counts. */
  def hiddenTruncateScan(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_hidden_trunc
         |PARTITIONED BY (truncate(4, event_type)) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.jsonl_hidden_trunc
         |WHERE event_type = 'purchase'
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q242 (r9): BUCKET-TRANSFORM STORAGE-PARTITIONED JOIN — the
    * production shuffle-free join shape. Both sides are hidden
    * `bucket(8, user_id)` layouts; each scan reports
    * `KeyGroupedPartitioning(bucket(8, user_id))`, Spark resolves the
    * transform through the catalog's V2 `bucket` function
    * ([[GraftCatalog.BucketFn]] — the same derivation the writer
    * routed files by), aligns the bucket ids, and the fact table never
    * moves: at 100 TB the join costs zero exchange on either side
    * (zero-exchange law in JsonlStatsSpec; identity SPJ is q169).
    * CTAS of both sides is priced every rep, like the other lifecycle
    * cells. */
  def hiddenBucketSpj(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val cat = ensureCatalog(spark, d)
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_spj_fact
         |PARTITIONED BY (bucket(8, user_id)) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_spj_dim
         |PARTITIONED BY (bucket(8, user_id)) AS
         |SELECT user_id, CAST(count(*) AS BIGINT) AS user_events
         |FROM $cat.jsonl_stats_table GROUP BY user_id""".stripMargin)
    val fact = spark.table(s"$cat.jsonl_spj_fact")
    val dim = spark.table(s"$cat.jsonl_spj_dim")
    fact.join(dim.hint("merge"), Seq("user_id"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"user_events").as("events_weight"),
        msum($"value").as("value_sum"))
      .orderBy($"event_type")
  }

  /** q244 (r9): MISMATCHED bucket counts, still shuffle-free — the
    * fact is `bucket(16, user_id)`, the dim `bucket(8, user_id)`, and
    * the catalog's bucket function is REDUCIBLE (`(h mod 16) mod 8 ==
    * h mod 8`), so Spark coalesces the finer side's groups onto the
    * coarser instead of shuffling either table. This is the realistic
    * production shape: fact and dim bucket counts drift apart as
    * tables grow, and without reduction the whole SPJ win evaporates
    * on the first mismatch. Confs are session-wide like q169's,
    * deliberately not restored (they only affect key-grouped scans). */
  def hiddenBucketReducedSpj(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
    val cat = ensureCatalog(spark, d)
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_rspj_fact
         |PARTITIONED BY (bucket(16, user_id)) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_rspj_dim
         |PARTITIONED BY (bucket(8, user_id)) AS
         |SELECT user_id, CAST(count(*) AS BIGINT) AS user_events
         |FROM $cat.jsonl_stats_table GROUP BY user_id""".stripMargin)
    val fact = spark.table(s"$cat.jsonl_rspj_fact")
    val dim = spark.table(s"$cat.jsonl_rspj_dim")
    fact.join(dim.hint("merge"), Seq("user_id"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"user_events").as("events_weight"),
        msum($"value").as("value_sum"))
      .orderBy($"event_type")
  }

  /** q245's fixture: a 24-commit history (one deterministic slice of
    * the feed per INSERT) through the catalog — the commit-per-append
    * shape whose archive SCALING.md's MetaBench priced at manifest-size ×
    * commit-rate. Records the version current after slice 12 so the
    * time-travel read below is pinned by construction. */
  def ensureHistoryFixture(spark: SparkSession, d: String): String = {
    val cat = ensureCatalog(spark, d)
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    val dir = root.resolve("jsonl_history").toString
    Landing.ensureBuilt(Landing.fixtureDir(d, "jsonl_history_marker")) { out =>
      Files.createDirectories(Paths.get(out))
      spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_history")
      spark.sql(
        s"""CREATE TABLE $cat.jsonl_history
           |(event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE)
           |USING jsonl""".stripMargin)
      (0 until 24).foreach { i =>
        spark.sql(
          s"""INSERT INTO $cat.jsonl_history
             |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
             |WHERE event_id % 24 = $i""".stripMargin)
        if (i == 12)
          Files.write(Paths.get(out, "v_after_12"),
            java.util.Arrays.asList(JsonlStats.currentVersion(dir).toString))
      }
    }
    dir
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
    val sink = Landing.fixtureDir(d, "jsonl_stream_bucket")
    Files.createDirectories(Paths.get(sink))
    val q = spark.readStream.format("graft-jsonl-stats").option("path", src).load()
      .writeStream.format("graft-jsonl-stats")
      .option("path", sink)
      .option("partitionColumn", "bucket(8,user_id)")
      .option("checkpointLocation", s"$sink/_checkpoint")
      .option("txnAppId", "q246")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val probeUid = Tables.events(spark, d).agg(max($"user_id")).head().getLong(0)
    spark.read.format("graft-jsonl-stats").option("path", sink).load()
      .filter($"user_id" === probeUid)
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
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
    val q = spark.readStream.format("graft-jsonl-stats").option("path", src).load()
      .writeStream.format("graft-jsonl-stats")
      .option("path", sink)
      .option("upsertKeys", "user_id")
      .option("checkpointLocation", s"$sink/_ckpt-$rep")
      .option("txnAppId", s"q253-$rep")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.format("graft-jsonl-stats").option("path", sink).load()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"event_type")
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
    val dir = java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "jsonl_cherry").toString
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

  /** q257 (r9c): ANALYZE + COST-BASED PLANNING — the warehouse
    * `ANALYZE TABLE` loop on the connector ([[ColStats]], the Iceberg
    * Puffin shape): `CALL analyze_table` computes NDV (HLL++, one
    * distributed pass) and string lengths into a sidecar; the scan's
    * DSv2 `columnStats()` serves them (plus exact manifest min/max and
    * null counts) to Spark's CBO, which then ESTIMATES JOIN
    * CARDINALITIES and cost-reorders a worst-first star join on
    * connector tables (ColStatsSpec pins the reorder law + the
    * staleness cap). At 100 TB the stats pass is one scan paid at
    * maintenance cadence and every join on the table plans against
    * honest cardinalities instead of size heuristics. The query runs
    * the star join UNDER CBO — values are plan-independent, so the
    * oracle hash pins that costed planning never changes results. */
  def analyzedStarJoin(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_cbo_fact")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_cbo_fact AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_cbo_users")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_cbo_users AS
         |SELECT user_id, min(event_id) AS first_event
         |FROM $cat.jsonl_stats_table GROUP BY user_id""".stripMargin)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_cbo_types")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_cbo_types AS
         |SELECT DISTINCT event_type, CAST(length(event_type) AS BIGINT) AS type_len
         |FROM $cat.jsonl_stats_table""".stripMargin)
    Seq("jsonl_cbo_fact", "jsonl_cbo_users", "jsonl_cbo_types")
      .foreach(t => spark.sql(s"CALL $cat.analyze_table('$t')"))
    graft.util.Confs.withConfs(spark,
        "spark.sql.cbo.enabled" -> "true", "spark.sql.cbo.joinReorder.enabled" -> "true") {
      val df = spark.sql(
        s"""SELECT t.event_type, count(*) AS n,
           |  CAST(SUM(CAST(f.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
           |  min(u.first_event) AS min_first
           |FROM $cat.jsonl_cbo_fact f
           |JOIN $cat.jsonl_cbo_users u ON f.user_id = u.user_id
           |JOIN $cat.jsonl_cbo_types t ON f.event_type = t.event_type
           |WHERE t.type_len >= 4
           |GROUP BY t.event_type
           |ORDER BY t.event_type""".stripMargin)
      // force PLANNING (not execution) under CBO before the confs
      // restore: executedPlan is a cached lazy val, so the caller's
      // action runs this exact cost-reordered plan — the old collect()
      // here executed the star join a second, thrown-away time (r16).
      // NOTE (ADVICE r16): this pins LOGICAL-phase confs only (CBO join
      // reorder). AQE re-derives the final physical plan at execution
      // time, AFTER the conf scope below restores the session confs — any
      // conf AQE's runtime re-planning reads (broadcast thresholds
      // etc.) is no longer in effect when the caller executes.
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan
      df
    }
  }

  /** The id-ranged layout (monotone ids ↔ arrival order — the
    * time-series table shape) that makes TopN pushdown a point lookup. */
  private def ensureIdRangedFixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    ensureTable(d, "jsonl_id_ranged") {
      Tables.events(spark, d)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .repartitionByRange(buckets, $"event_id")
    }
  }

  /** q264 (r9c): INDEXED CONTAMINATION AUDIT — the benchmark-
    * membership probe at corpus scale, composed from two tiers: the
    * curation question is q100's ("do any benchmark strings appear in
    * the training corpus?"), the access path is q239's gram index.
    * Each probe phrase becomes `LIKE '%phrase%'` whose gram hashes
    * prune task ranges BEFORE parsing, so auditing K probes against
    * 100 TB of text costs K × (sidecar reads + the hit files' parses)
    * — most probes are absent and touch no text at all (no false
    * negatives by construction; SCALING.md's GramBench measured the byte law).
    * Results exact by oracle; the absent probe pins that pruning
    * never fabricates a miss. */
  def indexedContamination(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureGramFixture(spark, d)
    val probes = Seq("merge batch part", "customer query line",
      "window spark order", "zzqq absent probe")
    probes.map { p =>
      spark.read.format("graft-jsonl-stats").option("path", dir).load()
        .filter($"text".contains(p))
        .agg(count(lit(1)).as("n_docs"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
        .select(lit(p).as("probe"), $"n_docs", $"min_id", $"max_id")
    }.reduce(_ unionAll _).orderBy($"probe")
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

  /** q262 (r9c): DECLARED WRITE SORT ORDER — `TBLPROPERTIES
    * ('sortColumn' = 'value')` makes the SORT a property of the TABLE
    * (the Iceberg write-order idea): every append — this CTAS, later
    * INSERTs, streaming epochs — gets a within-task sort injected by
    * Spark (`RequiresDistributionAndOrdering`), so file bounds and
    * zone-map segments are tight and MONOTONE whatever order the
    * producing query emits. The narrow range cut below then prunes at
    * file AND sub-file granularity on a table nobody ever explicitly
    * sorted — at 100 TB, the difference between "fast if the ingest
    * team remembered ORDER BY" and "fast by contract" (laws in
    * SortOrderSpec). */
  def sortedTableScan(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_sorted")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_sorted TBLPROPERTIES ('sortColumn' = 'value') AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM $cat.jsonl_sorted
         |WHERE value >= 100.0 AND value < 140.0
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
  }

  /** q261 (r9c): HISTOGRAM-COSTED SKEW FILTER — `CALL analyze_table(t,
    * histogram => true)` adds equi-height histograms (approx-quantile
    * cuts + per-bin NDV, the two-pass cost Spark's own ANALYZE pays) to
    * the stats sidecar, and FilterEstimation then interpolates range
    * selectivity INSIDE bins instead of assuming uniformity over
    * [min, max] — on this exponentially-skewed column the top-half
    * range holds ~5% of rows where the uniform assumption says ~50%
    * (ColStatsSpec pins the ≥3× estimate sharpening). At 100 TB that
    * error is the difference between a broadcast and a 10-TB shuffle
    * picked by the planner. Values are plan-independent; the oracle
    * hash pins that costed planning never changes results. */
  def histogramSkewFilter(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_hist_skew")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_hist_skew AS
         |SELECT event_id, user_id, power(2.0, event_id % 20) AS sk
         |FROM $cat.jsonl_stats_table""".stripMargin)
    spark.sql(s"CALL $cat.analyze_table('jsonl_hist_skew', histogram => true, " +
      "hist_bins => 20, hist_cols => 'sk')")
    graft.util.Confs.withConfs(spark,
        "spark.sql.cbo.enabled" -> "true", "spark.sql.cbo.joinReorder.enabled" -> "true") {
      val df = spark.sql(
        s"""SELECT count(*) AS n,
           |  min(event_id) AS min_id, max(event_id) AS max_id,
           |  CAST(SUM(CAST(sk AS DECIMAL(18,6))) AS DOUBLE) AS sk_sum
           |FROM $cat.jsonl_hist_skew
           |WHERE sk >= 262144.0""".stripMargin)
      // plan (don't execute) under CBO — see q257's note (r16)
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan
      df
    }
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
    val fs = Paths.get(sink)
    if (Files.exists(fs)) {
      // lifecycle cell: fresh sink + checkpoint per rep
      import scala.jdk.CollectionConverters._
      Files.walk(fs).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists)
    }
    Files.createDirectories(fs)
    val rep = runSeq.incrementAndGet()
    val q = spark.readStream.format("graft-jsonl-stats").option("path", src)
      .option("maxFilesPerTrigger", "2").load()
      .writeStream.format("graft-jsonl-stats")
      .option("path", sink)
      .option("checkpointLocation", s"$sink/_ckpt")
      .option("txnAppId", s"q260-$rep")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.format("graft-jsonl-stats").option("path", sink).load()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), msum($"value").as("value_sum"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }

  /** q258 (r9c): TOP-N PUSHDOWN — `ORDER BY event_id DESC LIMIT 100`
    * (the "latest events" dashboard query) through DSv2
    * `SupportsPushDownTopN`: planning drops every file that provably
    * cannot reach the top k (≥ k rows elsewhere beat its best bound —
    * per-file bounds with a prefix sum, [[JsonlStatsScan
    * .topLimitPrune]]), so on this id-ranged layout the recency query
    * reads ONE file of the table — at 100 TB, one file of thousands.
    * Partial pushdown: Spark re-sorts the survivors, so over-inclusion
    * is never wrong; DV'd rows shrink the guarantees exactly and
    * outstanding equality deletes void them (TopNLimitSpec). */
  def topNPushdown(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graft-jsonl-stats")
      .option("path", ensureIdRangedFixture(spark, d)).load()
      .orderBy($"event_id".desc)
      .limit(100)
  }

  /** q259 (r9c): LIMIT PUSHDOWN — a bare `LIMIT 500` plans only the
    * shortest file prefix whose exact surviving-row counts reach 500,
    * and every task's reader stops parsing after 500 emissions
    * (`SupportsPushDownLimit` + the early-stop reader) — "peek at the
    * table" costs a few thousand parsed lines whatever the table size.
    * LIMIT may serve ANY k rows, so the oracle pins the count; the
    * file-prefix and early-stop laws live in TopNLimitSpec. */
  def limitPushdown(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    spark.read.format("graft-jsonl-stats")
      .option("path", ensureIdRangedFixture(spark, d)).load()
      .limit(500)
      .agg(count(lit(1)).as("n"))
  }

  /** q243 (r9): PARTITION EVOLUTION — the layout contract changes,
    * the data does not move. Generation 1 lands half the feed under
    * `truncate(4, event_type)`; `CALL evolve_partition_spec` stamps
    * those files with the spec their keys derive from and swaps the
    * table to `bucket(8, user_id)`; generation 2 appends the other
    * half under the NEW transform. The read below must see one
    * seamless table — each file prunes under its OWN spec, and a
    * mixed-layout table simply declines key-grouped reporting (laws in
    * JsonlStatsSpec). The 100-TB point: re-partitioning a petabyte
    * table is a full rewrite everywhere else; here it is one manifest
    * commit plus a sidecar swap, with COW rewrites migrating files
    * lazily as they are touched. */
  def partitionEvolution(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_evolved
         |PARTITIONED BY (truncate(4, event_type)) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 0""".stripMargin)
    spark.sql(s"CALL $cat.evolve_partition_spec('jsonl_evolved', 'bucket(8,user_id)')")
    spark.sql(
      s"""INSERT INTO $cat.jsonl_evolved
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 1""".stripMargin)
    spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM $cat.jsonl_evolved
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin)
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

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger()

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

  /** q238 (r8): ZONE-MAP RANGE SKIPPING — the parquet row-group-stats
    * idea INSIDE an oversized JSONL file: the sink already records one
    * exact (line start, rows before) checkpoint per MiB; it now also
    * records each checkpoint interval's stats-column [min, max]
    * (`segb`), and the range planner drops every range whose merged
    * segment bounds prove the pushed predicate can't match. On a
    * value-sorted big file a narrow range query launches tasks for a
    * handful of its ranges instead of all of them — at a 10 GB file
    * that is a few of ~2500 ranges, the sub-file half of the skipping
    * story (file-level bounds prune whole files; zone maps prune
    * WITHIN the files that survive). Zones ride compaction (member
    * segments concatenate; a zone-less member contributes its file
    * bounds) and degrade to nothing on legacy manifests —
    * plan-asserted in JsonlStatsSpec; the oracle pins content. */
  def zoneMapScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureTable(d, "jsonl_zonemap") {
      val base = Tables.events(spark, d)
        .select($"event_id", $"user_id", $"event_type", $"value")
      // 16x the feed, globally value-sorted into ONE oversized file —
      // the shape zone maps exist for (sorted ⇒ tight disjoint zones)
      Seq.fill(16)(base).reduce(_ unionAll _)
        .orderBy($"value", $"event_id")
        .coalesce(1)
    }
    val t = spark.read.format("graft-jsonl-stats").option("path", dir)
      .option("splitBytes", (1L << 20).toString).load()
    // the cut: lowest eighth of the value span, derived from the data
    // (deterministic; the oracle mirrors the arithmetic)
    val b = Tables.events(spark, d)
      .agg(min($"value").as("mn"), max($"value").as("mx")).head()
    val cut = b.getDouble(0) + (b.getDouble(1) - b.getDouble(0)) / 8
    t.filter($"value" < cut)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").as("value_sum"))
      .orderBy($"event_type")
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
    val dir = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"),
      "jsonl_lineage_mor").toString
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

  /** Connector table holding the EMBEDDINGS corpus: vec_id + the
    * float-array embedding + a boolean — the typed-column fixture the
    * r10 data-model queries read. */
  def ensureEmbFixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    ensureTable(d, "jsonl_embeddings", Map("statsColumn" -> "vec_id")) {
      Tables.embeddings(spark, d)
        .select($"vec_id", $"embedding", ($"vec_id" % 2 === 0).as("is_even"))
        .repartitionByRange(4, $"vec_id")
        .sortWithinPartitions($"vec_id")
    }
  }

  private def embTable(spark: SparkSession, d: String): DataFrame =
    spark.read.format("graft-jsonl-stats")
      .option("path", ensureEmbFixture(spark, d)).load()

  /** q269 (r10): TYPED COLUMNS — the table format stores the north
    * star's data model, not just scalars: `array<float>` embeddings
    * and booleans round-trip through the JSONL protocol with EXACT
    * element fidelity (the writer prints the shortest decimal that
    * reparses to the same float; the reader parses it back as float —
    * identity by construction). The oracle recomputes an integer
    * element checksum + dimension counts from the raw parquet, so any
    * drift in any element of any vector fails the hash. Array columns
    * carry no stats (absent = never pruned — conservative), and every
    * table-format capability (lineage, MoR, time travel, refs)
    * composes with them unchanged. */
  def typedColumnsRoundtrip(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val per = embTable(spark, d)
      .select($"vec_id", $"is_even",
        size($"embedding").as("dims"),
        aggregate(transform($"embedding", e => floor(e.cast("double") * 64)),
          lit(0L), (acc, v) => acc + v).as("csum"))
    per.groupBy($"is_even")
      .agg(count(lit(1)).as("n"),
        sum($"dims").as("dims_sum"),
        sum($"csum").as("csum_sum"))
      .orderBy($"is_even")
  }

  /** q270 (r10): COSINE TOP-K THROUGH THE TABLE FORMAT — q33's exact
    * brute-force ANN (decimal-summed dots, broadcast query side) with
    * the corpus read from the CONNECTOR instead of parquet, against
    * q33's own parquet-derived oracle. Passing means the stored floats
    * are bit-identical through the format — the vector tier and the
    * table tier compose: embeddings live in a table with lineage,
    * merge-on-read upserts and time travel, and the similarity stack
    * runs on it unchanged. */
  def connectorCosineTopk(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import graft.ext.SimilarityMath.{dotDec, normDec, nQueries, topK}
    val emb = embTable(spark, d).select($"vec_id", $"embedding")
    val q = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qv"), normDec($"embedding").as("qn"))
    val c = emb
      .select($"vec_id".as("vid"), $"embedding".as("cv"), normDec($"embedding").as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"cosine".desc, $"vid")
    c.join(org.apache.spark.sql.functions.broadcast(q), $"qid" =!= $"vid")
      .withColumn("cosine", dotDec($"qv", $"cv") / ($"qn" * $"cn"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= topK)
      .select($"qid", $"vid", round($"cosine", 6).as("cosine"), $"rnk")
      .orderBy($"qid", $"rnk")
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
    val dir = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"),
      "jsonl_lineage_rep").toString
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

  /** q273 (r11): STRUCT COLUMNS — the table format stores NESTED
    * types: a `{meta{lang,src}, n_chars, head, scores[]}` struct
    * column (the multimodal corpus shape — text + metadata + vector in
    * ONE typed column) round-trips the JSONL protocol exactly. The
    * oracle recomputes every projected nested field from raw parquet,
    * so any drift in any field of any row fails the hash; the float
    * checksum (`floor(scores[0]*64)` — exact because /64 only shifts
    * the float exponent) fails on last-ulp array drift. At 100 TB the
    * struct is one JSON object per row in the column's slot: no extra
    * files, no shredding pass, and every table-format tier (lineage,
    * MoR, time travel, refs) composes with it unchanged (q274). */
  def structColumnsRoundtrip(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    Tables.documents(spark, d).createOrReplaceTempView("documents_struct_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_docs_struct")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_docs_struct TBLPROPERTIES ('statsColumn'='doc_id') AS
         |SELECT doc_id,
         |  named_struct(
         |    'meta', named_struct('lang', lang, 'src', source),
         |    'n_chars', n_chars,
         |    'head', substring(text, 1, 16),
         |    'scores', array(cast(cast(n_chars AS float) / 64 AS float),
         |                    cast(doc_id % 7 AS float))) AS doc
         |FROM documents_struct_src ORDER BY doc_id""".stripMargin)
    spark.sql(
      s"""SELECT doc_id, doc.meta.lang AS lang, doc.meta.src AS src,
         |  doc.n_chars AS n_chars, doc.head AS head,
         |  CAST(floor(doc.scores[0] * 64) + doc.scores[1] AS BIGINT) AS sc
         |FROM $cat.jsonl_docs_struct WHERE doc_id % 11 = 0
         |ORDER BY doc_id""".stripMargin)
  }

  /** q274 (r11): STRUCT LINEAGE MAINTENANCE — q266's law on a
    * struct-bearing table: after two more commits, a bin-packing
    * COMPACT (byte concat — nested bytes untouched) and a ZORDER
    * re-cluster (rows scatter THROUGH the sink, which must re-encode
    * the struct and materialize ids in-row beside it), every row still
    * answers its ingest-assigned (`_row_id`, version) AND its nested
    * fields verbatim. This is what "multimodal composes with the table
    * tier" means operationally: maintenance never corrupts or drops a
    * nested column. */
  def structLineageMaintenance(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    Tables.documents(spark, d).createOrReplaceTempView("documents_struct_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_struct_mx")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_struct_mx TBLPROPERTIES ('statsColumn'='doc_id') AS
         |SELECT doc_id, n_chars,
         |  named_struct('lang', lang, 'head', substring(text, 1, 16)) AS doc
         |FROM documents_struct_src WHERE doc_id % 3 = 1 ORDER BY doc_id""".stripMargin)
    spark.sql(s"INSERT INTO $cat.jsonl_struct_mx VALUES " +
      "(99000001, 4, named_struct('lang', 'xx', 'head', 'tail'))")
    spark.sql(s"INSERT INTO $cat.jsonl_struct_mx VALUES " +
      "(99000002, 5, named_struct('lang', 'yy', 'head', 'tail2'))")
    spark.sql(s"CALL $cat.compact('jsonl_struct_mx', ${64L * 1024 * 1024})")
    spark.sql(s"CALL $cat.zorder('jsonl_struct_mx', 'n_chars', 'doc_id', ${64L * 1024 * 1024})")
    spark.sql(
      s"""SELECT doc_id, doc.lang AS lang, doc.head AS head,
         |  _row_id AS row_id, _last_updated_version AS last_v
         |FROM $cat.jsonl_struct_mx ORDER BY doc_id""".stripMargin)
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

  /** Connector table holding the EVENTS corpus with REAL temporal
    * types (r11): TimestampType micros, a DateType day, and a
    * DECIMAL(18,6) measure — laid out ts-ranged so time predicates
    * prune files. */
  def ensureTemporalFixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    ensureTable(d, "jsonl_events_temporal", Map("statsColumn" -> "event_id")) {
      Tables.events(spark, d)
        .select($"event_id", $"ts", to_date($"ts").as("day"),
          $"value".cast("decimal(18,6)").as("value_dec"))
        .repartitionByRange(8, $"ts")
        .sortWithinPartitions($"ts")
    }
  }

  /** q277 (r11): TEMPORAL TYPES IN THE TABLE FORMAT — timestamps and
    * dates are REAL types at the format layer (epoch micros / epoch
    * days, exact), not ISO strings: the reference's own event
    * timestamps land typed, `to_date` needs no cast, and a time-window
    * predicate prunes FILES at planning (the epoch bounds live in the
    * same numeric stats map as every long column — TypedColumnsSpec
    * pins the planned-file law). The DECIMAL(18,6) measure round-trips
    * as plain text and sums exactly. The oracle recomputes the window
    * aggregate from raw parquet in DuckDB — micros, calendar days and
    * the decimal sum must all agree bit-for-bit. At 100 TB this is the
    * nightly time-slice query reading one day's files, not the table. */
  def temporalWindowScan(spark: SparkSession, d: String): DataFrame = {
    val t = spark.read.format("graft-jsonl-stats")
      .option("path", ensureTemporalFixture(spark, d)).load()
    t.createOrReplaceTempView("events_temporal")
    spark.sql(
      """SELECT CAST(day AS STRING) AS day_s, count(*) AS n,
        |  CAST(SUM(value_dec) AS DOUBLE) AS value_sum,
        |  min(unix_micros(ts)) AS first_us
        |FROM events_temporal
        |WHERE ts >= TIMESTAMP'2024-01-10 00:00:00'
        |  AND ts <  TIMESTAMP'2024-01-17 00:00:00'
        |GROUP BY day ORDER BY day_s""".stripMargin)
  }

  /** Cell-clustered embeddings fixture (r11): the corpus laid out by
    * its sign-cell coarse code (a derived expression — the cell is NOT
    * a stored column), so each file covers a narrow `embedding#cell`
    * range in the manifest and vector probes prune files at planning. */
  def ensureCellFixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    import graft.ext.SimilarityMath.vecCellCol
    ensureTable(d, "jsonl_embeddings_cells", Map("statsColumn" -> "vec_id")) {
      Tables.embeddings(spark, d)
        .repartitionByRange(16, vecCellCol($"embedding"), $"vec_id")
        .sortWithinPartitions(vecCellCol($"embedding"), $"vec_id")
        .select($"vec_id", $"embedding")
    }
  }

  /** q278 (r11, predicate-derived since r12): VECTOR FILE STATISTICS —
    * the writer always records per-file `#norm` (L2) and `#cell`
    * (sign-pattern coarse code) stats for float/double arrays, plus
    * (r12) the EXACT 64-bit cell-set bitmap. The LSH-style probe — the
    * query's cell plus its Hamming-1 neighbors — is now an ordinary
    * WHERE clause over the `graft_cell` V2 catalog function; the scan
    * builder derives the probe set FROM the pushed predicate
    * ([[JsonlStatsScanBuilder.pushPredicates]]) and plans only the
    * files whose cell SET intersects it — no side-channel scan option,
    * so pruning can never under-cover the filter, and the bitmap makes
    * the prune exact where the r11 interval over-kept straddled files
    * (JsonlStatsSpec pins planned == true cell coverage). The
    * candidates then rank by the exact decimal cosine, so the oracle —
    * which mirrors the cell arithmetic and probe set in DuckDB — is
    * bit-exact. At 100 TB this is the ANN shape that never lists the
    * whole table: cluster by cell at ingest, read the probed cells'
    * files only. */
  def connectorCellProbe(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import graft.ext.SimilarityMath.{dotDec, normDec}
    val cat = ensureCatalog(spark, d)
    val dir = ensureCellFixture(spark, d)
    val t = spark.table(s"$cat.${Paths.get(dir).getFileName}")
    // the query vector and its cell (one bounded 1-row lookup)
    val q = t.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val qCell = (0 until JsonlStats.VecCellBits)
      .map(i => if (i < q.length && q(i) > 0) 1 << i else 0).sum
    val probes = qCell +: (0 until JsonlStats.VecCellBits).map(i => qCell ^ (1 << i))
    val qv = typedLit(q)
    t.filter(expr(s"$cat.graft_cell(embedding) IN (${probes.mkString(", ")})"))
      .withColumn("cosine", dotDec(qv, $"embedding") / (normDec(qv) * normDec($"embedding")))
      .filter($"cosine" >= 0.15)
      .select($"vec_id", round($"cosine", 6).as("cosine"))
      .orderBy($"vec_id")
  }

  /** q279 (r11): ATOMIC TWO-TABLE PUBLISH — fact and its aggregate
    * stage on branches and land via `fast_forward_pair` as ONE
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
    spark.sql(s"CALL $cat.fast_forward_pair(" +
      "'jsonl_wtxn_fact', 'load', 'jsonl_wtxn_agg', 'load')")
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
    * through ONE `fast_forward_pair` (q279's warehouse transaction), so
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
      spark.sql(s"CALL $cat.fast_forward_pair('bytype', 'load', 'byuser', 'load')")
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

  /** q280 (r11): IN-LIST FILE PRUNING — the point-lookup UNION every
    * dimension filter ships (`WHERE k IN (...)`) prunes files at
    * planning: a file survives only if SOME listed value sits in its
    * bounds (numeric, temporal and string lists all route through the
    * same interval tests; JsonlStatsSpec pins the planned-file law,
    * including the null-in-list conservative arm). On an id-ranged
    * 100-TB table a bounded IN list reads |list| files, not the
    * table. */
  def inListPointLookups(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureTable(d, "jsonl_inlist", Map("statsColumn" -> "event_id")) {
      Tables.events(spark, d)
        .select($"event_id", $"event_type", $"value")
        .repartitionByRange(8, $"event_id")
        .sortWithinPartitions($"event_id")
    }
    spark.read.format("graft-jsonl-stats").option("path", dir).load()
      .filter($"event_id".isin(7L, 421L, 867L, 5000000L))
      .select($"event_id", $"event_type", $"value")
      .orderBy($"event_id")
  }

  /** q281 (r11): MAP COLUMNS — the reference's `props` bag lands TYPED
    * in the table format (`map<string,bigint>`, the natural JSON-object
    * encoding), so property access is `props['k']`, not a JSON parse
    * per row per query. The oracle recomputes the per-type property
    * sum from the raw JSON strings in DuckDB. At 100 TB: parse the bag
    * ONCE at ingest, never again. */
  def mapColumnScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureTable(d, "jsonl_events_props", Map("statsColumn" -> "event_id")) {
      Tables.events(spark, d)
        .select($"event_id", $"event_type",
          from_json($"props",
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.LongType)).as("props"))
        .repartitionByRange(8, $"event_id")
        .sortWithinPartitions($"event_id")
    }
    spark.read.format("graft-jsonl-stats").option("path", dir).load()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(try_element_at($"props", lit("k"))).as("k_sum"))
      .orderBy($"event_type")
  }

  /** q282 (r11): THE MULTIMODAL CORPUS, END TO END — the engine's
    * thesis in one table: documents and their embeddings land as ONE
    * connector table whose row is `{doc_id, n_chars, doc struct{lang,
    * head}, embedding array<float>}` (nested struct + vector in the
    * typed format), a MERGE-ON-READ DELETE quarantines the short docs
    * (positions masked, ids preserved), and the readout is a
    * per-language curation summary over the SURVIVORS — counts, char
    * mass, an exact float checksum of the remaining vectors (any
    * element drift fails the hash), and the lineage invariant
    * `max(_row_id)` proving survivors keep commit-assigned identity
    * through the mutation. The oracle recomputes all of it from the
    * raw parquet pair. At 100 TB this is the curation loop the engine
    * exists for: one typed table, masked deletes, no rewrite, vectors
    * and metadata never separated. */
  def multimodalCorpus(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    Tables.documents(spark, d).createOrReplaceTempView("mm_docs_src")
    Tables.embeddings(spark, d).createOrReplaceTempView("mm_embs_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_mm_corpus")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_mm_corpus TBLPROPERTIES ('statsColumn'='doc_id') AS
         |SELECT d.doc_id, d.n_chars,
         |  named_struct('lang', d.lang, 'head', substring(d.text, 1, 12)) AS doc,
         |  e.embedding
         |FROM mm_docs_src d JOIN mm_embs_src e ON d.doc_id = e.vec_id
         |ORDER BY d.doc_id""".stripMargin)
    // the SQL route (r12): deleteMode is an ALTER TABLE property now —
    // what a SQL-only user can do, not an engine-internal sidecar poke
    spark.sql(s"ALTER TABLE $cat.jsonl_mm_corpus " +
      "SET TBLPROPERTIES ('deleteMode' = 'merge-on-read')")
    spark.sql(s"DELETE FROM $cat.jsonl_mm_corpus WHERE n_chars < 200")
    spark.sql(
      s"""SELECT doc.lang AS lang, count(*) AS n,
         |  sum(n_chars) AS chars,
         |  sum(aggregate(transform(embedding,
         |        e -> CAST(floor(CAST(e AS DOUBLE) * 64) AS BIGINT)),
         |      0L, (acc, v) -> acc + v)) AS vsum,
         |  max(_row_id) AS max_rid
         |FROM $cat.jsonl_mm_corpus
         |GROUP BY doc.lang ORDER BY lang""".stripMargin)
  }

  /** q283 (r11): L2 RADIUS QUERY VIA NORM-BAND PRUNING — the `#norm`
    * twin of q278's cell probe, on a corpus whose norms actually vary
    * (derived exact-eighth vectors, so every distance is an exact
    * multiple of 1/64 and the oracle is integer arithmetic): by the
    * triangle inequality no vector with ‖x‖ outside [‖q‖−r, ‖q‖+r]
    * can sit within distance r of q, so a `graft_norm(emb) BETWEEN`
    * predicate (r12: derived from the PUSHED predicate, not a scan
    * option) prunes a norm-ranged layout down to the band's files
    * before the exact distance filter runs. The band is implied by the
    * d² filter (triangle inequality), so adding it changes no rows —
    * only the planned-file set. At 100 TB this is the radius-query
    * shape for non-normalized embedding spaces (the normalized-space
    * twin is q278). */
  def normBandRadius(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    def vec = array(
      (($"doc_id" % 97).cast("float") / 8f),
      (($"doc_id" % 53).cast("float") / 8f),
      (($"doc_id" % 29).cast("float") / 8f),
      (($"doc_id" % 11).cast("float") / 8f))
    val dir = ensureTable(d, "jsonl_norm_docs", Map("statsColumn" -> "doc_id")) {
      val nrm = sqrt(aggregate(transform(vec, x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, v) => a + v))
      Tables.documents(spark, d)
        .select($"doc_id", vec.as("emb"))
        .repartitionByRange(8, nrm, $"doc_id")
        .sortWithinPartitions($"doc_id")
        .select($"doc_id", $"emb")
    }
    // q = the doc_id = 1 vector = [1/8, 1/8, 1/8, 1/8]; ‖q‖ = 0.25,
    // r = 2 → band [0, 2.25]
    val d2 = aggregate(transform($"emb",
        x => (x.cast("double") - 0.125d) * (x.cast("double") - 0.125d)),
      lit(0.0), (a, v) => a + v)
    val cat = ensureCatalog(spark, d)
    spark.table(s"$cat.${Paths.get(dir).getFileName}")
      .filter(expr(s"$cat.graft_norm(emb) BETWEEN 0.0 AND 2.25"))
      .withColumn("d2", d2)
      .filter($"d2" <= 4.0)
      .select($"doc_id", ($"d2" * 64).cast("long").as("d2_64"))
      .orderBy($"doc_id")
  }

  /** q284 (r11): DAILY HIDDEN LAYOUT — `PARTITIONED BY (days(ts))`,
    * the Iceberg classic on the reference's own event feed: the writer
    * derives each file's pkey as the EPOCH DAY of its rows (one file
    * per day per task run), and a time-window predicate prunes files
    * through the transform with no partition column named anywhere —
    * at 100 TB the nightly slice reads one day's files by TABLE
    * property, not query discipline. The oracle recomputes the window
    * aggregate from raw parquet. */
  def dailyLayoutScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureTable(d, "jsonl_events_daily",
        Map("statsColumn" -> "event_id", "partitionColumn" -> "days(ts)")) {
      Tables.events(spark, d)
        .select($"event_id", $"ts", $"event_type", $"value")
        .repartitionByRange(4, $"ts")
        .sortWithinPartitions($"ts")
    }
    // no read-side option (r12): `days(ts)` is a STORED table property
    // — the plain path read resolves it from the sidecar, so layout
    // pruning is table contract, not caller discipline
    val t = spark.read.format("graft-jsonl-stats").option("path", dir).load()
    t.createOrReplaceTempView("events_daily")
    spark.sql(
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events_daily
        |WHERE ts >= TIMESTAMP'2024-01-12 00:00:00'
        |  AND ts <  TIMESTAMP'2024-01-13 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** q285 (r12): NESTED LEAF STATISTICS — the multimodal corpus
    * clustered by LANGUAGE, sliced by a nested-field predicate. The
    * writer records numeric/string bounds per pure-struct leaf path
    * (`doc.lang`, `doc.n_chars`) in the same cols/scols maps scalar
    * columns use; a pushed `doc.lang = 'de'` predicate (a dotted
    * FieldReference through the V2 pushdown) prunes the lang-ranged
    * layout to the language's files at PLANNING time
    * (TypedColumnsSpec pins the planned-file fraction). This closes
    * the r11 residual where struct columns carried no stats at all —
    * at 100 TB the per-language curation slice reads one language's
    * files, not the corpus. The oracle recomputes the slice from raw
    * parquet. */
  def nestedLeafSlice(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureTable(d, "jsonl_mm_bylang", Map("statsColumn" -> "doc_id")) {
      Tables.documents(spark, d)
        .select($"doc_id",
          struct($"lang", struct($"n_chars", $"source").as("meta")).as("doc"))
        .repartitionByRange(8, $"doc.lang", $"doc_id")
        .sortWithinPartitions($"doc.lang", $"doc_id")
    }
    spark.read.format("graft-jsonl-stats").option("path", dir).load()
      .filter($"doc.lang" === "de" && $"doc.meta.n_chars" >= 100)
      .groupBy($"doc.lang".as("lang"), $"doc.meta.source".as("source"))
      .agg(count(lit(1)).as("n"),
        sum($"doc.meta.n_chars").as("chars"),
        min($"doc_id").as("lo_id"), max($"doc_id").as("hi_id"))
      .orderBy($"lang", $"source")
  }

  /** q286 (r12): MONTHLY HIDDEN LAYOUT — `PARTITIONED BY
    * (months(o_orderdate))`, the coarser sibling of q284's daily
    * layout for tables whose natural slice is a month (the
    * reference's MTD/YoY rollup tier): pkey = months since 1970-01,
    * so six years of orders land ~80 month keys and a one-quarter
    * window prunes to 3 of them at PLANNING time through the stored
    * transform — no partition column in the query, no read-side
    * option. The oracle recomputes the window aggregate from raw
    * parquet. */
  def monthlyLayoutScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureTable(d, "jsonl_orders_monthly",
        Map("statsColumn" -> "o_orderkey", "partitionColumn" -> "months(o_orderdate)")) {
      Tables.orders(spark, d)
        .select($"o_orderkey", $"o_orderdate", $"o_orderpriority", $"o_totalprice")
        .repartitionByRange(4, $"o_orderdate")
        .sortWithinPartitions($"o_orderdate")
    }
    val t = spark.read.format("graft-jsonl-stats").option("path", dir).load()
    t.createOrReplaceTempView("orders_monthly")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS price_sum
        |FROM orders_monthly
        |WHERE o_orderdate >= TIMESTAMP'1997-03-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP'1997-06-01 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** q287 (r12): COMPOSITE HIDDEN LAYOUT — `PARTITIONED BY (days(ts),
    * bucket(8, user_id))`, the classic 100-TB layout: a time unit for
    * window pruning × a bucket for point lookups, as ONE table
    * property. Each file's pkey is "epochDay|bucket"; the pruner tests
    * pushed predicates against every component CONJUNCTIVELY, so the
    * day-window predicate cuts to the window's days and the user
    * equality cuts those 8 ways — the slice below plans ~3 of ~240
    * files with no partition column named anywhere. The writer stays
    * handle-bounded: rows arrive time-ordered (the write's required
    * ordering), and the bucket router flushes at each day boundary.
    * The oracle recomputes the slice from raw parquet. */
  def compositeLayoutScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureTable(d, "jsonl_events_day_bucket",
        Map("statsColumn" -> "event_id", "partitionColumn" -> "days(ts),bucket(8,user_id)")) {
      Tables.events(spark, d)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .repartitionByRange(4, $"ts")
        .sortWithinPartitions($"ts", $"user_id")
    }
    val t = spark.read.format("graft-jsonl-stats").option("path", dir).load()
    t.createOrReplaceTempView("events_day_bucket")
    spark.sql(
      """SELECT user_id, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events_day_bucket
        |WHERE ts >= TIMESTAMP'2024-01-08 00:00:00'
        |  AND ts <  TIMESTAMP'2024-01-11 00:00:00'
        |  AND user_id = 7
        |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin)
  }

  /** q288 (r12): SCOPED ZORDER — `OPTIMIZE ... WHERE` for keyed
    * layouts: re-cluster ONE `days(ts)` partition by the Morton
    * interleave of (user_id, value) and leave every other day's entry
    * byte-untouched. At 100 TB the maintenance window touches
    * yesterday's partition, never the table; the 2-D box slice below
    * then prunes from per-file bounds that are tight on BOTH
    * dimensions at once inside the re-clustered day. Global zorder
    * refuses keyed layouts (it would destroy the one-pkey-per-file SPJ
    * contract); the scope keeps the contract because the pkey is a
    * row-level constant over it. The oracle recomputes the slice from
    * raw parquet — the layout is a pure access path. */
  def scopedZorderSlice(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.events_zscope")
    Tables.events(spark, d)
      .select($"event_id", $"ts", $"user_id", $"value")
      .createOrReplaceTempView("zscope_q_src")
    // two commits so the scoped day really holds multiple files
    spark.sql(
      s"""CREATE TABLE $cat.events_zscope USING `graft-jsonl-stats`
         |PARTITIONED BY (days(ts))
         |AS SELECT * FROM zscope_q_src WHERE event_id % 2 = 0""".stripMargin)
    spark.sql(
      s"INSERT INTO $cat.events_zscope SELECT * FROM zscope_q_src WHERE event_id % 2 = 1")
    val day = java.time.LocalDate.of(2024, 1, 15).toEpochDay
    spark.sql(s"CALL $cat.zorder('events_zscope', 'user_id', 'value', " +
      s"${4L * 1024}, partition => '$day')")
    spark.sql(
      s"""SELECT user_id, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.events_zscope
         |WHERE ts >= TIMESTAMP'2024-01-15 00:00:00'
         |  AND ts <  TIMESTAMP'2024-01-16 00:00:00'
         |  AND user_id BETWEEN 3 AND 9 AND value BETWEEN 5.0 AND 120.0
         |GROUP BY user_id ORDER BY user_id""".stripMargin)
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
    * [[graft.plans.GraftViewDdlParser]] routes the statement shapes
    * Spark 4.1 cannot, so nobody needs the CALL spelling; the body is
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

  /** q290 (r12b): TABLESAMPLE PUSHDOWN — file-level (block) sampling
    * decided from the manifest alone. The table DECLARES the semantics
    * (`ALTER TABLE ... SET TBLPROPERTIES('sampleMode'='system')`, the
    * DuckDB/Trino TABLESAMPLE SYSTEM shape); the scan then accepts
    * Spark's pushed sample and keeps exactly the files whose
    * deterministic coordinate [[JsonlStats.sampleU]] lands in the
    * band — at 100 TB, `TABLESAMPLE (1 PERCENT)` plans ~1% of the
    * files and never opens the rest, where an undeclared table pays a
    * FULL scan before Spark's row-Bernoulli drops 99% of what it read.
    * The sampler is pkey-anchored elementary arithmetic, so the DuckDB
    * oracle recomputes the exact kept shard set and the hash compare
    * pins the whole kept universe, not just its size. */
  def systemSampleScan(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.events_sampled")
    Tables.events(spark, d)
      .selectExpr("event_id", "value", "CAST(user_id % 16 AS STRING) AS shard")
      .createOrReplaceTempView("samp_src")
    spark.sql(
      s"""CREATE TABLE $cat.events_sampled USING `graft-jsonl-stats`
         |PARTITIONED BY (shard)
         |AS SELECT * FROM samp_src ORDER BY shard, event_id""".stripMargin)
    spark.sql(s"ALTER TABLE $cat.events_sampled " +
      "SET TBLPROPERTIES ('sampleMode' = 'system')")
    spark.sql(
      s"""SELECT shard, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.events_sampled TABLESAMPLE (37.5 PERCENT) REPEATABLE (42)
         |GROUP BY shard ORDER BY shard""".stripMargin)
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
    val mode = spark.sql(s"CALL $cat.refresh_materialized_view('mv_inc')")
      .collect().head.getString(2)
    spark.sql(s"SELECT 'mode' AS phase, '$mode' AS event_type, " +
      "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum")
      .unionAll(spark.sql(
        s"SELECT 'rows' AS phase, event_type, n, value_sum FROM $cat.mv_inc"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** The raw event feed (ts, event_type, value) as a graft table, with
    * the catalog MV `mv_rw_day_type` at (day, type) grain — `count(*)`
    * and the decimal sum — created in the build. q210 and q228
    * aggregate the RAW table; [[graft.plans.CatalogMvRewrite]] routes
    * them onto the MV's backing while it is fresh. */
  private[graft] def mvRewriteEvents(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    ensureTable(d, "mvrw_events", after = _ => spark.sql(
      s"CALL $cat.create_materialized_view('mv_rw_day_type', " +
        "'SELECT to_date(ts) AS event_date, event_type, count(*) AS n_events, " +
        "SUM(CAST(value AS DECIMAL(18,6))) AS total_dec " +
        s"FROM $cat.mvrw_events GROUP BY to_date(ts), event_type', or_replace => true)")) {
      Tables.events(spark, d).select(col("ts"), col("event_type"), col("value"))
    }
    spark.table(s"$cat.mvrw_events")
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
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(agg.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan.description() }
    val routed = scans.nonEmpty && scans.forall(_.contains("_mv_mv_cover"))
    spark.sql("SELECT 'plan' AS phase, " +
      s"'${if (routed) "mv-routed" else "raw-scan"}' AS event_type, " +
      "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum")
      .unionAll(agg.selectExpr("'rows' AS phase", "event_type", "n", "value_sum"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** q295 (r13): MAP-KEY FILE STATISTICS — `props['k'] BETWEEN x AND y`
    * prunes FILES at planning. The writer records per-key numeric
    * bounds for string-keyed maps as `<col>.<key>` entries in the same
    * cols map every scalar column uses, plus a `<col>#mk` completeness
    * marker that lets an ABSENT key prune a file outright; Spark's
    * V2ExpressionBuilder cannot translate `GetMapValue`, so the
    * injected [[graft.plans.MapKeyPushdown]] rule rewrites the filter
    * conjunct into the pushable `graft_map_get` V2 catalog function —
    * value-identical (null on missing key) — and the scan derives the
    * interval band FROM the pushed predicate, the r12 contract (never
    * a side-channel option). The layout ranges `uid = user_id % 64`
    * into 8-wide shards, so the pushed band plans exactly the shards
    * it straddles; the readout UNIONS a literal 'plan' row pinning
    * that files were pruned (planned < total), and DuckDB recomputes
    * the slice from the raw source columns. At 100 TB this is the
    * property-bag slice (`props['lang'] = ...`, `props['quality'] >
    * ...`) reading its shard of files instead of the corpus. */
  def mapKeySlice(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.map_props")
    Tables.events(spark, d)
      .selectExpr("event_id", "user_id", "value",
        "CAST((user_id % 64) DIV 8 AS STRING) AS shard")
      .createOrReplaceTempView("map_props_in")
    spark.sql(
      s"""CREATE TABLE $cat.map_props USING `graft-jsonl-stats`
         |PARTITIONED BY (shard)
         |AS SELECT event_id, shard,
         |  map('uid', user_id % 64, 'eid', event_id) AS props
         |FROM map_props_in""".stripMargin)
    val slice = spark.sql(
      s"""SELECT shard, count(*) AS n, sum(props['eid']) AS eid_sum
         |FROM $cat.map_props
         |WHERE props['uid'] >= 8 AND props['uid'] <= 15
         |GROUP BY shard""".stripMargin)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val total = JsonlStats.readStats(Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "map_props").toString).size
    val planned = nodes(slice.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan }
      .collect { case sc: JsonlStatsScan => sc.toBatch.planInputPartitions().length }.sum
    spark.sql("SELECT 'plan' AS phase, " +
      s"'${if (planned < total) "pruned" else "full"}' AS shard, " +
      "CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS eid_sum")
      .unionAll(slice.selectExpr("'rows' AS phase", "shard", "n", "eid_sum"))
      .orderBy(col("phase"), col("shard"))
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
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(agg.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan.description() }
    val routed = scans.nonEmpty && scans.forall(_.contains("_mv_mv_grain"))
    spark.sql("SELECT 'plan' AS phase, " +
      s"'${if (routed) "mv-routed" else "raw-scan"}' AS event_type, " +
      "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum")
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
    * AFFECTED groups (the delta's groups) recompute from the source
    * at head — a grain-predicate scan the connector prunes — and ride
    * into the same maintenance MERGE as extra delta columns. This
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
    val mode1 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_minmax')")
      .collect().head.getString(2)
    spark.sql(s"DELETE FROM $cat.mvm_src WHERE event_id % 7 = 0")
    val mode2 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_minmax')")
      .collect().head.getString(2)
    spark.sql(s"SELECT 'mode-append' AS phase, '$mode1' AS event_type, " +
      "CAST(0.0 AS DOUBLE) AS mn, CAST(0.0 AS DOUBLE) AS mx, CAST(0 AS BIGINT) AS n")
      .unionAll(spark.sql(s"SELECT 'mode-delete' AS phase, '$mode2' AS event_type, " +
        "CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0 AS BIGINT)"))
      .unionAll(spark.sql(
        s"SELECT 'rows' AS phase, event_type, mn, mx, n FROM $cat.mv_minmax"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** Orders and customer with the connector's 64-bit keys (it stores
    * no 32-bit ints). */
  private def ordersAndCustomer(spark: SparkSession, d: String): (DataFrame, DataFrame) = (
    Tables.orders(spark, d).select(col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_custkey").cast("long").as("o_custkey"), col("o_totalprice")),
    Tables.customer(spark, d).select(col("c_custkey").cast("long").as("c_custkey"),
      col("c_nationkey").cast("long").as("c_nationkey")))

  /** The per-nation order revenue body over `orders ⋈ customer`. */
  private def nationRevenueBody(cat: String, orders: String, customer: String): String =
    "SELECT c_nationkey, count(*) AS n_orders, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue " +
      s"FROM $cat.$orders JOIN $cat.$customer ON o_custkey = c_custkey GROUP BY c_nationkey"

  /** The q201/q229 build: `<p>_orders` and `<p>_customer` hold the
    * BASE key-residue slices (orderkey%10≠7, custkey%10≠3) as version
    * 1, the join MV `mv_<p>` is created over them, and then the delta
    * slices land — one `refresh_materialized_view` per window, a window
    * being the tables whose delta it covers. The residues make every
    * delta-join term non-empty, the cross term ΔA⋈ΔB included. The
    * build throws unless every refresh says `incremental`. Returns
    * (catalog, orders root, customer root). */
  private[graft] def ensureJoinMv(spark: SparkSession, d: String, p: String,
                                  windows: Seq[Seq[String]]): (String, String, String) = {
    val cat = ensureCatalog(spark, d)
    val (o, c) = ordersAndCustomer(spark, d)
    val (oName, cName) = (s"${p}_orders", s"${p}_customer")
    val delta = Map(oName -> o.filter(col("o_orderkey") % 10 === 7),
      cName -> c.filter(col("c_custkey") % 10 === 3))
    val cDir = Landing.fixtureDir(d, cName)
    val oDir = ensureTable(d, oName, Map("statsColumn" -> "o_orderkey"), after = _ => {
      // this build appends to the customer table: rebuild it from v1
      graft.util.Fs.deleteRecursively(cDir)
      ensureTable(d, cName, Map("statsColumn" -> "c_custkey"))(
        c.filter(col("c_custkey") % 10 =!= 3))
      spark.sql(s"CALL $cat.create_materialized_view('mv_$p', " +
        s"'${nationRevenueBody(cat, oName, cName)}', or_replace => true)")
      windows.foreach { w =>
        w.foreach(t => delta(t).write.format("graft-jsonl-stats")
          .option("path", Landing.fixtureDir(d, t)).mode("append").save())
        val mode = spark.sql(s"CALL $cat.refresh_materialized_view('mv_$p')")
          .collect().head.getString(2)
        require(mode == "incremental",
          s"mv_$p: the refresh of window ${w.mkString(" + ")} said '$mode'")
      }
    })(o.filter(col("o_orderkey") % 10 =!= 7))
    (cat, oDir, cDir)
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
    * the body ([[graft.plans.MvIncremental.splicedChild]]) — a fact
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
    val m1 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_star')")
      .collect().head.getString(2)
    // window 2: fact row-level DELETE — still incremental
    spark.sql(s"DELETE FROM $cat.mvj_fact WHERE event_id % 7 = 0")
    val m2 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_star')")
      .collect().head.getString(2)
    // window 3: BOTH sides move — the telescoping covers the cross term
    spark.sql(s"INSERT INTO $cat.mvj_fact " +
      "SELECT event_id, user_id, value FROM mvj_fact_in WHERE event_id % 3 = 2")
    spark.sql(s"INSERT INTO $cat.mvj_dim VALUES (99999991, 'SYNTHETIC')")
    val m3 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_star')")
      .collect().head.getString(2)
    def modeRow(phase: String, mode: String) =
      spark.sql(s"SELECT '$phase' AS phase, '$mode' AS seg, " +
        "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum")
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
    val mode = spark.sql(s"CALL $cat.refresh_materialized_view('mv_avg')")
      .collect().head.getString(2)
    // the dashboard query is written against the RAW table — the
    // transparent rewrite must route it through the (sum, count) state
    val agg = spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(CAST(avg(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,2)) AS DOUBLE) AS av2
         |FROM $cat.mva_src GROUP BY event_type""".stripMargin)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(agg.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan.description() }
    val routed = scans.nonEmpty && scans.forall(_.contains("_mv_mv_avg"))
    spark.sql(s"SELECT 'mode' AS phase, '$mode' AS event_type, " +
      "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS av2")
      .unionAll(spark.sql("SELECT 'plan' AS phase, " +
        s"'${if (routed) "mv-routed" else "raw-scan"}' AS event_type, " +
        "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS av2"))
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
    val m1 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_du')")
      .collect().head.getString(2)
    // window 2: row-level DELETE removing EVERY occurrence of some
    // users — the last-occurrence decrements that make DISTINCTCOUNT
    // non-distributive — must still refresh incrementally
    spark.sql(s"DELETE FROM $cat.mvd_src WHERE user_id % 5 = 0")
    val m2 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_du')")
      .collect().head.getString(2)
    // the dashboard query is written against the RAW table — at the
    // EXACT grain the transparent rewrite serves the stored liveness
    // count (r15); a coarser grain would decline (distinct counts do
    // not merge), so the 'plan' row pins the exact-grain route
    val agg = spark.sql(s"SELECT event_type, count(DISTINCT user_id) AS du, " +
      s"count(*) AS n FROM $cat.mvd_src GROUP BY event_type")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(agg.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan.description() }
    val routed = scans.nonEmpty && scans.forall(_.contains("_mv_mv_du"))
    def modeRow(phase: String, mode: String) =
      spark.sql(s"SELECT '$phase' AS phase, '$mode' AS event_type, " +
        "CAST(0 AS BIGINT) AS du, CAST(0 AS BIGINT) AS n")
    modeRow("mode-append", m1)
      .unionAll(modeRow("mode-delete", m2))
      .unionAll(modeRow("plan", if (routed) "mv-routed" else "raw-scan"))
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
    val m1 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_sem')")
      .collect().head.getString(2)
    // window 2: REDEFINE the view — no table version moves, the MV is
    // stale by definition-hash and rebuilds under the new meaning
    spark.sql(s"CALL $cat.create_view('v_sem', " +
      s"'SELECT event_type, value FROM $cat.mvf_src WHERE value >= 100.0', " +
      "or_replace => true)")
    val m2 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_sem')")
      .collect().head.getString(2)
    def modeRow(phase: String, mode: String) =
      spark.sql(s"SELECT '$phase' AS phase, '$mode' AS event_type, " +
        "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv")
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
    def manualMode(): String = spark.sql(
      s"CALL $cat.refresh_materialized_view('mv_cms')").collect().head.getString(2)
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
    def modeRow(phase: String, mode: String) =
      spark.sql(s"SELECT '$phase' AS phase, '$mode' AS event_type, " +
        "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv")
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
    val m1 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_lo')")
      .collect().head.getString(2)
    // window 2: fact row-level DELETE — still incremental
    spark.sql(s"DELETE FROM $cat.mvlo_fact WHERE event_id % 7 = 0")
    val m2 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_lo')")
      .collect().head.getString(2)
    // window 3: the LAGGING dim row arrives — Griffin–Libkin
    // compensation (r16): user 3's events re-home from 'none' into the
    // real segment INCREMENTALLY (flip −1 on the 'none' group, inner
    // term +matches), where r15 declined to the rebuild
    spark.sql(s"INSERT INTO $cat.mvlo_dim VALUES (3, 'SYNTHETIC')")
    val m3 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_lo')")
      .collect().head.getString(2)
    // window 4 (r16): dim rows DIE — their facts flip back INTO 'none'
    // (old match count > 0, window nets it to 0), still incremental
    spark.sql(s"DELETE FROM $cat.mvlo_dim WHERE c_custkey % 10 = 6")
    val m4 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_lo')")
      .collect().head.getString(2)
    def modeRow(phase: String, mode: String) =
      spark.sql(s"SELECT '$phase' AS phase, '$mode' AS seg, " +
        "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv")
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
    val m1 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_hav')")
      .collect().head.getString(2)
    // window 2: delete roughly half — the single-type segments cross OUT
    spark.sql(s"DELETE FROM $cat.mvh_src WHERE event_id % 2 = 0")
    val m2 = spark.sql(s"CALL $cat.refresh_materialized_view('mv_hav')")
      .collect().head.getString(2)
    def modeRow(phase: String, mode: String) =
      spark.sql(s"SELECT '$phase' AS phase, '$mode' AS seg, " +
        "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sv")
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
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def routed(df: DataFrame): Boolean = {
      val scans = nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.scan.description() }
      scans.nonEmpty && scans.forall(_.contains("_mv_mv_filt"))
    }
    val exact = spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.mvf_src WHERE event_type <> 'view' GROUP BY event_type""".stripMargin)
    val strong = spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM $cat.mvf_src WHERE event_type <> 'view' AND event_type <> 'error'
         |GROUP BY event_type""".stripMargin)
    def planRow(phase: String, ok: Boolean, tag: String) =
      spark.sql(s"SELECT '$phase' AS phase, " +
        s"'${if (ok) s"mv-routed-$tag" else s"raw-scan-$tag"}' AS event_type, " +
        "CAST(0 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS value_sum")
    planRow("plan-exact", routed(exact), "exact")
      .unionAll(planRow("plan-strong", routed(strong), "strong"))
      .unionAll(strong.selectExpr("'rows' AS phase", "event_type", "n", "value_sum"))
      .orderBy(col("phase"), col("event_type"))
  }

  /** q302 (r14): STRING map-key statistics — `props['lang'] = 'de'`,
    * the single most common property-bag predicate in a curation
    * pipeline, prunes FILES at planning. q295 covered numeric map
    * values; the writer now records truncated per-key STRING bounds
    * for MAP<STRING,STRING> columns as `<col>.<key>` entries in the
    * same scols map every string column uses (r8 one-sided truncation
    * laws apply unchanged), under the same `<col>#mk` completeness
    * marker — an ABSENT key still prunes a file outright. The injected
    * [[graft.plans.MapKeyPushdown]] rewrite covers string-valued maps
    * too, and the scan derives v1-style string filters on the dotted
    * key FROM the pushed predicate. The layout ranges `lang` with the
    * shard, so the equality slice plans exactly its shard's files; the
    * 'plan' row pins pruning (planned < total) and DuckDB recomputes
    * the slice from the raw columns. At 100 TB: the language slice of
    * a multilingual corpus reads its band of files, not the corpus. */
  def mapKeyStringSlice(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.map_lang")
    Tables.events(spark, d)
      .selectExpr("event_id", "user_id", "value",
        "CAST((user_id % 64) DIV 8 AS STRING) AS shard")
      .createOrReplaceTempView("map_lang_in")
    spark.sql(
      s"""CREATE TABLE $cat.map_lang USING `graft-jsonl-stats`
         |PARTITIONED BY (shard)
         |AS SELECT event_id, shard,
         |  map('lang', concat('l', shard), 'src', concat('s', CAST(event_id % 3 AS STRING))) AS props
         |FROM map_lang_in""".stripMargin)
    val slice = spark.sql(
      s"""SELECT shard, count(*) AS n, count(props['src']) AS n_src
         |FROM $cat.map_lang
         |WHERE props['lang'] = 'l1'
         |GROUP BY shard""".stripMargin)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val total = JsonlStats.readStats(Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "map_lang").toString).size
    val planned = nodes(slice.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan }
      .collect { case sc: JsonlStatsScan => sc.toBatch.planInputPartitions().length }.sum
    spark.sql("SELECT 'plan' AS phase, " +
      s"'${if (planned < total) "pruned" else "full"}' AS shard, " +
      "CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS n_src")
      .unionAll(slice.selectExpr("'rows' AS phase", "shard", "n", "n_src"))
      .orderBy(col("phase"), col("shard"))
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q97_compaction_roundtrip" -> compactionRoundtrip,
    "q122_zorder_box_scan" -> zorderBoxScan,
    "q130_stats_manifest_scan" -> statsManifestScan,
    "q152_dsv2_stats_scan" -> statsSkippingScan,
    "q159_dsv2_agg_pushdown" -> manifestAggregate,
    "q160_dsv2_write_roundtrip" -> writeRoundTrip,
    "q161_dsv2_stream_read" -> streamingManifestRead,
    "q162_dsv2_runtime_filter" -> runtimeFilteredJoin,
    "q167_dsv2_metadata_cols" -> metadataLineage,
    "q169_dsv2_spj" -> storagePartitionedJoin,
    "q170_catalog_sql" -> catalogSql,
    "q171_catalog_function" -> catalogFunction,
    "q172_dsv2_delete" -> rowLevelDelete,
    "q173_dsv2_update" -> rowLevelUpdate,
    "q174_dsv2_merge" -> rowLevelMerge,
    "q175_catalog_ctas" -> catalogCtas,
    "q176_dsv2_agg_pushdown_long" -> manifestAggregateLong,
    "q177_catalog_ctas_partitioned" -> catalogCtasPartitioned,
    "q178_catalog_compact" -> catalogCompact,
    "q179_time_travel" -> timeTravel,
    "q126_gold_time_travel" -> goldTimeTravel,
    "q180_vacuum" -> vacuumTable,
    "q181_change_feed" -> changeFeed,
    "q182_replace_where" -> replaceWhere,
    "q184_bloom_skipping" -> bloomPointLookup,
    "q185_catalog_clone" -> catalogClone,
    "q188_multicol_agg_pushdown" -> multiColAggregate,
    "q189_multicol_skipping" -> multiColSkippingScan,
    "q190_catalog_zorder" -> catalogZOrder,
    "q191_grouped_agg_pushdown" -> keyedGroupAggregate,
    "q192_dsv2_stream_sink" -> streamingManifestWrite,
    "q196_dv_delete" -> dvDelete,
    "q197_dv_rewrite" -> dvRewrite,
    "q203_check_constraint" -> checkConstraintGate,
    "q204_rename_column" -> renamedColumnRead,
    "q219_dv_update" -> dvUpdate,
    "q220_dv_merge" -> dvMerge,
    "q223_count_pushdown" -> countColPushdown,
    "q227_string_skipping" -> stringSkippingScan,
    "q231_concurrent_append" -> concurrentAppend,
    "q233_protocol_gate" -> protocolGatedRead,
    "q234_cdf_stream" -> cdfStreamDrain,
    "q236_column_default" -> columnDefaultRead,
    "q237_drop_column" -> dropColumnRead,
    "q238_zone_map_scan" -> zoneMapScan,
    "q239_gram_index_scan" -> gramIndexScan,
    "q240_hidden_bucket" -> hiddenBucketLookup,
    "q241_hidden_truncate" -> hiddenTruncateScan,
    "q242_hidden_bucket_spj" -> hiddenBucketSpj,
    "q243_partition_evolution" -> partitionEvolution,
    "q244_bucket_reduced_spj" -> hiddenBucketReducedSpj,
    "q245_history_compaction" -> historyCompaction,
    "q246_stream_hidden_bucket" -> streamingHiddenBucket,
    "q247_tag_time_travel" -> tagTimeTravel,
    "q248_wap_publish" -> wapPublish,
    "q249_branch_isolation" -> branchIsolation,
    "q250_partitions_meta" -> partitionsMetaTable,
    "q251_files_refs_meta" -> filesRefsMetaTable,
    "q252_equality_upsert" -> equalityUpsert,
    "q253_streaming_upsert" -> streamingUpsert,
    "q254_upsert_change_feed" -> upsertChangeFeed,
    "q255_rollback" -> rollbackRestore,
    "q256_cherry_pick" -> cherryPickRedo,
    "q257_analyzed_star_join" -> analyzedStarJoin,
    "q258_topn_pushdown" -> topNPushdown,
    "q259_limit_pushdown" -> limitPushdown,
    "q260_rate_limited_drain" -> rateLimitedDrain,
    "q261_histogram_skew_filter" -> histogramSkewFilter,
    "q262_sorted_table_scan" -> sortedTableScan,
    "q263_stats_meta_table" -> statsMetaTable,
    "q264_indexed_contamination" -> indexedContamination,
    "q265_row_lineage_scan" -> rowLineageScan,
    "q266_lineage_maintenance" -> lineageMaintenance,
    "q267_lineage_mor_dml" -> lineageMorDml,
    "q268_lineage_incremental" -> lineageIncremental,
    "q269_typed_columns_roundtrip" -> typedColumnsRoundtrip,
    "q270_connector_cosine_topk" -> connectorCosineTopk,
    "q271_lineage_replication" -> lineageReplication,
    "q272_lineage_keep_first" -> lineageKeepFirst,
    "q273_struct_columns_roundtrip" -> structColumnsRoundtrip,
    "q274_struct_lineage_maintenance" -> structLineageMaintenance,
    "q275_branch_dml_publish" -> branchDmlPublish,
    "q276_lineage_cow_dml" -> lineageCowDml,
    "q277_temporal_window_scan" -> temporalWindowScan,
    "q278_connector_cell_probe" -> connectorCellProbe,
    "q279_atomic_pair_publish" -> atomicPairPublish,
    "q141_multi_table_snapshot" -> multiTableSnapshot,
    "q280_inlist_point_lookups" -> inListPointLookups,
    "q281_map_column_scan" -> mapColumnScan,
    "q282_multimodal_corpus" -> multimodalCorpus,
    "q283_norm_band_radius" -> normBandRadius,
    "q284_daily_layout_scan" -> dailyLayoutScan,
    "q285_nested_leaf_slice" -> nestedLeafSlice,
    "q286_monthly_layout_scan" -> monthlyLayoutScan,
    "q287_composite_layout_scan" -> compositeLayoutScan,
    "q288_scoped_zorder" -> scopedZorderSlice,
    "q289_persistent_view" -> persistentViewSlice,
    "q290_system_sample" -> systemSampleScan,
    "q291_materialized_view" -> materializedViewLifecycle,
    "q292_dynamic_overwrite" -> dynamicPartitionOverwrite,
    "q293_incremental_mv_refresh" -> incrementalMvRefresh,
    "q210_mv_rewrite" -> mvRewriteAggregate,
    "q228_mv_rewrite_grain_filter" -> mvRewriteGrainFiltered,
    "q294_transparent_mv_rewrite" -> transparentMvRewrite,
    "q295_map_key_slice" -> mapKeySlice,
    "q296_sampled_view" -> sampledViewScan,
    "q297_coarser_grain_rewrite" -> coarserGrainMvRewrite,
    "q298_minmax_mv_refresh" -> minMaxMvRefresh,
    "q201_join_ivm" -> joinIvm,
    "q229_cdf_join_ivm" -> cdfJoinIvm,
    "q299_join_mv_refresh" -> joinMvRefresh,
    "q300_avg_mv" -> avgMvRefreshAndRoute,
    "q301_filtered_mv_rewrite" -> filteredMvRewrite,
    "q302_map_key_string_slice" -> mapKeyStringSlice,
    "q303_distinct_mv_refresh" -> distinctMvRefresh,
    "q304_leftouter_mv_refresh" -> leftOuterMvRefresh,
    "q305_having_mv_refresh" -> havingMvRefresh,
    "q235_streaming_ivm" -> streamingJoinIvm,
    "q306_continuous_mv_refresh" -> continuousMvRefresh,
    "q307_mv_over_view" -> mvOverViewRefresh,
  )

  val oracles = Map(
    "q97_compaction_roundtrip" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_date, event_type
        |ORDER BY event_date, event_type""".stripMargin,
    "q122_zorder_box_scan" ->
      """WITH b AS (
        |  SELECT MIN(o_custkey) AS mnk, MAX(o_custkey) AS mxk,
        |         MIN(CAST(o_orderdate AS DATE)) AS mnd,
        |         MAX(CAST(o_orderdate AS DATE)) AS mxd
        |  FROM orders
        |), box AS (
        |  SELECT mnk, mnk + (mxk - mnk) // 4 AS hik,
        |         mnd, mnd + CAST((mxd - mnd) // 4 AS INT) AS hid
        |  FROM b
        |)
        |SELECT o_orderpriority,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders, box
        |WHERE o_custkey BETWEEN mnk AND hik
        |  AND CAST(o_orderdate AS DATE) BETWEEN mnd AND hid
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q130_stats_manifest_scan" ->
      """WITH b AS (
        |  SELECT MIN(CAST(l_shipdate AS DATE)) AS mnd,
        |         MAX(CAST(l_shipdate AS DATE)) AS mxd
        |  FROM lineitem
        |), rng AS (
        |  SELECT mnd + CAST((mxd - mnd) // 3 AS INT) AS lo,
        |         mnd + CAST(2 * ((mxd - mnd) // 3) AS INT) AS hi
        |  FROM b
        |)
        |SELECT l_returnflag,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM lineitem, rng
        |WHERE CAST(l_shipdate AS DATE) BETWEEN lo AND hi
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
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
    "q152_dsv2_stats_scan" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM events
         |WHERE value >= $threshold
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    "q159_dsv2_agg_pushdown" ->
      """SELECT count(*) AS n, min(value) AS min_value, max(value) AS max_value
        |FROM events""".stripMargin,
    "q160_dsv2_write_roundtrip" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM events
         |WHERE value >= $threshold
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    "q161_dsv2_stream_read" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q162_dsv2_runtime_filter" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE c_custkey < (SELECT (MAX(user_id) + 1) // 8 FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q167_dsv2_metadata_cols" ->
      "SELECT TRUE AS all_counts_match, COUNT(*) AS n_events FROM events",
    "q169_dsv2_spj" ->
      """WITH ts AS (SELECT event_type, COUNT(*) AS n_total FROM events GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n, MAX(ts.n_total) AS n_total,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events e JOIN ts ON e.event_type = ts.event_type
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,
    "q170_catalog_sql" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM events
         |WHERE value >= $threshold
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    "q171_catalog_function" ->
      """SELECT vec_id,
        |  CAST(ROUND(SUM(CAST(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) AS DECIMAL(38,25))), 9) AS DOUBLE) AS sq
        |FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings)
        |GROUP BY vec_id
        |ORDER BY sq DESC, vec_id
        |LIMIT 5""".stripMargin,
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
    "q176_dsv2_agg_pushdown_long" ->
      """SELECT count(*) AS n, min(user_id) AS min_user, max(user_id) AS max_user
        |FROM events""".stripMargin,
    "q177_catalog_ctas_partitioned" ->
      """WITH ts AS (SELECT event_type, COUNT(*) AS n_total FROM events GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n, MAX(ts.n_total) AS n_total,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events e JOIN ts ON e.event_type = ts.event_type
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,
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
    "q178_catalog_compact" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q180_vacuum" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE event_type <> 'click'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q185_catalog_clone" ->
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
    "q257_analyzed_star_join" ->
      """WITH u AS (
        |  SELECT user_id, min(event_id) AS first_event FROM events GROUP BY user_id),
        |t AS (
        |  SELECT DISTINCT event_type, length(event_type) AS type_len FROM events)
        |SELECT t.event_type, count(*) AS n,
        |  CAST(SUM(CAST(f.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(u.first_event) AS min_first
        |FROM events f
        |JOIN u ON f.user_id = u.user_id
        |JOIN t ON f.event_type = t.event_type
        |WHERE t.type_len >= 4
        |GROUP BY t.event_type
        |ORDER BY t.event_type""".stripMargin,
    "q258_topn_pushdown" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id DESC LIMIT 100""".stripMargin,
    "q259_limit_pushdown" ->
      """SELECT count(*) AS n FROM (SELECT event_id FROM events LIMIT 500) AS t""".stripMargin,
    "q264_indexed_contamination" ->
      """SELECT probe, n_docs, min_id, max_id FROM (
        |  SELECT 'merge batch part' AS probe, count(*) AS n_docs,
        |    min(doc_id) AS min_id, max(doc_id) AS max_id
        |  FROM documents WHERE text LIKE '%merge batch part%'
        |  UNION ALL
        |  SELECT 'customer query line', count(*), min(doc_id), max(doc_id)
        |  FROM documents WHERE text LIKE '%customer query line%'
        |  UNION ALL
        |  SELECT 'window spark order', count(*), min(doc_id), max(doc_id)
        |  FROM documents WHERE text LIKE '%window spark order%'
        |  UNION ALL
        |  SELECT 'zzqq absent probe', count(*), min(doc_id), max(doc_id)
        |  FROM documents WHERE text LIKE '%zzqq absent probe%'
        |) AS t ORDER BY probe""".stripMargin,
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
    "q262_sorted_table_scan" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE value >= 100.0 AND value < 140.0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
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
    "q284_daily_layout_scan" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE ts >= TIMESTAMP'2024-01-12 00:00:00'
        |  AND ts <  TIMESTAMP'2024-01-13 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q292_dynamic_overwrite" ->
      ("WITH rows AS (\n" +
      "  SELECT event_type, value FROM events\n" +
      "  WHERE event_type IN ('purchase', 'error') OR event_id % 2 = 0)\n" +
      "SELECT event_type, count(*) AS n,\n" +
      "  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum\n" +
      "FROM rows GROUP BY event_type ORDER BY event_type"),
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
    "q302_map_key_string_slice" ->
      """WITH src AS (
        |  SELECT event_id, CAST((user_id % 64) // 8 AS VARCHAR) AS shard
        |  FROM events)
        |SELECT 'plan' AS phase, 'pruned' AS shard,
        |  CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS n_src
        |UNION ALL
        |SELECT 'rows' AS phase, shard, count(*) AS n, count(*) AS n_src
        |FROM src WHERE shard = '1' GROUP BY shard
        |ORDER BY phase, shard""".stripMargin,
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
    "q295_map_key_slice" ->
      """WITH src AS (
        |  SELECT CAST((user_id % 64) // 8 AS VARCHAR) AS shard, event_id
        |  FROM events WHERE (user_id % 64) BETWEEN 8 AND 15)
        |SELECT 'plan' AS phase, 'pruned' AS shard,
        |  CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS eid_sum
        |UNION ALL
        |SELECT 'rows' AS phase, shard, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS eid_sum
        |FROM src GROUP BY shard
        |ORDER BY phase, shard""".stripMargin,
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
    "q290_system_sample" ->
      """WITH base AS (SELECT user_id % 16 AS shard, value FROM events)
        |SELECT CAST(shard AS VARCHAR) AS shard, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM base
        |WHERE ((shard * 2654435761 + 42 * 40503 + 17) % 2147483648)
        |      < CAST(0.375 * 2147483648 AS BIGINT)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q289_persistent_view" ->
      """SELECT event_id % 8 AS b, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE event_type = 'purchase' AND value > 50
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q288_scoped_zorder" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE ts >= TIMESTAMP'2024-01-15 00:00:00'
        |  AND ts <  TIMESTAMP'2024-01-16 00:00:00'
        |  AND user_id BETWEEN 3 AND 9 AND value BETWEEN 5.0 AND 120.0
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q287_composite_layout_scan" ->
      """SELECT user_id, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE ts >= TIMESTAMP'2024-01-08 00:00:00'
        |  AND ts <  TIMESTAMP'2024-01-11 00:00:00'
        |  AND user_id = 7
        |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin,
    "q286_monthly_layout_scan" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS price_sum
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP'1997-03-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP'1997-06-01 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q285_nested_leaf_slice" ->
      """SELECT lang, source, count(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS lo_id, max(doc_id) AS hi_id
        |FROM documents
        |WHERE lang = 'de' AND n_chars >= 100
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "q283_norm_band_radius" ->
      """WITH per AS (
        |  SELECT doc_id,
        |    ((doc_id % 97)/8.0 - 0.125)*((doc_id % 97)/8.0 - 0.125) +
        |    ((doc_id % 53)/8.0 - 0.125)*((doc_id % 53)/8.0 - 0.125) +
        |    ((doc_id % 29)/8.0 - 0.125)*((doc_id % 29)/8.0 - 0.125) +
        |    ((doc_id % 11)/8.0 - 0.125)*((doc_id % 11)/8.0 - 0.125) AS d2
        |  FROM documents)
        |SELECT doc_id, CAST(d2 * 64 AS BIGINT) AS d2_64
        |FROM per WHERE d2 <= 4.0 ORDER BY doc_id""".stripMargin,
    "q282_multimodal_corpus" ->
      """WITH corpus AS (
        |  SELECT d.doc_id, d.lang, d.n_chars, e.embedding,
        |    row_number() OVER (ORDER BY d.doc_id) - 1 AS rid
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |surv AS (SELECT * FROM corpus WHERE n_chars >= 200),
        |vs AS (
        |  SELECT doc_id, CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * 64) AS BIGINT)) AS BIGINT) AS vsum
        |  FROM (SELECT doc_id, unnest(embedding) AS e FROM surv)
        |  GROUP BY doc_id)
        |SELECT s.lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(s.n_chars) AS BIGINT) AS chars,
        |  CAST(sum(v.vsum) AS BIGINT) AS vsum,
        |  CAST(max(s.rid) AS BIGINT) AS max_rid
        |FROM surv s JOIN vs v ON s.doc_id = v.doc_id
        |GROUP BY s.lang ORDER BY s.lang""".stripMargin,
    "q281_map_column_scan" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(regexp_extract(props, '-?[0-9]+', 0) AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q280_inlist_point_lookups" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id IN (7, 421, 867, 5000000)
        |ORDER BY event_id""".stripMargin,
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
    "q278_connector_cell_probe" ->
      s"""WITH ${graft.ext.SimilarityMath.normsCte},
         |cells AS (
         |  SELECT vec_id, embedding,
         |    ${graft.ext.SimilarityMath.vecCellSql("embedding")} AS cell
         |  FROM embeddings),
         |qr AS (SELECT embedding AS qv, cell AS qc FROM cells WHERE vec_id = 0),
         |probes AS (
         |  SELECT qc AS cell FROM qr
         |  UNION ALL
         |  SELECT xor(qc, (1 << i)) FROM qr,
         |    (SELECT unnest(generate_series(0, ${JsonlStats.VecCellBits - 1})) AS i)),
         |cand AS (
         |  SELECT c.vec_id, c.embedding, q.qv FROM cells c, qr q
         |  WHERE c.cell IN (SELECT cell FROM probes)),
         |dots AS (
         |  SELECT vec_id,
         |    CAST(SUM(CAST(CAST(qv[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
         |      AS DECIMAL(38,25))) AS DOUBLE) AS dot
         |  FROM (SELECT vec_id, embedding, qv,
         |          unnest(generate_series(1, len(embedding))) AS i FROM cand)
         |  GROUP BY vec_id)
         |SELECT d.vec_id, ROUND(d.dot / (nq.nrm * nc.nrm), 6) AS cosine
         |FROM dots d,
         |  (SELECT nrm FROM norms WHERE vec_id = 0) nq
         |JOIN norms nc ON d.vec_id = nc.vec_id
         |WHERE d.dot / (nq.nrm * nc.nrm) >= 0.15
         |ORDER BY d.vec_id""".stripMargin,
    "q277_temporal_window_scan" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day_s, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  CAST(min(epoch_us(ts)) AS BIGINT) AS first_us
        |FROM events
        |WHERE ts >= TIMESTAMP'2024-01-10 00:00:00'
        |  AND ts <  TIMESTAMP'2024-01-17 00:00:00'
        |GROUP BY 1 ORDER BY day_s""".stripMargin,
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
    "q273_struct_columns_roundtrip" ->
      """SELECT doc_id, lang, source AS src, n_chars,
        |  substring(text, 1, 16) AS head,
        |  CAST(n_chars + (doc_id % 7) AS BIGINT) AS sc
        |FROM documents WHERE doc_id % 11 = 0
        |ORDER BY doc_id""".stripMargin,
    "q274_struct_lineage_maintenance" ->
      """WITH base AS (
        |  SELECT doc_id, lang, substring(text, 1, 16) AS head,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS rid
        |  FROM documents WHERE doc_id % 3 = 1)
        |SELECT doc_id, lang, head, CAST(row_id AS BIGINT) AS row_id,
        |  CAST(last_v AS BIGINT) AS last_v FROM (
        |  SELECT doc_id, lang, head, rid AS row_id, 1 AS last_v FROM base
        |  UNION ALL SELECT 99000001, 'xx', 'tail', (SELECT count(*) FROM base), 2
        |  UNION ALL SELECT 99000002, 'yy', 'tail2', (SELECT count(*) FROM base) + 1, 3
        |) AS t ORDER BY doc_id""".stripMargin,
    "q269_typed_columns_roundtrip" ->
      """WITH ex AS (SELECT vec_id, unnest(embedding) AS e FROM embeddings),
        |per AS (
        |  SELECT vec_id,
        |    CAST(count(*) AS BIGINT) AS dims,
        |    CAST(SUM(CAST(FLOOR(CAST(e AS DOUBLE) * 64) AS BIGINT)) AS BIGINT) AS csum
        |  FROM ex GROUP BY vec_id)
        |SELECT (vec_id % 2 = 0) AS is_even, count(*) AS n,
        |  CAST(SUM(dims) AS BIGINT) AS dims_sum,
        |  CAST(SUM(csum) AS BIGINT) AS csum_sum
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q270_connector_cosine_topk" ->
      s"""WITH ${graft.ext.SimilarityMath.normsCte},
         |pairs AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid, q.embedding AS qv, c.embedding AS cv
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < ${graft.ext.SimilarityMath.nQueries}
         |), dots AS (
         |  SELECT qid, vid,
         |    CAST(SUM(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(38,25))) AS DOUBLE) AS dot
         |  FROM (SELECT qid, vid, qv, cv, unnest(generate_series(1, len(qv))) AS i FROM pairs)
         |  GROUP BY qid, vid
         |), cosv AS (
         |  SELECT qid, vid, dot / (nq.nrm * nc.nrm) AS cosine
         |  FROM dots JOIN norms nq ON qid = nq.vec_id JOIN norms nc ON vid = nc.vec_id)
         |SELECT qid, vid, ROUND(cosine, 6) AS cosine, rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vid) AS rnk
         |  FROM cosv)
         |WHERE rnk <= ${graft.ext.SimilarityMath.topK}
         |ORDER BY qid, rnk""".stripMargin,
    "q261_histogram_skew_filter" ->
      """SELECT count(*) AS n,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  CAST(SUM(CAST(power(2.0, event_id % 20) AS DECIMAL(18,6))) AS DOUBLE) AS sk_sum
        |FROM events
        |WHERE power(2.0, event_id % 20) >= 262144.0""".stripMargin,
    "q260_rate_limited_drain" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
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
    "q246_stream_hidden_bucket" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE user_id = (SELECT max(user_id) FROM events)""".stripMargin,
    "q245_history_compaction" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE event_id % 24 <= 12
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q244_bucket_reduced_spj" ->
      """WITH d AS (SELECT user_id, count(*) AS user_events FROM events GROUP BY user_id)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(SUM(d.user_events) AS BIGINT) AS events_weight,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events e JOIN d USING (user_id)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,
    "q243_partition_evolution" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q242_hidden_bucket_spj" ->
      """WITH d AS (SELECT user_id, count(*) AS user_events FROM events GROUP BY user_id)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(SUM(d.user_events) AS BIGINT) AS events_weight,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events e JOIN d USING (user_id)
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,
    "q240_hidden_bucket" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE user_id = (SELECT max(user_id) FROM events)""".stripMargin,
    "q241_hidden_truncate" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE event_type = 'purchase'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q239_gram_index_scan" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < 25 THEN text || ' xqzgramneedle' ELSE text END AS text
        |  FROM documents)
        |SELECT count(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM t WHERE text LIKE '%xqzgramneedle%'""".stripMargin,
    "q184_bloom_skipping" ->
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
    "q188_multicol_agg_pushdown" ->
      """SELECT count(*) AS n,
        |  min(value) AS min_value, max(value) AS max_value,
        |  min(user_id) AS min_user, max(user_id) AS max_user,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events""".stripMargin,
    "q189_multicol_skipping" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE event_id <= (SELECT max(event_id) // 8 FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q190_catalog_zorder" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |FROM events
         |WHERE user_id <= (SELECT (max(user_id) + 1) // 4 FROM events)
         |  AND value >= $threshold
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    // the oracle states the SAME cut on epoch microseconds, never
    // formatting a string: the Spark leg's injective ISO-micro format
    // makes ts_iso >= cutIso exactly equivalent to ts >= cut
    "q227_string_skipping" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE epoch_us(ts) >= (SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q231: the racing appenders partition the feed by event_id residue,
    // so lossless concurrent commits ⟺ the table equals the whole feed
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
    "q238_zone_map_scan" ->
      """SELECT event_type, 16 * count(*) AS n,
        |  CAST(16 * SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE value < (SELECT min(value) + (max(value) - min(value)) / 8 FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q237: the post-drop aggregate over the surviving columns
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
    "q191_grouped_agg_pushdown" ->
      """SELECT event_type, count(*) AS n,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events
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
    "q223_count_pushdown" ->
      """SELECT count(*) AS n_rows,
        |  count(CASE WHEN event_type = 'error' THEN NULL ELSE value END) AS n_value,
        |  count(user_id) AS n_user
        |FROM events""".stripMargin,
    // q174's derivation verbatim: the COW and MoR MERGE paths must
    // agree — identical semantics, different storage
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

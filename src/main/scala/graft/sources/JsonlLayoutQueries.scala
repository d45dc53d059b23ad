package graft.sources

import graft.QueryModule
import graft.ingest.Tables
import graft.util.Det._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Paths
import JsonlFixtures._

/** The graft-jsonl-stats connector's skipping and layout queries: manifest
  * and bloom file skipping, aggregate, top-N and limit pushdown, runtime
  * filters, z-order and compaction, hidden partition transforms and the
  * storage-partitioned joins over them, and stats-costed planning.
  * Fixtures live in [[JsonlFixtures]].
  */
object JsonlLayoutQueries extends QueryModule {

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
    * moves). The oracle re-derives both sides from parquet. The SPJ
    * flags come from the session ([[graft.GraftSession]] sets them at
    * build time); the query sets no conf, so a session without them
    * returns the same rows through a shuffled plan. */
  def storagePartitionedJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
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
    * on the first mismatch. The reduction needs
    * `allowCompatibleTransforms`, which [[graft.GraftSession]] sets at
    * session build like q169's flags; the query itself sets no conf. */
  def hiddenBucketReducedSpj(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
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
    // planned AND executed on a session of its own with CBO on, so AQE's
    // runtime re-planning sees CBO too and the caller's session never does
    cbo(spark).sql(
      s"""SELECT t.event_type, count(*) AS n,
         |  CAST(SUM(CAST(f.value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
         |  min(u.first_event) AS min_first
         |FROM $cat.jsonl_cbo_fact f
         |JOIN $cat.jsonl_cbo_users u ON f.user_id = u.user_id
         |JOIN $cat.jsonl_cbo_types t ON f.event_type = t.event_type
         |WHERE t.type_len >= 4
         |GROUP BY t.event_type
         |ORDER BY t.event_type""".stripMargin)
  }

  /** A session derived from `spark` with cost-based join reordering on. */
  private def cbo(spark: SparkSession): SparkSession = graft.util.Confs.derived(spark,
    "spark.sql.cbo.enabled" -> "true", "spark.sql.cbo.joinReorder.enabled" -> "true")

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
    // planned and executed under CBO — see q257
    cbo(spark).sql(
      s"""SELECT count(*) AS n,
         |  min(event_id) AS min_id, max(event_id) AS max_id,
         |  CAST(SUM(CAST(sk AS DECIMAL(18,6))) AS DOUBLE) AS sk_sum
         |FROM $cat.jsonl_hist_skew
         |WHERE sk >= 262144.0""".stripMargin)
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

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q97_compaction_roundtrip" -> compactionRoundtrip,
    "q122_zorder_box_scan" -> zorderBoxScan,
    "q130_stats_manifest_scan" -> statsManifestScan,
    "q152_dsv2_stats_scan" -> statsSkippingScan,
    "q159_dsv2_agg_pushdown" -> manifestAggregate,
    "q160_dsv2_write_roundtrip" -> writeRoundTrip,
    "q162_dsv2_runtime_filter" -> runtimeFilteredJoin,
    "q167_dsv2_metadata_cols" -> metadataLineage,
    "q169_dsv2_spj" -> storagePartitionedJoin,
    "q170_catalog_sql" -> catalogSql,
    "q171_catalog_function" -> catalogFunction,
    "q176_dsv2_agg_pushdown_long" -> manifestAggregateLong,
    "q177_catalog_ctas_partitioned" -> catalogCtasPartitioned,
    "q178_catalog_compact" -> catalogCompact,
    "q184_bloom_skipping" -> bloomPointLookup,
    "q188_multicol_agg_pushdown" -> multiColAggregate,
    "q189_multicol_skipping" -> multiColSkippingScan,
    "q190_catalog_zorder" -> catalogZOrder,
    "q191_grouped_agg_pushdown" -> keyedGroupAggregate,
    "q223_count_pushdown" -> countColPushdown,
    "q227_string_skipping" -> stringSkippingScan,
    "q238_zone_map_scan" -> zoneMapScan,
    "q240_hidden_bucket" -> hiddenBucketLookup,
    "q241_hidden_truncate" -> hiddenTruncateScan,
    "q242_hidden_bucket_spj" -> hiddenBucketSpj,
    "q243_partition_evolution" -> partitionEvolution,
    "q244_bucket_reduced_spj" -> hiddenBucketReducedSpj,
    "q257_analyzed_star_join" -> analyzedStarJoin,
    "q258_topn_pushdown" -> topNPushdown,
    "q259_limit_pushdown" -> limitPushdown,
    "q261_histogram_skew_filter" -> histogramSkewFilter,
    "q262_sorted_table_scan" -> sortedTableScan,
    "q280_inlist_point_lookups" -> inListPointLookups,
    "q284_daily_layout_scan" -> dailyLayoutScan,
    "q286_monthly_layout_scan" -> monthlyLayoutScan,
    "q287_composite_layout_scan" -> compositeLayoutScan,
    "q288_scoped_zorder" -> scopedZorderSlice,
    "q290_system_sample" -> systemSampleScan,
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
    "q178_catalog_compact" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
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
    "q262_sorted_table_scan" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE value >= 100.0 AND value < 140.0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q284_daily_layout_scan" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE ts >= TIMESTAMP'2024-01-12 00:00:00'
        |  AND ts <  TIMESTAMP'2024-01-13 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q290_system_sample" ->
      """WITH base AS (SELECT user_id % 16 AS shard, value FROM events)
        |SELECT CAST(shard AS VARCHAR) AS shard, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM base
        |WHERE ((shard * 2654435761 + 42 * 40503 + 17) % 2147483648)
        |      < CAST(0.375 * 2147483648 AS BIGINT)
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
    "q280_inlist_point_lookups" ->
      """SELECT event_id, event_type, value FROM events
        |WHERE event_id IN (7, 421, 867, 5000000)
        |ORDER BY event_id""".stripMargin,
    "q261_histogram_skew_filter" ->
      """SELECT count(*) AS n,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  CAST(SUM(CAST(power(2.0, event_id % 20) AS DECIMAL(18,6))) AS DOUBLE) AS sk_sum
        |FROM events
        |WHERE power(2.0, event_id % 20) >= 262144.0""".stripMargin,
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
    "q184_bloom_skipping" ->
      """SELECT count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events
        |WHERE user_id = (SELECT max(user_id) FROM events)""".stripMargin,
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
    "q238_zone_map_scan" ->
      """SELECT event_type, 16 * count(*) AS n,
        |  CAST(16 * SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
        |FROM events
        |WHERE value < (SELECT min(value) + (max(value) - min(value)) / 8 FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // q237: the post-drop aggregate over the surviving columns
    "q191_grouped_agg_pushdown" ->
      """SELECT event_type, count(*) AS n,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q223_count_pushdown" ->
      """SELECT count(*) AS n_rows,
        |  count(CASE WHEN event_type = 'error' THEN NULL ELSE value END) AS n_value,
        |  count(user_id) AS n_user
        |FROM events""".stripMargin,
    // q174's derivation verbatim: the COW and MoR MERGE paths must
    // agree — identical semantics, different storage
  )
}

package graft.sources

import graft.ingest.{Landing, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** The one home of every graft-jsonl-stats fixture the connector query
  * modules read: the build-once tables (each under [[Landing.ensureBuilt]]),
  * the fixture catalog ([[ensureCatalog]], rooted at [[catalogRoot]]),
  * and the metadata helpers the queries derive their ranges from.
  *
  * The base fixture is the event feed laid out as range-bucketed JSONL
  * files with a `_stats.jsonl` manifest carrying each file's `value`
  * bounds — the landing-zone-with-manifest table a connector would meet
  * in production. The bucketing is VALUE-RANGED (bucket k = k-th eighth
  * of the observed [min, max]) precisely so the manifest bounds are
  * tight and a range predicate can prove most files irrelevant; a hash
  * layout would give every file the full interval and skip nothing.
  * [[ensureFixture]], [[ensureTypeKeyedFact]] and [[ensureTypeDim]]
  * write their manifests by hand, so the connector is also tested on a
  * manifest it did not write.
  */
object JsonlFixtures {

  private[sources] val buckets = 8
  private[sources] val threshold = 300.0 // prunes ~5 of 8 range buckets; all types survive

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
        .json(out)
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
  private[sources] def ensureTable(d: String, name: String, opts: Map[String, String] = Map.empty,
                          after: String => Unit = _ => ())(rows: => DataFrame): String =
    Landing.ensureBuilt(Landing.fixtureDir(d, name)) { out =>
      Files.createDirectories(Paths.get(out))
      rows.write.format("graft-jsonl-stats").option("path", out).options(opts)
        .mode("overwrite").save()
      after(out)
    }

  /** An `after` step for [[ensureTable]]: rewrite the table sidecar. */
  private[sources] def stampMeta(f: JsonlStats.TableMeta => JsonlStats.TableMeta): String => Unit =
    out => JsonlStats.writeTableMeta(out, f(JsonlStats.readTableMeta(out)))

  /** The event feed range-partitioned on `value` into [[buckets]] files:
    * tight, disjoint value bounds per file. */
  private[sources] def valueRangedFeed(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .repartitionByRange(buckets, $"value")
  }

  /** [lo, hi] of column `c` over the live manifest's per-file bounds —
    * a metadata read; no data file is opened. Every entry must carry
    * bounds for `c`, or the span would be a guess. */
  private[sources] def manifestSpan(dir: String, c: String): (Double, Double) = {
    val statsCol = JsonlStats.readTableMeta(dir).statsCol.getOrElse(JsonlStats.statsColumn)
    val stats = JsonlStats.readStats(dir)
    val bounds = stats.flatMap(s => JsonlStats.colBounds(s, c, statsCol))
    require(bounds.nonEmpty && bounds.size == stats.size,
      s"$dir: ${stats.size - bounds.size} of ${stats.size} manifest entries lack $c bounds")
    (bounds.map(_._1).min, bounds.map(_._2).max)
  }

  /** The calendar day of an epoch-microsecond timestamp bound. */
  private[sources] def microsDay(us: Double): java.time.LocalDate =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(us.toLong, 86400L * 1000000L))

  /** `c`'s calendar day lies in [lo, hi], stated on the raw timestamp
    * column as a half-open range, so the connector prunes files with it
    * (a `to_date(c) BETWEEN` predicate never reaches the scan). */
  private[sources] def dayRange(c: Column, lo: java.time.LocalDate, hi: java.time.LocalDate): Column =
    c >= lit(lo.atStartOfDay()) && c < lit(hi.plusDays(1).atStartOfDay())

  /** `CALL <cat>.refresh_materialized_view(mv)`; returns the refresh mode
    * it reports. */
  private[sources] def refreshMv(spark: SparkSession, cat: String, mv: String): String =
    spark.sql(s"CALL $cat.refresh_materialized_view('$mv')").collect().head.getString(2)

  /** Every V2 scan in `df`'s executed plan, looking through adaptive
    * query stages. */
  private[sources] def v2Scans(df: DataFrame): Seq[Scan] =
    new AdaptiveSparkPlanHelper {}.collect(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.executedPlan) {
      case b: BatchScanExec => b.scan
    }

  /** The WRITTEN table fixture: the event feed pushed through the
    * connector's own BatchWrite (range-partitioned on the stats column
    * so the written files carry tight, disjoint bounds — the layout a
    * stats-manifest table wants). */
  def ensureWrittenFixture(spark: SparkSession, d: String): String =
    ensureMutableTable(spark, d, "jsonl_stats_written")

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
      // the cut is the first eighth of the ACTIVE id span (the generated
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
        .json(out)
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

  /** The fixture catalog's root: this corpus' fixture directory, home of
    * [[ensureFixture]]'s table and every [[ensureTable]] table. */
  def catalogRoot(d: String): String =
    Paths.get(Landing.fixtureDir(d, "jsonl_stats_table")).getParent.toString

  /** Register a [[GraftCatalog]] at [[catalogRoot]] (building the base
    * fixture first) and return its name. */
  def ensureCatalog(spark: SparkSession, d: String): String = {
    ensureFixture(spark, d)
    catalogAt(spark, catalogRoot(d))
  }

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

  /** One value-ranged connector-written table per name — the read-only
    * written fixture and each row-level query's own mutable copy
    * (mutations must not compound across queries, and each query must
    * be idempotent across bench reps on its own table). */
  private[sources] def ensureMutableTable(spark: SparkSession, d: String, name: String): String =
    ensureTable(d, name)(valueRangedFeed(spark, d))

  /** The merge-on-read twin of [[ensureMutableTable]]: same value-ranged
    * layout, `deleteMode=merge-on-read` stamped into the table sidecar
    * so DELETE takes the deletion-vector path. */
  private[sources] def ensureMorTable(spark: SparkSession, d: String, name: String): String =
    ensureTable(d, name, after = stampMeta(_.copy(deleteMode = Some("merge-on-read"))))(
      valueRangedFeed(spark, d))

  /** The bloom-indexed fixture: value-ranged layout (so user_id bounds
    * discriminate nothing) + per-file bloom sidecars over `user_id`. */
  def ensureBloomFixture(spark: SparkSession, d: String): String =
    ensureTable(d, "jsonl_bloom_events", Map("bloomColumn" -> "user_id"))(valueRangedFeed(spark, d))

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

  /** q245's fixture: a 24-commit history (one deterministic slice of
    * the feed per INSERT) through the catalog — the commit-per-append
    * shape whose archive SCALING.md's MetaBench priced at manifest-size ×
    * commit-rate. Records the version current after slice 12 so the
    * time-travel read below is pinned by construction. */
  def ensureHistoryFixture(spark: SparkSession, d: String): String = {
    val cat = ensureCatalog(spark, d)
    val dir = Paths.get(catalogRoot(d), "jsonl_history").toString
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

  /** The id-ranged layout (monotone ids ↔ arrival order — the
    * time-series table shape) that makes TopN pushdown a point lookup. */
  private[sources] def ensureIdRangedFixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    ensureTable(d, "jsonl_id_ranged") {
      Tables.events(spark, d)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .repartitionByRange(buckets, $"event_id")
    }
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

  private[sources] def embTable(spark: SparkSession, d: String): DataFrame =
    spark.read.format("graft-jsonl-stats")
      .option("path", ensureEmbFixture(spark, d)).load()

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

  /** Orders and customer with the connector's 64-bit keys (it stores
    * no 32-bit ints). */
  private[sources] def ordersAndCustomer(spark: SparkSession, d: String): (DataFrame, DataFrame) = (
    Tables.orders(spark, d).select(col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_custkey").cast("long").as("o_custkey"), col("o_totalprice")),
    Tables.customer(spark, d).select(col("c_custkey").cast("long").as("c_custkey"),
      col("c_nationkey").cast("long").as("c_nationkey")))

  /** The per-nation order revenue body over `orders ⋈ customer`. */
  private[sources] def nationRevenueBody(cat: String, orders: String, customer: String): String =
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
        val mode = refreshMv(spark, cat, s"mv_$p")
        require(mode == "incremental",
          s"mv_$p: the refresh of window ${w.mkString(" + ")} said '$mode'")
      }
    })(o.filter(col("o_orderkey") % 10 =!= 7))
    (cat, oDir, cDir)
  }
}

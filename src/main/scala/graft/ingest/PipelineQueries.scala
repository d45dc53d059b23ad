package graft.ingest

import graft.QueryModule
import graft.util.Det._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Registered ingest/sink round-trip queries (S1/S2/S5/S6/S7).
  *
  * Each query materializes a deterministic landing/gold fixture from the
  * driver tables, reads it back through the ingest or sink layer under
  * test, and aggregates — the oracle runs the same aggregate on the
  * original parquet, so a hash match proves the full write→read→type
  * path is lossless (JSON string timestamps, JSON/CSV double round-trip,
  * partition-column recovery, corrupt-row quarantine).
  */
object PipelineQueries extends QueryModule {

  private val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"

  /** S1: events → JSONL landing directory (ISO-8601 'Z' wire timestamps) →
    * explicit-schema read-back → aggregate. */
  def jsonlRoundtrip(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val wire = Tables.events(spark, d).select(
      $"event_id", $"user_id", $"event_type", $"value",
      date_format($"ts", tsFmt).as("ts_str"))
    val dir = Landing.ensureJsonlFixture(wire, d, "events_jsonl")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts_str", StringType)))
    Landing.readJsonl(spark, dir, schema)
      .withColumn("ts", to_timestamp($"ts_str", tsFmt))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
           msum($"value").as("total_value"),
           count($"ts").as("n_ts_parsed"))
      .orderBy($"event_type")
  }

  /** S2: customer dim → single multiLine JSON-array file → read-back. */
  def multilineDimRoundtrip(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val path = Landing.ensureJsonArrayFixture(
      Tables.customer(spark, d), d, "customers_dim")
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    Landing.readMultiLineDim(spark, path, schema)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
           msum($"c_acctbal").as("total_balance"),
           countDistinct($"c_nationkey").as("n_nations"))
      .orderBy($"c_mktsegment")
  }

  /** S7: partitioned landing load with lineage columns and PERMISSIVE
    * corrupt-record quarantine (one deliberately broken file in the
    * `event_type=corrupt` partition). `load_ts` is wall-clock lineage and
    * deliberately excluded from the deterministic output. */
  def lineageLoad(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val wire = Tables.events(spark, d)
      .select($"event_id", $"user_id", $"value", $"event_type")
    val dir = Landing.ensureJsonlFixture(wire, d, "events_by_type", Seq("event_type"))
    Landing.ensureCorruptFile(dir, "event_type=corrupt")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType)))
    // Materialize bronze first (the COPY INTO bronze step of
    // dag_streamflow_warehouse.py:97-111). Spark also *requires* parsed
    // results to be persisted before the corrupt-record column can be
    // queried (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) —
    // the medallion bronze table is exactly that materialization.
    val bronze = Landing.ensureBuilt(Landing.fixtureDir(d, "bronze_events")) { out =>
      Landing.readWithLineage(spark, dir, schema, basePath = Some(dir))
        .write.mode("overwrite").parquet(out)
    }
    spark.read.parquet(bronze)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
           count($"event_id").as("n_good"),
           count($"_corrupt_record").as("n_corrupt"),
           every(length($"source_file") > 0).as("has_lineage"))
      .orderBy($"event_type")
  }

  /** S5: gold daily-revenue CSV sink (coalesce(1)/overwrite/header) →
    * read-back → monthly rollup. The CSV write runs every call — the
    * sink's overwrite semantics are part of what is under test. */
  def csvSinkRoundtrip(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, d)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(msum($"o_totalprice").as("revenue"))
    val dir = Landing.fixtureDir(d, "gold_daily_revenue_csv")
    Sinks.csvSink(daily, dir)
    val schema = StructType(Seq(
      StructField("day", DateType), StructField("revenue", DoubleType)))
    Sinks.readCsv(spark, dir, schema)
      .groupBy(date_trunc("month", $"day").cast("date").as("month"))
      .agg(count(lit(1)).as("n_days"), msum($"revenue").as("monthly_revenue"))
      .orderBy($"month")
  }

  /** S6: status-partitioned parquet write → pruned read of one partition
    * → aggregate. The read-back plan scans only `o_orderstatus=F`. */
  def partitionedWriteRoundtrip(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = Landing.ensureBuilt(Landing.fixtureDir(d, "orders_by_status")) { out =>
      Sinks.partitionedParquet(Tables.orders(spark, d), out, Seq("o_orderstatus"))
    }
    spark.read.option("basePath", dir).parquet(dir)
      .filter($"o_orderstatus" === "F")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), msum($"o_totalprice").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** S6/T3: bucketed co-located join — both sides pre-bucketed on the
    * join key (4 buckets, sorted), so the join plan has NO Exchange on
    * either side: the shuffle was paid once at write time and every
    * subsequent join/agg on the key rides it. The no-shuffle property is
    * asserted in PipelineSpec; here the result is oracle-checked. */
  private[graft] def bucketedTableNames(d: String): (String, String) = {
    val key = d.replaceAll("[^A-Za-z0-9]", "_")
    (s"graft_orders_b_$key", s"graft_cust_b_$key")
  }

  def bucketedJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val (ordersT, custT) = bucketedTableNames(d)
    if (!spark.catalog.tableExists(ordersT)) {
      // the in-memory catalog resets per JVM but spark-warehouse/ persists:
      // clear any stale location from a previous run before re-creating
      Seq(ordersT, custT).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = java.nio.file.Paths.get(
          spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
        if (java.nio.file.Files.exists(loc)) {
          graft.util.Fs.walkClosed(loc).reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
      Sinks.bucketedTable(Tables.orders(spark, d)
        .select($"o_custkey", $"o_totalprice"), 4, "o_custkey", ordersT)
      Sinks.bucketedTable(Tables.customer(spark, d)
        .select($"c_custkey", $"c_mktsegment"), 4, "c_custkey", custT)
    }
    spark.table(ordersT)
      .join(spark.table(custT), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), msum($"o_totalprice").as("revenue"))
      .orderBy($"c_mktsegment")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q45_jsonl_roundtrip"     -> jsonlRoundtrip,
    "q46_multiline_dim"       -> multilineDimRoundtrip,
    "q47_lineage_load"        -> lineageLoad,
    "q48_csv_sink_roundtrip"  -> csvSinkRoundtrip,
    "q49_partitioned_write"   -> partitionedWriteRoundtrip,
    "q64_bucketed_join"       -> bucketedJoin,
  )

  val oracles = Map(
    "q45_jsonl_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |  COUNT(ts) AS n_ts_parsed
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q46_multiline_dim" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_balance,
        |  COUNT(DISTINCT c_nationkey) AS n_nations
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q47_lineage_load" ->
      """SELECT event_type, COUNT(*) AS n_rows, COUNT(*) AS n_good,
        |  CAST(0 AS BIGINT) AS n_corrupt, true AS has_lineage
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT 'corrupt', 1, 0, 1, true
        |ORDER BY event_type""".stripMargin,
    "q48_csv_sink_roundtrip" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY day)
        |SELECT CAST(date_trunc('month', day) AS DATE) AS month,
        |  COUNT(*) AS n_days,
        |  CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE) AS monthly_revenue
        |FROM daily
        |GROUP BY month
        |ORDER BY month""".stripMargin,
    "q49_partitioned_write" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q64_bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
  )
}

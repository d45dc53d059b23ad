package graft.silver

import graft.QueryModule
import graft.ingest.{Landing, Tables}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's actual flatten ETL, end to end (SURVEY.md §2.2 P1–P3,
  * §3.2; etl_job.py:19-129): landing-zone JSONL → explicit nested schema
  * → explode the line-items array → wide struct-flatten projection, plus
  * the sparse user-event projection and the per-entity graceful-skip
  * gates.
  *
  * The nested fixture is built deterministically FROM the driver tables
  * (orders ⋈ lineitem ⋈ customer collapsed into transaction docs with a
  * `line_items` array and an address struct), so the oracle for the
  * flatten is simply the flat join — flatten(nest(x)) = x, proved
  * hash-exactly through a real JSONL round trip.
  */
object ReferenceEtl extends QueryModule {

  private val itemSchema = StructType(Seq(
    StructField("line_no", IntegerType),
    StructField("product_id", StringType),
    StructField("quantity", DoubleType),
    StructField("unit_price", DoubleType)))

  private val addressSchema = StructType(Seq(
    StructField("street", StringType),
    StructField("city", StringType),
    StructField("state", StringType)))

  private val txSchema = StructType(Seq(
    StructField("transaction_id", StringType),
    StructField("user_id", StringType),
    StructField("status", StringType),
    StructField("total", DoubleType),
    StructField("line_items", ArrayType(itemSchema)),
    StructField("billing_address", addressSchema)))

  private val sparseEventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("search_query", StringType),
    StructField("element_id", StringType),
    StructField("quantity", IntegerType)))

  /** Build + write the nested-transaction JSONL fixture (idempotent). */
  private def ensureTransactionsFixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    val items = Tables.lineitem(spark, d)
      .select($"l_orderkey", struct(
        $"l_linenumber".as("line_no"),
        $"l_partkey".cast("string").as("product_id"),
        $"l_quantity".as("quantity"),
        $"l_extendedprice".as("unit_price")).as("item"))
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_list($"item")).as("line_items"))
    val tx = Tables.orders(spark, d)
      .join(items, $"o_orderkey" === $"l_orderkey")
      .join(Tables.customer(spark, d), $"o_custkey" === $"c_custkey")
      .select(
        $"o_orderkey".cast("string").as("transaction_id"),
        $"o_custkey".cast("string").as("user_id"),
        $"o_orderstatus".as("status"),
        $"o_totalprice".as("total"),
        $"line_items",
        struct($"c_name".as("street"),
          $"c_nationkey".cast("string").as("city"),
          $"c_mktsegment".as("state")).as("billing_address"))
    Landing.ensureJsonlFixture(tx, d, "transactions_landing")
  }

  /** Build + write the sparse user-event JSONL fixture: subtype-dependent
    * trailing fields are null for other subtypes, and Spark's JSON writer
    * omits null fields — real sparse records on the wire
    * (user_events_producer.py:91-98 semantics). */
  private def ensureUserEventsFixture(spark: SparkSession, d: String): String = {
    import spark.implicits._
    val sparse = Tables.events(spark, d).select(
      $"event_id", $"user_id", $"event_type",
      when($"event_type" === "view", concat(lit("q_"), $"user_id")).as("search_query"),
      when($"event_type" === "click", concat(lit("el_"), $"event_id")).as("element_id"),
      when($"event_type" === "purchase", floor($"value").cast("int")).as("quantity"))
    Landing.ensureJsonlFixture(sparse, d, "user_events_landing")
  }

  /** P3: per-entity graceful skip — the reference gates each branch on
    * input presence and expected columns (etl_job.py:26,78-81,93,126-129).
    * Returns None (skip) instead of failing the whole pipeline.
    *
    * The column check consults the WIRE data, not the imposed schema:
    * the reference's `"transaction_type" in df.columns` works because
    * its frame is schema-INFERRED from the files, while this engine
    * imposes explicit schemas — under which every declared column
    * always "exists" and the gate would be vacuous (review r5; the
    * files would pass with an all-null column the reference would have
    * skipped). One codegen'd pass over the raw lines asks whether ANY
    * record carries the key — the same answer inference would give,
    * without paying type inference. */
  def processEntity(spark: SparkSession, landingDir: String, entity: String,
                    schema: StructType, requiredCol: String): Option[DataFrame] =
    try {
      val glob = Landing.entityGlob(landingDir, entity)
      val anyHas = spark.read.text(glob)
        .select(map_contains_key(
          from_json(col("value"), MapType(StringType, StringType)),
          requiredCol).as("has"))
        .agg(coalesce(max(col("has")), lit(false)).as("any"))
        .head().getBoolean(0)
      if (!anyHas) None
      else Some(Landing.readJsonl(spark, glob, schema))
    } catch {
      case _: AnalysisException => None // no files matched the glob
    }

  /** P1/G1: the 23-column-shaped flatten — explode line_items, project
    * nested item and address fields flat (etl_job.py:29-64). */
  def flattenTransactions(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureTransactionsFixture(spark, d)
    Landing.readJsonl(spark, dir, txSchema)
      .withColumn("item", explode($"line_items"))
      .select(
        $"transaction_id", $"user_id", $"status", $"total",
        $"item.line_no".as("line_no"),
        $"item.product_id".as("item_product_id"),
        $"item.quantity".as("item_quantity"),
        $"item.unit_price".as("item_unit_price"),
        $"billing_address.street".as("billing_street"),
        $"billing_address.city".as("billing_city"),
        $"billing_address.state".as("billing_state"))
      .orderBy($"transaction_id", $"line_no", $"item_product_id",
        $"item_quantity", $"item_unit_price")
  }

  /** P2: wide projection over the sparse user-event schema — absent
    * subtype fields surface as nulls, aggregated per subtype. */
  def sparseUserEvents(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureUserEventsFixture(spark, d)
    Landing.readJsonl(spark, dir, sparseEventSchema)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
           count($"search_query").as("n_search_query"),
           count($"element_id").as("n_element_id"),
           count($"quantity").as("n_quantity"),
           coalesce(sum($"quantity"), lit(0L)).as("sum_quantity"))
      .orderBy($"event_type")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q50_flatten_transactions" -> flattenTransactions,
    "q51_sparse_user_events"   -> sparseUserEvents,
  )

  val oracles = Map(
    "q50_flatten_transactions" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS transaction_id,
        |  CAST(o_custkey AS VARCHAR) AS user_id,
        |  o_orderstatus AS status, o_totalprice AS total,
        |  l_linenumber AS line_no,
        |  CAST(l_partkey AS VARCHAR) AS item_product_id,
        |  l_quantity AS item_quantity,
        |  l_extendedprice AS item_unit_price,
        |  c_name AS billing_street,
        |  CAST(c_nationkey AS VARCHAR) AS billing_city,
        |  c_mktsegment AS billing_state
        |FROM orders
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY transaction_id, line_no, item_product_id, item_quantity, item_unit_price""".stripMargin,
    "q51_sparse_user_events" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_search_query,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_element_id,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_quantity,
        |  CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN CAST(FLOOR(value) AS INTEGER) END), 0) AS BIGINT) AS sum_quantity
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
  )
}

package graft.ingest

import graft.QueryModule
import graft.util.Det.msum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ORC as a second columnar interchange format (SURVEY §2.1 breadth
  * beyond the reference's JSON/CSV/parquet): some warehouse estates are
  * ORC-native (Hive lineage), and an engine claiming the reference's
  * sink surface should land both columnar formats through the same
  * writer contract — partitioned layout, overwrite semantics, schema
  * fidelity on read-back.
  *
  * q103 is a round-trip proof in the q97 mold: land the documents table
  * as lang-partitioned ORC, read it back, aggregate. DuckDB cannot read
  * ORC, so the oracle computes the identical aggregate over the source
  * parquet — any row, column, or value the ORC round-trip loses or
  * mangles (including the lang partition column, which ORC stores in
  * the directory layout, not the file) breaks the hash.
  *
  * Two plain-parquet layout queries live here too: q125 (sort within
  * files before writing) and q157 (scan-coalesce bin planning). File
  * skipping, compaction and z-order belong to the graft-jsonl-stats
  * connector (q97, q122, q130 in [[graft.sources.JsonlLayoutQueries]]).
  */
object ColumnarFormats extends QueryModule {

  /** q103: parquet → lang-partitioned ORC → read-back aggregate. */
  def orcRoundtrip(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = Landing.ensureBuilt(Landing.fixtureDir(d, "documents_orc")) { out =>
      Tables.documents(spark, d)
        .repartition(col("lang")) // one writer task per partition value
        .write.partitionBy("lang").orc(out)
    }
    spark.read.orc(dir)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"))
      .orderBy($"lang", $"source")
  }

  /** q127: SCHEMA EVOLUTION across file generations — the drift every
    * long-lived table accumulates: files written before a column
    * existed sit next to files written after. The fixture lands two
    * generations (gen=1: pre-1998 orders WITHOUT o_orderpriority;
    * gen=2: 1998+ orders with it); `mergeSchema` unions the file
    * schemas at read time and back-fills the missing column with
    * nulls, so ONE reader serves the whole history — no rewrite of
    * petabytes of old files to add a column. The oracle reconstructs
    * the same view from the raw table (priority known only where the
    * writing generation carried it), pinning the null semantics, not
    * just the row count. */
  def schemaEvolution(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val cutoff = "1998-01-01"
    val dir = Landing.ensureBuilt(Landing.fixtureDir(d, "orders_evolving")) { dd =>
      val o = Tables.orders(spark, d)
      o.filter($"o_orderdate" < cutoff)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
        .write.parquet(dd + "/gen=1")
      o.filter($"o_orderdate" >= cutoff)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate",
          $"o_orderpriority")
        .write.parquet(dd + "/gen=2")
    }
    spark.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(coalesce($"o_orderpriority", lit("(pre-schema)")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        graft.util.Det.msum($"o_totalprice").as("revenue"))
      .orderBy($"priority")
  }

  /** q125: SORT WITHIN partitions before writing — the encoding-level
    * companion to file-level skipping. Where q122 skips whole files, this
    * shrinks and self-indexes the bytes INSIDE each file: clustering
    * equal/adjacent values gives parquet long dictionary/RLE runs
    * (smaller files ⇒ less I/O for every scan) and makes per-page
    * min/max statistics selective (sorted columns ⇒ non-overlapping
    * page ranges ⇒ predicate pushdown skips pages instead of
    * decompressing them). On THIS corpus the measured shrink is modest
    * (events 1.0-3.9%, lineitem 1.7-2.0% across sf0.001-0.01) because
    * the driver generator draws values/payloads i.i.d. — near the
    * incompressibility floor; production tables, whose hot columns are
    * skewed and correlated, routinely see integer-factor wins from the
    * same mechanism. The size delta vs the identical-content unsorted
    * twin is asserted in ZOrderSpec; the oracle pins content purity via
    * the aggregate. */
  def sortedLayout(spark: SparkSession, d: String): DataFrame =
    ensureEventsLayout(spark, d, sorted = true)

  def eventsLayoutDir(d: String, sorted: Boolean): String =
    Landing.fixtureDir(d, if (sorted) "events_layout_sorted" else "events_layout_unsorted")

  def ensureEventsLayout(spark: SparkSession, d: String,
                                         sorted: Boolean): DataFrame = {
    import spark.implicits._
    val dir = Landing.ensureBuilt(eventsLayoutDir(d, sorted)) { dd =>
      val base = Tables.events(spark, d).repartition(4)
      val laid = if (sorted)
        base.sortWithinPartitions($"event_type", $"user_id", $"ts")
      else base
      laid.write.mode("overwrite").parquet(dd)
    }
    spark.read.parquet(dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        msum($"value").as("total_value"),
        min($"event_id").as("first_event"),
        max($"event_id").as("last_event"))
      .orderBy($"event_type")
  }

  /** Bin capacity for [[scanCoalescePlan]] — fixture-sized stand-in for
    * `spark.sql.files.maxPartitionBytes` (128 MB in production). */
  private val coalesceTargetBytes = 16384L

  /** q157: scan-coalesce PLANNING — the other half of the small-file
    * story. q97 rewrites files; this operator decides how a reader
    * should GROUP them without rewriting: order the file inventory
    * largest-first (next-fit-decreasing keeps big items from
    * straddling), take the running byte offset, and cut a bin every
    * [[coalesceTargetBytes]] — exactly the cumulative-size binning
    * Spark's own FilePartition packing applies under
    * `files.maxPartitionBytes`, surfaced as a queryable plan so an
    * operator can audit task sizing before a 100-TB scan.
    *
    * The inventory here is the per-(source, lang) corpus byte census —
    * dictionary-sized (sources × langs), which is why the single
    * ordered window is safe: it sorts the DICTIONARY, never the
    * corpus. A real file manifest is the same shape (one row per
    * file, bounded by file count, with the census one groupBy away). */
  def scanCoalescePlan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val inv = Tables.documents(spark, d)
      .groupBy($"source", $"lang").agg(sum($"n_chars").as("bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"bytes".desc, $"source", $"lang")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    inv.withColumn("off", coalesce(sum($"bytes").over(w), lit(0L)))
      .withColumn("bin", expr(s"off div $coalesceTargetBytes"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_groups"), sum($"bytes").as("bin_bytes"),
        max($"bytes").as("max_group_bytes"))
      .orderBy($"bin")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q103_orc_roundtrip" -> orcRoundtrip,
    "q125_sorted_layout" -> sortedLayout,
    "q127_schema_evolution" -> schemaEvolution,
    "q157_scan_coalesce_plan" -> scanCoalescePlan,
  )

  val oracles = Map(
    "q127_schema_evolution" ->
      """SELECT CASE WHEN CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1998-01-01'
        |            THEN o_orderpriority ELSE '(pre-schema)' END AS priority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY priority
        |ORDER BY priority""".stripMargin,
    "q103_orc_roundtrip" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "q125_sorted_layout" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |  MIN(event_id) AS first_event, MAX(event_id) AS last_event
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q157_scan_coalesce_plan" ->
      s"""WITH inv AS (
         |  SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS bytes
         |  FROM documents GROUP BY 1, 2),
         |offs AS (
         |  SELECT *, COALESCE(SUM(bytes) OVER (
         |    ORDER BY bytes DESC, source, lang
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |  FROM inv)
         |SELECT CAST(off // $coalesceTargetBytes AS BIGINT) AS bin,
         |  COUNT(*) AS n_groups,
         |  CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
         |  CAST(MAX(bytes) AS BIGINT) AS max_group_bytes
         |FROM offs
         |GROUP BY bin
         |ORDER BY bin""".stripMargin,
  )
}

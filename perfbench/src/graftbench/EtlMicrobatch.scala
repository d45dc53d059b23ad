package graftbench

import graft.gold.Incremental
import graft.ingest.Landing
import graft.jobs.EtlJob
import graft.schemas.Schemas
import graft.silver.MergeUpsert
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** StreamFlow's bounded micro-batch pipeline, one landing batch per op:
  *   - `EtlJob.run` writes the batch to gold CSV (the reference leg);
  *   - `MergeUpsert.merge` applies its user events to silver, keyed by
  *     `event_id`, latest `timestamp` wins, partitioned by event date;
  *   - `Incremental.refreshAdditive` applies its line items at gold grain
  *     (`event_type` = item category, `value` = quantity × unit price).
  * Batch 0 is the initial load done by each set-up; every later batch is
  * the warm-up (on the first state) and the fixed timed set. */
final class EtlMicrobatch(spark: SparkSession, rec: Recorder, input: String, work: String)
    extends Workload {

  private val batches = Files.list(Paths.get(input, "landing")).iterator.asScala
    .map(_.toString).toSeq.sorted
  private var dir = ""
  private var next = 1

  private def applyBatch(b: Int, attrs: scala.collection.mutable.Map[String, Any]): Unit = {
    val landing = batches(b)
    def timed[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally attrs(key) = (System.nanoTime() - t0) / 1e9
    }
    val counts = timed("etl_s")(rec.span("EtlJob.run", "jobs") {
      EtlJob.run(spark, landing, s"$dir/gold_csv/batch_$b")
    })
    val delta = EtlJob.projectUserEvents(
      Landing.readJsonl(spark, Landing.entityGlob(landing, "user"), Schemas.userEvents))
      .withColumn("event_date", to_date(col("timestamp")))
    timed("merge_s")(rec.span("MergeUpsert.merge", "silver") {
      MergeUpsert.merge(s"$dir/silver", delta, Seq("event_id"), "timestamp", "event_date")
    })
    val items = EtlJob.flattenTransactions(
      Landing.readJsonl(spark, Landing.entityGlob(landing, "transaction"), Schemas.transactionEvents))
      .select(to_timestamp(col("timestamp")).as("ts"), col("item_category").as("event_type"),
        (col("item_quantity") * col("item_unit_price")).as("value"))
    timed("refresh_s")(rec.span("Incremental.refreshAdditive", "gold") {
      Incremental.refreshAdditive(s"$dir/gold", Incremental.toGoldGrain(items), f"b$b%03d")
    })
    attrs("batch") = b
    attrs("user_events") = counts("user_events")
    attrs("line_items") = counts("transaction")
    attrs("input_bytes") = Files.list(Paths.get(landing)).iterator.asScala.map(Files.size).sum
  }

  override def setup(k: Int): Unit = {
    use(k)
    applyBatch(0, scala.collection.mutable.Map.empty)
  }

  private val nextOf = scala.collection.mutable.Map.empty[String, Int]
  override def use(k: Int): Unit = {
    if (dir.nonEmpty) nextOf(dir) = next
    dir = s"$work/etl_$k"
    next = nextOf.getOrElse(dir, 1)
  }

  private def applyNext(): Unit = {
    val b = next
    next += 1
    rec.op(f"batch-$b%03d", "batch")(applyBatch(b, _))
    rec.settle()
  }

  /** Batch 1 untimed: the first merge into an existing table compiles the
    * code paths of every later batch. */
  override def warmup(): Unit = applyNext()

  override def step(): Boolean = next < batches.size && { applyNext(); true }

  /** Silver keys and gold sums, read back untimed; run.py compares them
    * with the generator's sidecar for the last batch applied. */
  override def check(): Unit = {
    val s = spark.read.parquet(s"$dir/silver")
      .agg(count(lit(1)), sum(crc32(concat_ws("|", col("event_id"), col("timestamp")).cast("binary"))))
      .head()
    val applied = Incremental.appliedBatches(s"$dir/gold").toSet
    val gold = spark.read.parquet(s"$dir/gold")
      .filter(col("batch_id").isin(applied.toSeq: _*))
      .groupBy(col("event_date"), col("event_type"))
      .agg(sum(col("n_events")), sum(col("total_dec")))
      .collect()
      .map(r => s"${r.get(0)}|${r.getString(1)}" -> Seq(r.getLong(2), r.getDecimal(3).toPlainString))
      .toMap
    rec.facts("last_batch") = next - 1
    rec.facts("silver_keys") = s.getLong(0)
    rec.facts("silver_crc") = s.getLong(1)
    rec.facts("gold") = gold
  }
}

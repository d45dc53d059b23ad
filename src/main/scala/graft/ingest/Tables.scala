package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated Parquet test tables (TESTDATA.md).
  *
  * All reads are plain `spark.read.parquet` — the schema travels with the
  * file, Catalyst prunes columns and pushes predicates into the scan, and
  * at cluster scale the same call distributes over however many files the
  * table is split into. No schema inference pass is ever paid (contrast
  * with the reference's `spark.read.json`, etl_job.py:24).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Parallelism-matched LAYOUT for the compute-heavy tables. The
    * driver's parquet files are single-file, SINGLE-ROW-GROUP — and a
    * row group is the unit of scan parallelism, so every scan (and the
    * partial aggregate fused above it) runs as ONE task no matter how
    * many cores the session has; `files.maxPartitionBytes` cannot help
    * because byte-ranges of one row group collapse onto one reader. At
    * cluster scale tables arrive as many files and this never happens;
    * locally the engine re-lays the table out ONCE per (sf, table,
    * parallelism) into a multi-file fixture and every subsequent scan
    * reads the splits in parallel — the same layout-management job
    * (file count ≈ available parallelism) a production table service
    * performs, in the opposite direction of q97's small-file
    * compaction. Pure layout: same rows, same schema; every registered
    * query imposes its own total order, so results are unaffected.
    *
    * Applied where scan-task compute dominates: lineitem (the 600k-row
    * fact every decimal-moment aggregate scans), orders (the exact
    * per-group percentile collections), documents (5k rows, but each
    * explodes into ~50 shingles × 18 hashes in the dedup tier) and
    * embeddings (64-dim dot products per row). NOT events: the
    * streaming/merge legs write many derived fixtures from it, and
    * fanning those writes out 32× was measured to cost more than the
    * scan win (full-suite total 77-78 s with this set vs 88.3 s with
    * events split too, vs 76.2 s with no splits but a 2.0-2.5 s heavy
    * tail — q118 2.01→0.69, q93 1.79→1.20, q42 2.50→1.60, q33
    * 1.52→0.44, q79 1.51→0.84 at sf0.1). */
  /** Split-count law (re-tuned r6 after the q85/q32 drift bisected to
    * the r5 full-fan-out layout): ~10-40 ms of per-task overhead
    * (scheduling, file open, AQE bookkeeping) means full 32-way fan-out
    * LOSES on sub-MB tables — the measured sf0.1 sweep put the optimum
    * at 8 splits (q85 1.04→0.49 s, q32 1.46→0.79 s vs 32 splits, while
    * the original win queries got no worse: q118 0.46 s, q33 0.47 s).
    * So: floor of 8 (the measured small-table optimum — enough fan-out
    * for compute-dense rows like embeddings' 64-dim dots), growing one
    * split per 4 MB toward full parallelism for genuinely large tables
    * (the regime where scan bytes, not task overhead, dominate). */
  private def splitCount(spark: SparkSession, d: String, name: String): Int = {
    val cores = spark.sparkContext.defaultParallelism
    val bytes = graft.util.Fs.walkClosed(
        java.nio.file.Paths.get(s"$d/$name.parquet"))
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    val byBytes = (bytes / (4L << 20)).toInt + 1
    math.min(cores, math.max(math.min(8, cores), byBytes))
  }

  private def splitTable(spark: SparkSession, d: String, name: String): DataFrame = {
    val n = splitCount(spark, d, name)
    if (n <= 1) return table(spark, d, name)
    val dir = Landing.ensureBuilt(Landing.fixtureDir(d, s"split_${name}_$n")) { dd =>
      table(spark, d, name).repartition(n).write.mode("overwrite").parquet(dd)
    }
    spark.read.parquet(dir)
  }

  def region(spark: SparkSession, d: String): DataFrame   = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame   = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame     = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame   = splitTable(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = splitTable(spark, d, "lineitem")
  /** `events.ts` normalization, branched on the type the parquet footer
    * actually delivers (the driver regenerated the tables between rounds
    * and the physical type CHANGED — r7):
    *   - TIMESTAMP(NANOS) (rounds ≤6): Spark's µs timestamp refuses it;
    *     sessions set `spark.sql.legacy.parquet.nanosAsLong=true` so the
    *     column arrives as raw nanos (long) and we floor-divide to µs
    *     (`div` stays in exact long arithmetic — a double division would
    *     lose precision at 1.7e18).
    *   - timestamp[us] isAdjustedToUTC=false (r7 data): arrives as
    *     TIMESTAMP_NTZ under Spark 4's NTZ inference; cast to
    *     TimestampType is wall-clock ≡ instant because every session
    *     pins spark.sql.session.timeZone=UTC.
    * Both land on the same TimestampType µs column, so downstream
    * queries and the DuckDB oracles' `CAST(ts AS TIMESTAMP)` (identity
    * on µs, ns→µs floor on nanos) are unchanged. */
  def events(spark: SparkSession, d: String): DataFrame = {
    val raw = table(spark, d, "events")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast(org.apache.spark.sql.types.TimestampType)
    }
    raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
  def documents(spark: SparkSession, d: String): DataFrame  = splitTable(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = splitTable(spark, d, "embeddings")
}

package graft.ingest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Landing-zone ingest layer (SURVEY.md §2.1 S1/S2/S7).
  *
  * The reference's entire entry point is `spark.read.json` over a
  * landing-zone glob with per-entity filename routing (etl_job.py:19,24
  * and :86,91) plus multiLine JSON-array dimension files
  * (Assets/data/customers.json, Stream_Analytics_Phase_2.md:79-87), and
  * the warehouse DAG adds filename/timestamp lineage + bad-row tolerance
  * (dag_streamflow_warehouse.py:72-80,97-111). This module re-expresses
  * all three Spark-first:
  *
  *   - explicit StructType (no inference scan — one read of the data,
  *     deterministic schema, sparse columns nullable),
  *   - glob routing is native to the DataFrameReader path,
  *   - lineage = `input_file_name()` + `current_timestamp()`,
  *   - tolerance = PERMISSIVE mode + `columnNameOfCorruptRecord`.
  *
  * At scale the JSONL reader parallelizes over files/splits like any
  * FileScan; nothing here touches the driver.
  */
object Landing {

  /** S1: JSONL scan by glob with explicit schema. `{dir}/{entity}*.json`
    * is exactly the reference's routing rewrite (etl_job.py:19,86). */
  def readJsonl(spark: SparkSession, glob: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(glob)

  /** Route a landing dir to one entity's files, reference-style. */
  def entityGlob(landingDir: String, entity: String): String =
    s"$landingDir/$entity*.json"

  /** S2: multiLine JSON-array dimension file (customers.json shape). */
  def readMultiLineDim(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("multiLine", value = true).schema(schema).json(path)

  /** S7: lineage + tolerance load — PERMISSIVE parse with a corrupt-record
    * column, source-file and load-timestamp lineage columns (the
    * COPY INTO ... METADATA$FILENAME + CURRENT_TIMESTAMP() shape,
    * dag_streamflow_warehouse.py:72-80). `load_ts` is wall-clock and must
    * be excluded from deterministic comparisons. */
  def readWithLineage(spark: SparkSession, glob: String, schema: StructType,
                      basePath: Option[String] = None): DataFrame = {
    val withCorrupt = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val reader = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
    basePath.fold(reader)(bp => reader.option("basePath", bp))
      .json(glob)
      .withColumn("source_file", input_file_name())
      .withColumn("load_ts", current_timestamp())
  }

  // ---------------------------------------------------------------- fixtures

  private val dirTokens = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Content fingerprint of a source-data dir: md5 over the sorted
    * (filename, size) list of its parquet files. Derived fixtures embed
    * it in their path, so if the driver ever regenerates test data the
    * stale fixtures are invalidated automatically instead of silently
    * feeding old rows to the oracle compare. Sizes (not mtimes) keep the
    * token stable across byte-identical regenerations. */
  private def sourceToken(sfDir: String): String =
    dirTokens.computeIfAbsent(sfDir, d => {
      try {
        val p = Paths.get(d)
        val listing = graft.util.Fs.listClosed(p)
          .filter(f => f.getFileName.toString.endsWith(".parquet"))
          .map(f => s"${f.getFileName}:${Files.size(f)}")
          .sorted.mkString(",")
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(listing.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
      } catch { case _: Throwable => "na" }
    })

  /** Root for driver-table-derived landing fixtures, keyed by SF dir +
    * source-content token so concurrent SFs never clobber each other and
    * regenerated source data never hits a stale fixture. Inside the repo
    * tree. */
  def fixtureDir(sfDir: String, name: String): String = {
    val key = sfDir.replaceAll("[^A-Za-z0-9.]", "_") + "_" + sourceToken(sfDir)
    Paths.get(sys.props("user.dir"), "target", "fixtures", key, name).toString
  }

  /** Write a DataFrame as JSONL (the landing-zone wire format), built
    * once per (sf, name) so repeated Verify/Bench runs reuse one
    * deterministic fixture. */
  def ensureJsonlFixture(df: DataFrame, sfDir: String, name: String,
                         partitionCols: Seq[String] = Nil): String =
    ensureBuilt(fixtureDir(sfDir, name)) { dir =>
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).json(dir)
    }

  /** Checkpoint an intermediate DataFrame to a parquet fixture (written
    * once per (sf, name), then read back). This is the scale-correct
    * alternative to `persist()` for tables reused across query legs AND
    * across Verify/Bench invocations: no CacheManager entry leaks for
    * the JVM lifetime, re-runs hit the materialized parquet, and at
    * 100 TB the same pattern is a cluster-storage checkpoint. */
  def ensureParquetFixture(df: DataFrame, sfDir: String, name: String): DataFrame = {
    val dir = fixtureDir(sfDir, name)
    ensureBuilt(dir)(d => df.write.mode(SaveMode.Overwrite).parquet(d))
    df.sparkSession.read.parquet(dir)
  }

  /** The ONE build-once convention every fixture/layout builder shares
    * (review r5 — three hand-rolled marker schemes meant cleanup
    * tooling keyed on `_FIXTURE_OK` could not see sibling `__ok`
    * markers, and a wiped dir beside a stale sibling marker would
    * silently serve a missing table): marker INSIDE the directory, so
    * wiping the directory always forces a rebuild. The marker holds the
    * directory's absolute path: built fixtures record absolute paths
    * (stream source logs, catalog roots), so a directory copied or
    * moved elsewhere reads as unbuilt there and rebuilds once. Spark
    * readers ignore underscore-prefixed files. A PlanShapeSpec source
    * scan keeps the marker literal out of every other file. */
  def ensureBuilt(dir: String)(build: String => Unit): String = {
    val marker = Paths.get(dir, "_FIXTURE_OK")
    val stamp = Paths.get(dir).toAbsolutePath.normalize.toString.getBytes("UTF-8")
    if (!Files.exists(marker) || !java.util.Arrays.equals(Files.readAllBytes(marker), stamp)) {
      graft.util.Fs.deleteRecursively(dir)
      build(dir)
      Files.write(marker, stamp, StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
    dir
  }

  /** A stream's persistent state directory, its sink and checkpoint
    * inside, kept under the build-once marker. A checkout copied to
    * another path rebuilds the fixtures a stream reads, so it must also
    * start the stream over: the old checkpoint and sink log name the
    * old absolute paths. */
  def streamState(sfDir: String, name: String): String =
    ensureBuilt(fixtureDir(sfDir, name))(d => Files.createDirectories(Paths.get(d)))

  /** Write a bounded dimension as ONE multiLine JSON array file — the
    * static `customers.json` fixture shape. Dim tables are bounded by
    * contract (reference dims: 1k/2k rows), so streaming them through the
    * driver via toLocalIterator is not a scale hazard; event streams
    * never go through this path. */
  def ensureJsonArrayFixture(df: DataFrame, sfDir: String, name: String): String = {
    val dir = fixtureDir(sfDir, name)
    val file = Paths.get(dir, s"$name.json")
    if (!Files.exists(file)) {
      Files.createDirectories(Paths.get(dir))
      val it = df.toJSON.toLocalIterator()
      val sb = new StringBuilder("[\n")
      var first = true
      while (it.hasNext) {
        if (!first) sb.append(",\n")
        sb.append(it.next()); first = false
      }
      sb.append("\n]")
      Files.write(file, sb.toString.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
    file.toString
  }

  /** Drop a deliberately corrupt JSONL file into a landing subdir (for
    * exercising the PERMISSIVE/corrupt-record path). */
  def ensureCorruptFile(dir: String, subdir: String): Unit = {
    val d = Paths.get(dir, subdir)
    Files.createDirectories(d)
    val f = d.resolve("bad_batch.json")
    if (!Files.exists(f))
      Files.write(f, "{\"event_id\": \"broken\", unquoted garbage}\n".getBytes("UTF-8"),
        StandardOpenOption.CREATE)
  }
}

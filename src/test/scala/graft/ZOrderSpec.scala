package graft

import graft.ingest.{ColumnarFormats, Tables}
import graft.sources.{JsonlFixtures, JsonlLayoutQueries, JsonlStats, JsonlStatsScanBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, to_date}
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import java.nio.file.Files
import java.time.LocalDate

/** The two claims q122's z-ordered orders table makes, executed:
  *
  *   1. purity — `CALL zorder` changes WHERE rows live, never WHICH
  *      rows exist;
  *   2. skipping — a 2-d box plans a smaller FRACTION of the z-ordered
  *      table's files than of a table range-clustered on o_custkey
  *      alone (the product-of-selectivities vs one-selectivity claim),
  *      counted from the connector's own planning, not inferred.
  */
class ZOrderSpec extends SparkSpec {

  private val boxCols = Seq("o_custkey", "o_orderdate", "o_orderpriority", "o_totalprice")

  private def zTable: String = JsonlFixtures.ensureOrdersZordered(spark, sfDir)

  private def src: DataFrame = Tables.orders(spark, sfDir).select(boxCols.map(col): _*)

  private def rawBox(klo: Long, khi: Long, dlo: LocalDate, dhi: LocalDate): DataFrame =
    src.filter(col("o_custkey").between(klo, khi) &&
      to_date(col("o_orderdate")).between(java.sql.Date.valueOf(dlo), java.sql.Date.valueOf(dhi)))

  /** Files the connector plans under `filters`: push them, then count
    * the planned input partitions (files this small are one split). */
  private def planned(dir: String, filters: Filter*): Int = {
    val meta = JsonlStats.readTableMeta(dir)
    val sb = new JsonlStatsScanBuilder(dir, meta.schema.get, meta.statsCol.get)
    sb.pushFilters(filters.toArray)
    sb.build().toBatch.planInputPartitions().length
  }

  private def boxFilters(klo: Long, khi: Long, dlo: LocalDate, dhi: LocalDate): Seq[Filter] = Seq(
    GreaterThanOrEqual("o_custkey", klo), LessThanOrEqual("o_custkey", khi),
    GreaterThanOrEqual("o_orderdate", dlo.atStartOfDay()),
    LessThan("o_orderdate", dhi.plusDays(1).atStartOfDay()))

  test("z-order layout is pure: same rows as the source, row for row") {
    val dir = zTable
    val laid = spark.read.format("graft-jsonl-stats").option("path", dir).load()
      .select(boxCols.map(col): _*)
    assert(laid.exceptAll(src).isEmpty, "layout has rows the source lacks")
    assert(src.exceptAll(laid).isEmpty, "layout dropped source rows")
    // the fixture really is the zorder rewrite's output: a second
    // generation of many files
    assert(JsonlStats.historyVersions(dir).nonEmpty && JsonlStats.readStats(dir).size >= 16)
  }

  test("pruned box read returns exactly the box rows") {
    val (klo, khi, dlo, dhi) = JsonlLayoutQueries.ordersBox(spark, sfDir)
    val got = JsonlLayoutQueries.ordersBoxRead(spark, sfDir, klo, khi, dlo, dhi)
      .select(boxCols.map(col): _*)
    val expect = rawBox(klo, khi, dlo, dhi)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "z-pruned read is not the box")
  }

  test("sorted-within-partition layout is pure and smaller on disk than the unsorted twin") {
    import spark.implicits._
    // build both twins (identical content, identical partition count)
    val sortedAgg = ColumnarFormats.ensureEventsLayout(spark, sfDir, sorted = true)
    val unsortedAgg = ColumnarFormats.ensureEventsLayout(spark, sfDir, sorted = false)
    // purity at row level: both layouts hold exactly the events table
    val src = ingest.Tables.events(spark, sfDir)
    val back = spark.read.parquet(ColumnarFormats.eventsLayoutDir(sfDir, sorted = true))
      .select(src.columns.map(col => $"$col"): _*)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // and the aggregates agree (what the oracle hashes)
    assert(sortedAgg.exceptAll(unsortedAgg).isEmpty)
    def bytes(dir: String): Long =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length()).sum
    val sBytes = bytes(ColumnarFormats.eventsLayoutDir(sfDir, sorted = true))
    val uBytes = bytes(ColumnarFormats.eventsLayoutDir(sfDir, sorted = false))
    info(s"sorted=$sBytes bytes, unsorted=$uBytes bytes, ratio=${sBytes.toDouble / uBytes}")
    assert(sBytes < uBytes,
      s"sorting within partitions did not shrink the files: $sBytes vs $uBytes")
  }

  test("pruning is complete for arbitrary boxes: pruned read == raw filter (fuzzed)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{max, min}
    val row = src.agg(min($"o_custkey"), max($"o_custkey"),
      min(to_date($"o_orderdate")), max(to_date($"o_orderdate"))).first()
    val (mnk, mxk) = (row.getLong(0), row.getLong(1))
    val (mnd, mxd) = (row.getDate(2).toLocalDate, row.getDate(3).toLocalDate)
    val span = java.time.temporal.ChronoUnit.DAYS.between(mnd, mxd)
    val rnd = new scala.util.Random(7) // deterministic fuzz
    (1 to 5).foreach { i =>
      val k1 = mnk + math.abs(rnd.nextLong()) % (mxk - mnk + 1)
      val k2 = mnk + math.abs(rnd.nextLong()) % (mxk - mnk + 1)
      val (klo, khi) = (math.min(k1, k2), math.max(k1, k2))
      val d1 = rnd.nextLong(span + 1); val d2 = rnd.nextLong(span + 1)
      val (dlo, dhi) = (mnd.plusDays(math.min(d1, d2)), mnd.plusDays(math.max(d1, d2)))
      val pruned = JsonlLayoutQueries.ordersBoxRead(spark, sfDir, klo, khi, dlo, dhi)
        .select(boxCols.map(col): _*)
      val raw = rawBox(klo, khi, dlo, dhi)
      assert(pruned.exceptAll(raw).isEmpty && raw.exceptAll(pruned).isEmpty,
        s"box $i [$klo..$khi]x[$dlo..$dhi]: pruned read != raw filter")
    }
  }

  test("2-d box reads a smaller file fraction of the z layout than of the linear layout") {
    import spark.implicits._
    val z = zTable
    val (klo, khi, dlo, dhi) = JsonlLayoutQueries.ordersBox(spark, sfDir)
    val box = boxFilters(klo, khi, dlo, dhi)
    val (zTotal, zBox) = (planned(z), planned(z, box: _*))
    // the linear twin: same rows, as many files, range-clustered on
    // o_custkey alone — the date range cannot prune anything there
    val lin = Files.createTempDirectory("orders_linear").toString
    src.repartitionByRange(zTotal, $"o_custkey")
      .write.format("graft-jsonl-stats").option("path", lin)
      .option("statsColumn", "o_custkey").mode("overwrite").save()
    val (linTotal, linBox) = (planned(lin), planned(lin, box: _*))
    assert(zBox > 0 && linBox > 0)
    // fractions: z ≈ product of selectivities, linear ≈ one selectivity
    val zFrac = zBox.toDouble / zTotal
    val linFrac = linBox.toDouble / linTotal
    info(f"z-order plans $zBox/$zTotal = $zFrac%.4f of files; " +
      f"linear plans $linBox/$linTotal = $linFrac%.4f")
    assert(zFrac < linFrac,
      s"z-order planned $zBox/$zTotal = $zFrac of files; linear $linBox/$linTotal = $linFrac")
    graft.util.Fs.deleteRecursively(lin)
  }
}

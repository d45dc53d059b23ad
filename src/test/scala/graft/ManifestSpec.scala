package graft

import graft.ingest.Tables
import graft.sources.{JsonlFixtures, JsonlLayoutQueries, JsonlStats, JsonlStatsScanBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan}
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.jdk.CollectionConverters._

/** Laws of q130's manifest-pruned scan the SQL oracle can't see: the
  * connector manifest must account for every data file and row of the
  * ship-date-clustered lineitem table, the registered range must plan
  * strictly fewer files than the table holds (counted from the
  * connector's own planning), and pruning must be lossless for
  * ARBITRARY ranges, not just the registered one. */
class ManifestSpec extends SparkSpec {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def executed(df: DataFrame): SparkPlan = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution
    qe.executedPlan.execute().count()
    qe.executedPlan
  }

  private def table: String = JsonlFixtures.ensureLineitemByShipdate(spark, sfDir)

  /** Files the connector plans under `filters`: push them, then count
    * the planned input partitions (files this small are one split). */
  private def planned(dir: String, filters: Filter*): Int = {
    val meta = JsonlStats.readTableMeta(dir)
    val sb = new JsonlStatsScanBuilder(dir, meta.schema.get, meta.statsCol.get)
    sb.pushFilters(filters.toArray)
    sb.build().toBatch.planInputPartitions().length
  }

  /** Ship day in [lo, hi] as the connector sees it pushed. */
  private def dayFilters(lo: LocalDate, hi: LocalDate): Seq[Filter] = Seq(
    GreaterThanOrEqual("l_shipdate", lo.atStartOfDay()),
    LessThan("l_shipdate", hi.plusDays(1).atStartOfDay()))

  private def rawDays(lo: LocalDate, hi: LocalDate): DataFrame =
    Tables.lineitem(spark, sfDir).filter(to_date(col("l_shipdate")).between(
      lit(java.sql.Date.valueOf(lo)), lit(java.sql.Date.valueOf(hi))))

  test("manifest accounts for every file and every row of the layout") {
    val dir = table
    val stats = JsonlStats.readStats(dir)
    val listing = Files.list(Paths.get(dir))
    val onDisk = try listing.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".jsonl") && !n.startsWith("_")).toSet
      finally listing.close()
    // one manifest entry per data file, no phantom files
    assert(stats.map(_.file).distinct.size === stats.size, "a file is listed twice")
    assert((onDisk -- stats.map(_.file)).isEmpty, "a data file is missing from the manifest")
    assert((stats.map(_.file).toSet -- onDisk).isEmpty, "manifest lists a file the table lacks")
    // row accounting: manifest counts sum to the source table
    assert(stats.map(_.rows).sum === Tables.lineitem(spark, sfDir).count())
    // stats sanity: every file carries ship-date bounds with min <= max
    val bounds = stats.map(s => JsonlStats.colBounds(s, "l_shipdate", "l_shipdate"))
    assert(bounds.forall(_.exists { case (lo, hi) => lo <= hi }), s"bad bounds: $bounds")
  }

  test("registered scan opens strictly fewer files than the layout and matches the raw filter") {
    val dir = table
    val (lo, hi) = JsonlLayoutQueries.shipdateMidThird(spark, sfDir)
    val total = planned(dir)
    assert(total === JsonlStats.readStats(dir).size)
    val kept = planned(dir, dayFilters(lo, hi): _*)
    assert(kept > 0 && kept < total, s"manifest pruned nothing: planned $kept of $total files")
    // the registered read states its range on the raw column, so the
    // scan it plans is exactly the pushed one
    val pruned = JsonlLayoutQueries.shipdateRead(spark, sfDir, lo, hi)
    val scans = nodes(executed(pruned)).collect { case b: BatchScanExec => b }
    assert(scans.map(_.inputPartitions.size).sum === kept,
      "the registered range did not reach the connector's planning")
    // lossless: pruned read == raw filter on the source table
    assert(pruned.count() === rawDays(lo, hi).count())
  }

  test("DPP: the quarter filter on the dim prunes the fact's partitions at runtime") {
    import spark.implicits._
    val df = graft.ingest.DynamicPruning.dppQuarterScan(spark, sfDir)
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution
    qe.executedPlan.execute().count()
    // the scan must carry a runtime dynamicpruning subquery in its
    // partition filters — not a static month list
    val scans = nodes(qe.executedPlan).collect { case f: FileSourceScanExec => f }
    val factScan = scans.find(_.toString.contains("o_month")).getOrElse(fail("no fact scan"))
    assert(factScan.toString.contains("dynamicpruning"),
      "fact scan has no dynamic pruning subquery in its partition filters")
    // and it must have actually skipped most of the layout: quarter 2 is
    // ~3 of 12 months of files
    // file_path, not file_name: partition dirs can hold same-named files
    val total = spark.read.parquet(
      graft.ingest.Landing.fixtureDir(sfDir, "dpp_orders_bymonth"))
      .select(col("_metadata.file_path")).distinct().count()
    val opened = factScan.metrics("numFiles").value
    assert(opened * 2 < total,
      s"DPP opened $opened of $total files — pruning did not engage")
  }

  test("pruning is lossless for arbitrary ranges (fuzz)") {
    import spark.implicits._
    val dir = table
    val row = Tables.lineitem(spark, sfDir)
      .agg(min(to_date($"l_shipdate")), max(to_date($"l_shipdate"))).first()
    val (mnd, mxd) = (row.getDate(0).toLocalDate, row.getDate(1).toLocalDate)
    val span = java.time.temporal.ChronoUnit.DAYS.between(mnd, mxd)
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val a = rnd.nextLong().abs % (span + 1)
      val b = rnd.nextLong().abs % (span + 1)
      val (lo, hi) = (mnd.plusDays(math.min(a, b)), mnd.plusDays(math.max(a, b)))
      val got = JsonlLayoutQueries.shipdateRead(spark, sfDir, lo, hi)
        .groupBy($"l_returnflag").count()
      val want = rawDays(lo, hi).groupBy($"l_returnflag").count()
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"pruned read diverges from raw filter on [$lo, $hi]")
    }
    // out-of-span range: every file's stats miss it — planned away
    // entirely, and empty, not a crash
    val far = mxd.plusYears(50)
    assert(planned(dir, dayFilters(far, far.plusDays(30)): _*) === 0)
    assert(JsonlLayoutQueries.shipdateRead(spark, sfDir, far, far.plusDays(30)).isEmpty,
      "disjoint range should return zero rows")
  }
}

package graft

import graft.sources._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Laws of the graft-jsonl-stats DSv2 connector (q152). */
class JsonlStatsSpec extends SparkSpec {

  private def fixture: String = JsonlFixtures.ensureFixture(spark, sfDir)

  test("connector is a pure access path: full scan ≡ the parquet events feed") {
    import spark.implicits._
    val viaConnector = JsonlFixtures.scanFrame(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val viaParquet = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    assert(viaConnector.count() === viaParquet.count())
    assert(viaConnector.exceptAll(viaParquet).isEmpty)
    assert(viaParquet.exceptAll(viaConnector).isEmpty)
  }

  test("IN-list predicates prune files: the point-lookup union, numeric and string (r11)") {
    val root = fixture
    val total = JsonlStats.readStats(root).size
    def partitionsFor(filters: org.apache.spark.sql.sources.Filter*): Int = {
      val sb = new JsonlStatsScanBuilder(root, JsonlStats.schema)
      sb.pushFilters(filters.toArray)
      sb.build().toBatch.planInputPartitions().length
    }
    // two scattered point values keep only the files whose bounds admit
    // one of them; a list of impossible values keeps nothing
    val bounds = JsonlStats.readStats(root).map(s => (s.min, s.max))
    val two = partitionsFor(org.apache.spark.sql.sources.In("value", Array(Double.box(bounds.map(_._1).min),
      Double.box(bounds.map(_._2).max))))
    assert(two < total, s"a 2-value IN must prune, kept $two/$total")
    assert(partitionsFor(org.apache.spark.sql.sources.In("value", Array(Double.box(-1e9), Double.box(1e9)))) === 0,
      "an all-out-of-bounds IN prunes every file")
    // a null in the list disables pruning (conservative), never drops
    assert(partitionsFor(org.apache.spark.sql.sources.In("value", Array(Double.box(-1e9), null))) === total)
    // string IN against truncated bounds: event_type-sorted layout
    import spark.implicits._
    val sdir = java.nio.file.Files.createTempDirectory("instr").toString
    graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"event_type", $"value")
      .repartitionByRange(4, $"event_type", $"event_id")
      .sortWithinPartitions($"event_type")
      .write.format("graft-jsonl-stats").option("path", sdir)
      .option("statsColumn", "event_id").mode("overwrite").save()
    val schema2 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val totalS = JsonlStats.readStats(sdir).size
    def strPartitions(filters: org.apache.spark.sql.sources.Filter*): Int = {
      val sb = new JsonlStatsScanBuilder(sdir, schema2, "event_id")
      sb.pushFilters(filters.toArray)
      sb.build().toBatch.planInputPartitions().length
    }
    val first = spark.read.format("graft-jsonl-stats").option("path", sdir).load()
      .agg(min($"event_type")).head().getString(0)
    val keptS = strPartitions(org.apache.spark.sql.sources.In("event_type", Array(first)))
    assert(keptS < totalS, s"a 1-string IN on a sorted layout must prune, kept $keptS/$totalS")
    assert(strPartitions(org.apache.spark.sql.sources.In("event_type", Array("zzzz_nothing"))) === 0)
  }

  test("days(ts) hidden layout: daily pkeys prune time windows through the transform (r11)") {
    import org.apache.spark.sql.types.{TimestampType, StructField => SF}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("daysl").toString
    graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"value")
      .repartitionByRange(4, $"ts").sortWithinPartitions($"ts")
      .write.format("graft-jsonl-stats").option("path", dir)
      .option("statsColumn", "event_id").option("partitionColumn", "days(ts)")
      .mode("overwrite").save()
    val entries = JsonlStats.readStats(dir)
    assert(entries.forall(_.pkey.isDefined), "every file carries its epoch-day pkey")
    val days = entries.flatMap(_.pkey).distinct
    assert(days.size >= 25, s"a month of events must span ~30 day keys, got ${days.size}")
    // unit laws: a timestamp inside day D matches only D's pkey; a
    // date-valued equality matches the same day; mixed lists keep
    val spec = PartitionTransforms.Days("ts")
    val day = days.map(_.toLong).sorted.apply(days.size / 2)
    val inDay = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(day * 86400L + 7200L))
    assert(PartitionTransforms.pkeyMayMatch(spec,
      org.apache.spark.sql.sources.EqualTo("ts", inDay), day.toString))
    assert(!PartitionTransforms.pkeyMayMatch(spec,
      org.apache.spark.sql.sources.EqualTo("ts", inDay), (day + 1).toString))
    assert(PartitionTransforms.pkeyMayMatch(spec,
      org.apache.spark.sql.sources.EqualTo("ts", java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(day).toString)), day.toString))
    // end-to-end: a one-day window plans ~1 file of ~30+ (pkey AND
    // micro-bounds both prove it; either suffices)
    val schema2 = org.apache.spark.sql.types.StructType(Seq(
      SF("event_id", org.apache.spark.sql.types.LongType),
      SF("ts", TimestampType),
      SF("value", org.apache.spark.sql.types.DoubleType)))
    val sb = new JsonlStatsScanBuilder(dir, schema2, "event_id", Some("days(ts)"))
    val lo = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(day * 86400L))
    val hi = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond((day + 1) * 86400L))
    sb.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("ts", lo),
      org.apache.spark.sql.sources.LessThan("ts", hi)))
    val planned = sb.build().toBatch.planInputPartitions().length
    assert(planned <= 2 && planned >= 1,
      s"a one-day window over a days(ts) layout must plan ~1 of ${entries.size} files, got $planned")
  }

  test("months/years hidden layouts: calendar-unit pkeys prune time windows (r12)") {
    import org.apache.spark.sql.types.{TimestampType, StructField => SF}
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    import spark.implicits._
    // unit laws first — the shared TimeSpec contract: keyOfDay and
    // dayRange agree (every day maps into its own key's range), and a
    // timestamp/date inside unit U matches only U's pkey
    val feb24 = java.time.LocalDate.of(2024, 2, 15).toEpochDay
    val mSpec = PartitionTransforms.Months("ts")
    val ySpec = PartitionTransforms.Years("ts")
    val mKey = mSpec.keyOfDay(feb24)
    assert(mKey === (2024 - 1970) * 12 + 1, "months since 1970-01 of 2024-02")
    val (m0, m1) = mSpec.dayRange(mKey)
    assert(m1 - m0 + 1 === 29, "2024-02 is a leap February: 29 days")
    assert(m0 === java.time.LocalDate.of(2024, 2, 1).toEpochDay)
    val yKey = ySpec.keyOfDay(feb24)
    assert(yKey === 54L)
    val (y0, y1) = ySpec.dayRange(yKey)
    assert(y1 - y0 + 1 === 366, "2024 is a leap year")
    // every day maps inside its own key's range (spot a span incl. DST
    // / leap boundaries — the proleptic UTC calendar has no gaps)
    (feb24 - 400 to feb24 + 400 by 37).foreach { d =>
      val (a, b) = mSpec.dayRange(mSpec.keyOfDay(d)); assert(a <= d && d <= b)
      val (c, e) = ySpec.dayRange(ySpec.keyOfDay(d)); assert(c <= d && d <= e)
    }
    val inFeb = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(feb24 * 86400L + 7200L))
    assert(PartitionTransforms.pkeyMayMatch(mSpec, EqualTo("ts", inFeb), mKey.toString))
    assert(!PartitionTransforms.pkeyMayMatch(mSpec, EqualTo("ts", inFeb), (mKey + 1).toString))
    assert(PartitionTransforms.pkeyMayMatch(mSpec,
      EqualTo("ts", java.sql.Date.valueOf("2024-02-15")), mKey.toString))
    assert(!PartitionTransforms.pkeyMayMatch(ySpec, EqualTo("ts", inFeb), (yKey - 1).toString))
    // end-to-end: six years of orders land ~80 month keys; a one-month
    // window plans ~1 file through the stored transform
    val dir = java.nio.file.Files.createTempDirectory("monthsl").toString
    graft.ingest.Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
      .repartitionByRange(4, $"o_orderdate").sortWithinPartitions($"o_orderdate")
      .write.format("graft-jsonl-stats").option("path", dir)
      .option("statsColumn", "o_orderkey")
      .option("partitionColumn", "months(o_orderdate)")
      .mode("overwrite").save()
    val entries = JsonlStats.readStats(dir)
    assert(entries.forall(_.pkey.isDefined), "every file carries its month pkey")
    val months = entries.flatMap(_.pkey).distinct
    assert(months.size >= 60, s"six years of orders must span ~80 month keys, got ${months.size}")
    val schema2 = org.apache.spark.sql.types.StructType(Seq(
      SF("o_orderkey", org.apache.spark.sql.types.LongType),
      SF("o_orderdate", TimestampType),
      SF("o_totalprice", org.apache.spark.sql.types.DoubleType)))
    val sb = new JsonlStatsScanBuilder(dir, schema2, "o_orderkey",
      Some("months(o_orderdate)"))
    sb.pushFilters(Array(
      GreaterThanOrEqual("o_orderdate", java.sql.Timestamp.valueOf("1997-03-01 00:00:00")),
      LessThan("o_orderdate", java.sql.Timestamp.valueOf("1997-04-01 00:00:00"))))
    val planned = sb.build().toBatch.planInputPartitions().length
    assert(planned <= 3 && planned >= 1,
      s"a one-month window over months() must plan ~1 of ${entries.size} files, got $planned")
  }

  test("composite layout days(ts) x bucket(n,user): conjunctive pruning, bounded writer (r12)") {
    import org.apache.spark.sql.types.{TimestampType, StructField => SF}
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    import spark.implicits._
    // contract laws: composites are exactly one time unit + one bucket
    intercept[IllegalArgumentException](PartitionTransforms.parseMulti("days(ts),months(ts)"))
    intercept[IllegalArgumentException](PartitionTransforms.parseMulti("bucket(4,a),bucket(8,b)"))
    intercept[IllegalArgumentException](PartitionTransforms.parseMulti("event_type,bucket(8,u)"))
    intercept[IllegalArgumentException](PartitionTransforms.parseMulti("days(ts),bucket(8,ts)"))
    val specs = PartitionTransforms.parseMulti("days(ts),bucket(8,user_id)")
    assert(specs === Seq(PartitionTransforms.Days("ts"), PartitionTransforms.Bucket(8, "user_id")))
    // conjunctive pkey test: BOTH components must admit the predicate set
    val day = java.time.LocalDate.of(2024, 1, 8).toEpochDay
    val b7 = PartitionTransforms.bucketLong(8, 7L)
    val inDay = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(day * 86400L + 60L))
    assert(PartitionTransforms.pkeyMayMatchMulti(specs, EqualTo("ts", inDay), s"$day|$b7"))
    assert(!PartitionTransforms.pkeyMayMatchMulti(specs, EqualTo("ts", inDay), s"${day + 1}|$b7"))
    assert(PartitionTransforms.pkeyMayMatchMulti(specs, EqualTo("user_id", 7L), s"$day|$b7"))
    assert(!PartitionTransforms.pkeyMayMatchMulti(
      specs, EqualTo("user_id", 7L), s"$day|${(b7 + 1) % 8}"))
    // component-count mismatch (evolution debris) keeps — conservative
    assert(PartitionTransforms.pkeyMayMatchMulti(specs, EqualTo("user_id", 7L), s"$day"))
    // end-to-end: a month of events lands day|bucket pkeys; a one-day
    // window alone keeps that day's buckets, adding the user equality
    // cuts them ~8x further — both with no partition column named
    val dir = java.nio.file.Files.createTempDirectory("composite").toString
    graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"value")
      .repartitionByRange(4, $"ts").sortWithinPartitions($"ts", $"user_id")
      .write.format("graft-jsonl-stats").option("path", dir)
      .option("statsColumn", "event_id")
      .option("partitionColumn", "days(ts),bucket(8,user_id)")
      .mode("overwrite").save()
    val entries = JsonlStats.readStats(dir)
    assert(entries.forall(_.pkey.exists(_.matches("""-?\d+\|\d+"""))),
      s"every file carries a day|bucket pkey: ${entries.flatMap(_.pkey).take(3)}")
    val days = entries.flatMap(_.pkey).map(_.split("\\|")(0)).distinct
    assert(days.size >= 25, s"a month of events must span ~30 day keys, got ${days.size}")
    val schema2 = org.apache.spark.sql.types.StructType(Seq(
      SF("event_id", org.apache.spark.sql.types.LongType),
      SF("ts", TimestampType),
      SF("user_id", org.apache.spark.sql.types.LongType),
      SF("value", org.apache.spark.sql.types.DoubleType)))
    def planned(filters: org.apache.spark.sql.sources.Filter*): Int = {
      val sb = new JsonlStatsScanBuilder(dir, schema2, "event_id",
        Some("days(ts),bucket(8,user_id)"))
      sb.pushFilters(filters.toArray)
      sb.build().toBatch.planInputPartitions().length
    }
    val d0 = days.map(_.toLong).sorted.apply(days.size / 2)
    val lo = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(d0 * 86400L))
    val hi = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond((d0 + 1) * 86400L))
    val dayOnly = planned(GreaterThanOrEqual("ts", lo), LessThan("ts", hi))
    val dayAndUser = planned(GreaterThanOrEqual("ts", lo), LessThan("ts", hi),
      EqualTo("user_id", 7L))
    val total = entries.size
    assert(dayOnly < total / 5,
      s"a one-day window must prune the month: $dayOnly of $total")
    assert(dayAndUser * 3 <= dayOnly,
      s"the user equality must cut the day's buckets: $dayAndUser vs $dayOnly")
    assert(dayAndUser >= 1)
  }

  test("planning-time file skipping: range predicates prune manifest files, never rows") {
    val root = fixture
    val total = JsonlStats.readStats(root).size
    assert(total >= 8, "fixture must have at least one file per bucket")
    def partitionsFor(filters: org.apache.spark.sql.sources.Filter*): Int = {
      val sb = new JsonlStatsScanBuilder(root, JsonlStats.schema)
      val residual = sb.pushFilters(filters.toArray)
      // every filter must come back as a residual: stats prove absence,
      // never presence
      assert(residual.toSeq === filters.toSeq)
      sb.build().toBatch.planInputPartitions().length
    }
    val all = partitionsFor()
    assert(all === total)
    val hi = partitionsFor(GreaterThanOrEqual("value", Double.box(300.0)))
    assert(hi < total / 2, s"selective range should prune >half the files, kept $hi/$total")
    val lo = partitionsFor(LessThan("value", Double.box(60.0)))
    assert(lo < total / 2)
    val none = partitionsFor(GreaterThanOrEqual("value", Double.box(1e9)))
    assert(none === 0, "an unsatisfiable predicate prunes every file")
    // non-skippable filters are ignored for pruning but still residual
    val other = partitionsFor(IsNotNull("event_type"))
    assert(other === total)
    // skipping is SAFE: rows surviving the pruned scan equal the
    // unpruned scan filtered (no false negatives at the file level)
    val eq = partitionsFor(EqualTo("value", Double.box(123.45)))
    assert(eq <= total)
  }

  test("pushdown reaches the executed plan: pruned columns and pushed filters") {
    import spark.implicits._
    val agg = JsonlFixtures.scanFrame(spark, sfDir)
      .filter($"value" >= 300.0)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(agg.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan).collect { case b: BatchScanExec => b }
    assert(scans.size === 1)
    val scan = scans.head.scan.asInstanceOf[JsonlStatsScan]
    // column pruning: only the referenced fields are parsed
    assert(scan.readSchema().fieldNames.toSet === Set("event_type", "value"))
    // filter pushdown: the range predicate reached the connector and
    // prunes files at planning time
    assert(scan.description().contains("value"))
    val planned = scan.toBatch.planInputPartitions().length
    val total = JsonlStats.readStats(fixture).size
    assert(planned < total, s"executed scan should skip files ($planned/$total)")
    // and the result is still exactly the parquet-side derivation
    val expect = graft.ingest.Tables.events(spark, sfDir)
      .filter($"value" >= 300.0).groupBy($"event_type").agg(count(lit(1)).as("n"))
    assert(agg.exceptAll(expect).isEmpty && expect.exceptAll(agg).isEmpty)
  }

  test("q159: aggregate pushdown answers count/min/max from the manifest alone") {
    import spark.implicits._
    val agg = JsonlLayoutQueries.manifestAggregate(spark, sfDir)
    // the plan substituted the manifest-agg scan
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(agg.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan).collect { case b: BatchScanExec => b }
    assert(scans.size === 1)
    assert(scans.head.scan.isInstanceOf[JsonlManifestAggScan])
    // and the numbers are the parquet-side truth
    val expect = graft.ingest.Tables.events(spark, sfDir)
      .agg(count(lit(1)).as("n"), min($"value").as("min_value"), max($"value").as("max_value"))
    assert(agg.collect().toSeq === expect.collect().toSeq)
    // physical proof of zero data IO: a copy of the table with EVERY data
    // file deleted (manifest kept) still answers the aggregate
    val orig = Paths.get(fixture)
    val bare = Files.createTempDirectory("jsonl_stats_bare")
    Files.copy(orig.resolve("_stats.jsonl"), bare.resolve("_stats.jsonl"))
    val bareAgg = spark.read.format("graft-jsonl-stats")
      .option("path", bare.toString).load()
      .agg(count(lit(1)).as("n"), min($"value").as("min_value"), max($"value").as("max_value"))
    assert(bareAgg.collect().toSeq === expect.collect().toSeq)
    // while a ROW-level read of the bare copy must fail — the data is
    // gone (note count() would NOT fail: it also rides the manifest)
    val bareScan = spark.read.format("graft-jsonl-stats")
      .option("path", bare.toString).load()
    intercept[org.apache.spark.SparkException] { bareScan.collect() }
  }

  test("aggregate pushdown declines unsafe shapes: grouping, filters, other functions") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Avg, CountStar, Min}
    val root = fixture
    def builder() = new JsonlStatsScanBuilder(root, JsonlStats.schema)
    val countStar = new Aggregation(Array(new CountStar), Array.empty)
    // clean global count: accepted, manifest scan
    val b1 = builder()
    assert(b1.pushAggregation(countStar))
    assert(b1.build().isInstanceOf[JsonlManifestAggScan])
    // grouped: declined (manifest has no per-group bounds)
    val grouped = new Aggregation(Array(new CountStar),
      Array(Expressions.column("event_type")))
    assert(!builder().pushAggregation(grouped))
    // after a pushed filter: declined (file bounds describe ALL rows of
    // the file, not the filtered subset)
    val b2 = builder()
    b2.pushFilters(Array(GreaterThanOrEqual("value", Double.box(300.0))))
    assert(!b2.pushAggregation(countStar))
    // an aggregate the manifest can't serve: declined
    val avg = new Aggregation(Array(new Avg(Expressions.column("value"), false)), Array.empty)
    assert(!builder().pushAggregation(avg))
    // min over a non-stats column: declined
    val minOther = new Aggregation(Array(new Min(Expressions.column("event_id"))), Array.empty)
    assert(!builder().pushAggregation(minOther))
  }

  test("q160: the write path round-trips content and publishes exact stats") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_stats_write").toString
    val src = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    src.repartitionByRange(4, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val back = spark.read.format("graft-jsonl-stats").option("path", dir).load()
    // content identity both directions
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // the manifest the writer published is exact: per-file bounds and
    // counts re-derived from the data files themselves
    val stats = JsonlStats.readStats(dir)
    assert(stats.nonEmpty)
    assert(stats.map(_.rows).sum === src.count())
    stats.foreach { s =>
      val f = spark.read.schema(JsonlStats.schema).json(
        java.nio.file.Paths.get(dir, s.file).toString)
      val r = f.agg(min($"value"), max($"value"), count(lit(1))).head
      assert(r.getDouble(0) === s.min && r.getDouble(1) === s.max && r.getLong(2) === s.rows)
    }
    // range layout → tight disjoint bounds → skipping works on the
    // table the WRITER produced
    val sb = new JsonlStatsScanBuilder(dir, JsonlStats.schema)
    sb.pushFilters(Array(GreaterThanOrEqual("value", Double.box(300.0))))
    assert(sb.build().toBatch.planInputPartitions().length < stats.size)
    // overwrite is a truncate: a second write fully replaces the first —
    // the manifest lists only the new generation; the old generation's
    // files STAY on disk for its archived snapshot (deferred GC, r7 —
    // VACUUM is the deletion point, exercised in the vacuum spec)
    val gen1Files = stats.map(_.file).toSet
    val half = src.filter($"event_type" === "click")
    half.repartitionByRange(2, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val gen2 = spark.read.format("graft-jsonl-stats").option("path", dir).load()
    assert(gen2.count() === half.count())
    val files = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(!files.exists(_.startsWith("_stats.jsonl.tmp")), "no torn manifest temp left")
    val gen2Manifest = JsonlStats.readStats(dir).map(_.file).toSet
    assert(gen2Manifest.intersect(gen1Files).isEmpty,
      "truncate kept old-generation files in the live manifest")
    assert(gen2Manifest ++ gen1Files
      === files.filter(_.endsWith(".jsonl")).diff(Set("_stats.jsonl")),
      "directory = live generation + snapshot-retained files, nothing else")
    // append mode extends the table instead
    half.write.format("graft-jsonl-stats").option("path", dir).mode("append").save()
    assert(spark.read.format("graft-jsonl-stats").option("path", dir).load().count()
      === 2 * half.count())
  }

  test("q161: streaming reads manifest increments exactly once across restarts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_stats_stream").toString
    val ckpt = Files.createTempDirectory("jsonl_stats_ckpt").toString
    val src = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val gen1 = src.filter($"event_type" =!= "click")
    val gen2 = src.filter($"event_type" === "click")
    gen1.repartitionByRange(3, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    // each AvailableNow run drains whatever joined the manifest since
    // the checkpointed offset; `processed` counts rows actually read
    val processed = new java.util.concurrent.atomic.AtomicLong()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-jsonl-stats").option("path", dir).load()
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          { processed.addAndGet(df.count()); () })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(processed.get() === gen1.count(), "first drain reads the full first generation")
    // append the second generation THROUGH THE CONNECTOR, then resume
    // from the checkpoint: only the new files are read
    gen2.repartitionByRange(2, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("append").save()
    drain()
    assert(processed.get() === gen1.count() + gen2.count(),
      "second drain reads exactly the appended files")
    // no manifest change → a third drain reads nothing (exactly-once)
    drain()
    assert(processed.get() === gen1.count() + gen2.count())
  }

  test("q162: runtime filters prune files the query text never named") {
    import spark.implicits._
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate

    // unit level: an IN runtime filter on the stats column shrinks the
    // planned file set; junk is ignored, never guessed at
    val root = JsonlFixtures.ensureUserKeyedFixture(spark, sfDir)
    val total = JsonlStats.readStats(root).size
    assert(total >= 4, "user-keyed fixture must have multiple files")
    def freshScan() = new JsonlStatsScanBuilder(root, JsonlStats.schema, "user_id")
      .build().asInstanceOf[JsonlStatsScan]
    val s1 = freshScan()
    assert(s1.filterAttributes().map(_.fieldNames.toSeq).toSeq === Seq(Seq("user_id")))
    assert(s1.toBatch.planInputPartitions().length === total)
    s1.filter(Array(new Predicate("IN", Array(
      Expressions.column("user_id"),
      Expressions.literal(3L), Expressions.literal(5L)))))
    val kept = s1.toBatch.planInputPartitions().length
    assert(kept >= 1 && kept < total,
      s"two adjacent keys should keep a nonempty strict subset, kept $kept/$total")
    val s2 = freshScan()
    s2.filter(Array(new Predicate("ALWAYS_TRUE", Array.empty)))
    assert(s2.toBatch.planInputPartitions().length === total,
      "an unparseable runtime predicate must not prune")

    // end to end: the cohort join hands the scan its key set at
    // execution time; the executed scan carries the runtime filter and
    // reads a strict subset of the manifest
    val q = JsonlLayoutQueries.runtimeFilteredJoin(spark, sfDir)
    val got = q.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(q.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
      .collect { case b: BatchScanExec if b.scan.isInstanceOf[JsonlStatsScan] => b }
    assert(scans.size === 1)
    assert(scans.head.runtimeFilters.nonEmpty,
      "the join key must reach the scan as a runtime filter (DPP for DSv2)")
    // partitions() is the PRE-runtime planning set; the executed RDD is
    // built from the runtime-filtered set — that is where skipping shows
    assert(scans.head.partitions.flatten.size === total)
    val read = scans.head.execute().getNumPartitions
    assert(read < total, s"runtime filter should skip files, read $read/$total")
    // pruning is invisible in the result: equals the parquet derivation
    val cust = graft.ingest.Tables.customer(spark, sfDir)
    val cut = (graft.ingest.Tables.events(spark, sfDir)
      .agg(max($"user_id")).head().getLong(0) + 1L) / 8L
    val expect = graft.ingest.Tables.events(spark, sfDir)
      .join(cust.filter($"c_custkey" < cut), $"user_id" === $"c_custkey")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        graft.util.Det.msum($"value").as("value_sum"))
      .orderBy($"event_type")
    assert(got.toSeq === expect.collect().toSeq)
  }

  test("q167: metadata columns carry provenance, cost nothing unqueried") {
    import spark.implicits._
    val root = fixture
    val frame = JsonlFixtures.scanFrame(spark, sfDir)
    // unqueried: metadata columns never appear in the schema
    assert(!frame.schema.fieldNames.contains("_file")
      && !frame.schema.fieldNames.contains("_pos"))
    // queried: resolved by name, one distinct _file per manifest entry
    val stats = JsonlStats.readStats(root)
    val withMeta = frame.select($"_file", $"_pos", $"event_id")
    assert(withMeta.select("_file").distinct().count() === stats.size)
    // per-file: _pos is dense 0..n-1 and counts match the manifest
    val rootLen = java.nio.file.Paths.get(root).toAbsolutePath.toString.length
    val perFile = withMeta
      .groupBy(substring($"_file", rootLen + 2, 1 << 20).as("file"))
      .agg(count(lit(1)).as("n"), min($"_pos").as("lo"), max($"_pos").as("hi"),
        countDistinct($"_pos").as("npos"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    stats.foreach { s =>
      val (n, lo, hi, npos) = perFile(s.file)
      assert(n === s.rows && lo === 0L && hi === s.rows - 1 && npos === s.rows,
        s"provenance mismatch for ${s.file}")
    }
    // the registered audit reduces the same facts to its flag
    val audit = JsonlLayoutQueries.metadataLineage(spark, sfDir).head()
    assert(audit.getBoolean(0), "per-file counts must match the manifest")
    assert(audit.getLong(1) === stats.map(_.rows).sum)
  }

  test("q169: storage-partitioned join runs with zero exchanges") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = JsonlLayoutQueries.storagePartitionedJoin(spark, sfDir)
    val got = df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plan = nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
    // the join AND the post-join aggregate ride the reported key
    // grouping: the ONLY shuffle in the executed plan is the final
    // presentation ORDER BY (range partitioning), which sits ABOVE the
    // completed aggregate — nothing below it exchanges
    val shuffles = plan.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.forall(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      s"non-ORDER-BY shuffle in a storage-partitioned join:\n${df.queryExecution.executedPlan}")
    val smjs = plan.collect { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(smjs.size === 1, "the merge hint must yield a sort-merge join")
    assert(smjs.head.collect { case s: ShuffleExchangeLike => s }.isEmpty,
      s"exchange under the join — key groups were not aligned:\n${smjs.head}")
    // both sides are connector scans that reported key-grouped layouts
    val scans = plan.collect { case b: BatchScanExec => b }
    assert(scans.size === 2)
    scans.foreach { s =>
      val scan = s.scan.asInstanceOf[JsonlStatsScan]
      val part = scan.outputPartitioning()
      assert(part.isInstanceOf[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
        s"scan did not report key grouping: $part")
      // key-grouped scans must decline runtime filtering: a runtime
      // re-plan of a keyed scan is contractually required to preserve
      // the keyed partitions (r6 review)
      assert(scan.filterAttributes().isEmpty,
        "key-grouped scan must not advertise runtime-filterable columns")
    }
    // and the result equals the parquet-side derivation
    val ev = graft.ingest.Tables.events(spark, sfDir)
    val ts = ev.groupBy($"event_type").agg(count(lit(1)).as("n_total"))
    val expect = ev.join(ts, Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), max($"n_total").as("n_total"),
        graft.util.Det.msum($"value").as("value_sum"))
      .orderBy($"event_type")
    assert(got.toSeq === expect.collect().toSeq)
  }

  test("q170/q171: catalog plugin — identifier resolution, read-only contract, codegen'd V2 function") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    // identifier path and format() path meet at the same table
    val viaCatalog = spark.sql(s"SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table")
    val viaFormat = JsonlFixtures.scanFrame(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    assert(viaCatalog.exceptAll(viaFormat).isEmpty && viaFormat.exceptAll(viaCatalog).isEmpty)
    // SHOW TABLES sees every manifest-bearing directory
    val listed = spark.sql(s"SHOW TABLES IN $cat").select("tableName")
      .collect().map(_.getString(0)).toSet
    assert(listed.contains("jsonl_stats_table"))
    // read-only contract: DDL through the catalog is refused
    intercept[UnsupportedOperationException] {
      spark.sql(s"CREATE TABLE $cat.nope (id BIGINT) USING parquet")
    }
    // regression (r6 review): resolution honors the table's OWN stats
    // column via _table.json — the user-keyed table's bounds describe
    // user_id, and pruning a value-range filter against them would
    // silently drop matching rows
    JsonlFixtures.ensureUserKeyedFixture(spark, sfDir)
    val viaUserTable = spark.sql(
      s"SELECT count(*) AS n FROM $cat.jsonl_stats_by_user WHERE value >= 300.0")
      .head().getLong(0)
    val expectN = graft.ingest.Tables.events(spark, sfDir)
      .filter($"value" >= 300.0).count()
    assert(viaUserTable === expectN,
      "catalog resolved the user-keyed table with the wrong stats column")
    // the V2 scalar function binds through the magic method: the plan
    // carries a typed Invoke of the bound function, never a ScalaUDF
    val fn = JsonlLayoutQueries.catalogFunction(spark, sfDir)
    fn.collect()
    val text = fn.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan.toString
    assert(!text.contains("ScalaUDF"), s"V2 function fell back to a UDF:\n$text")
    assert(text.contains("invoke") || text.contains("sqnorm"),
      s"V2 function invocation not visible in plan:\n$text")
    // and the exact-decimal contract holds against an in-Spark derivation
    val expect = graft.ingest.Tables.embeddings(spark, sfDir)
      .select($"vec_id",
        org.apache.spark.sql.functions.aggregate(
          org.apache.spark.sql.functions.transform($"embedding",
            x => (x.cast("double") * x.cast("double")).cast(org.apache.spark.sql.types.DecimalType(38, 25))),
          org.apache.spark.sql.functions.lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 25)),
          (acc, v) => (acc + v).cast(org.apache.spark.sql.types.DecimalType(38, 25)))
          .cast(org.apache.spark.sql.types.DecimalType(24, 9)).cast("double").as("sq"))
      .orderBy($"sq".desc, $"vec_id").limit(5)
    assert(fn.collect().toSeq === expect.collect().toSeq)
  }

  test("q172-q174: row-level rewrite is file-granular and the commit point holds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_rowlevel").toString
    val src = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    src.repartitionByRange(4, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val cat = "graft_rl_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    val before = JsonlStats.readStats(dir)
    assert(before.size === 4)
    // delete a range that lives entirely in the low-value files: the
    // cut is the max of the lowest file's interval, so at least one
    // file is WHOLLY deleted (zero surviving rows — the case where a
    // statically-pruned rewrite scan must still replace the file)
    val cut = before.map(_.max).min
    spark.sql(s"DELETE FROM $cat.`$table` WHERE value <= $cut")
    val after = JsonlStats.readStats(dir)
    // unaffected files survive UNREWRITTEN (same names): group
    // granularity is real, not whole-table copy-on-write
    val untouched = before.filter(_.min > cut).map(_.file).toSet
    assert(untouched.nonEmpty && untouched.subsetOf(after.map(_.file).toSet),
      s"unaffected files were rewritten: kept=${after.map(_.file)}")
    // the wholly-deleted file is gone from the manifest but STAYS on
    // disk: the archived pre-delete snapshot still references it
    // (deferred GC, r7) — so VERSION AS OF the pre-delete generation
    // still reads the original content
    val wholly = before.filter(_.max <= cut).map(_.file)
    assert(wholly.nonEmpty, "fixture must exercise the wholly-deleted-file case")
    wholly.foreach { f =>
      assert(!after.exists(_.file == f))
      assert(Files.exists(java.nio.file.Paths.get(dir, f)),
        s"replaced file $f was eagerly deleted — snapshots must outlive the commit")
    }
    val preDelete = spark.sql(
      s"SELECT count(*) AS n FROM $cat.`$table` VERSION AS OF 1").head().getLong(0)
    assert(preDelete === src.count(), "pre-delete snapshot must read the full feed")
    // content = source minus the deleted range, exactly
    val back = spark.read.format("graft-jsonl-stats").option("path", dir).load()
    val expect = src.filter($"value" > cut)
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
    // VACUUM is the deletion point: retain only the live generation →
    // the replaced files go, and manifest and directory agree again
    val vac = spark.sql(
      s"CALL $cat.vacuum('$table', retain_last => 1, orphan_grace_ms => 0)").head()
    assert(vac.getInt(0) >= 1, "vacuum must report expired generations")
    wholly.foreach { f =>
      assert(!Files.exists(java.nio.file.Paths.get(dir, f)), s"vacuum left $f behind")
    }
    val listing = Files.list(java.nio.file.Paths.get(dir))
    val onDisk =
      try listing.iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".jsonl")).toSet - "_stats.jsonl"
      finally listing.close()
    assert(onDisk === after.map(_.file).toSet)
    // and the expired snapshot now fails LOUDLY — the post-VACUUM contract
    val gone = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.`$table` VERSION AS OF 1").collect()
    }
    assert(gone.toString.contains("vacuum"), s"expected a vacuum error, got $gone")
    // UPDATE rides the same machinery: assignment applied, row count kept
    val nBefore = back.count()
    spark.sql(s"UPDATE $cat.`$table` SET value = -1.0 WHERE event_type = 'signup'")
    val upd = spark.read.format("graft-jsonl-stats").option("path", dir).load()
    assert(upd.count() === nBefore)
    assert(upd.filter($"event_type" === "signup" && $"value" =!= -1.0).count() === 0)
    assert(upd.filter($"event_type" =!= "signup" && $"value" === -1.0).count() === 0)
    // key-grouped layouts: the rewrite RE-KEYS its replacement files
    // (r7 — the keyed write path replaced the r6 refusal), so a
    // mutation preserves the SPJ layout contract
    JsonlFixtures.ensureTypeKeyedFact(spark, sfDir)
    val cat2 = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS $cat2.rl_keyed")
    spark.sql(
      s"""CREATE TABLE $cat2.rl_keyed PARTITIONED BY (event_type) AS
         |SELECT event_id, user_id, event_type, value FROM $cat2.jsonl_stats_by_type""".stripMargin)
    spark.sql(s"DELETE FROM $cat2.rl_keyed WHERE event_type = 'click' OR value < 50.0")
    val keyedDir = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat2.root"), "rl_keyed")
    val keyedStats = JsonlStats.readStats(keyedDir.toString)
    assert(keyedStats.nonEmpty && keyedStats.forall(_.pkey.isDefined),
      s"keyed rewrite stripped pkeys: $keyedStats")
    val keyedBack = spark.table(s"$cat2.rl_keyed")
    val keyedExpect = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .filter(!($"event_type" === "click" || $"value" < 50.0))
    assert(keyedBack.exceptAll(keyedExpect).isEmpty && keyedExpect.exceptAll(keyedBack).isEmpty)
    spark.sql(s"DROP TABLE $cat2.rl_keyed")
  }

  test("q196/q197: merge-on-read DELETE writes deletion vectors, zero data-file rewrites; rewrite_deletes collapses them (r7c)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_dv").toString
    val src = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    src.repartitionByRange(4, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val meta0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, meta0.statsCol.get, meta0.partitionCol,
      meta0.schema.get, meta0.bloomCol, deleteMode = Some("merge-on-read"))
    val cat = "graft_dv_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    val before = JsonlStats.readStats(dir)
    val bytesBefore = before.map(s => s.file -> Files.size(Paths.get(dir, s.file))).toMap
    // two composing deletes: type slice masks rows in every file, value
    // slice lands in the low files only -> some file carries TWO DVs
    val cut = before.map(_.max).min
    spark.sql(s"DELETE FROM $cat.`$table` WHERE event_type = 'click'")
    spark.sql(s"DELETE FROM $cat.`$table` WHERE value <= $cut")
    val after = JsonlStats.readStats(dir)
    // THE merge-on-read law: no data file touched — same names, same bytes
    assert(after.map(_.file).toSet === before.map(_.file).toSet,
      "merge-on-read DELETE must not add or remove data files")
    after.foreach(s => assert(Files.size(Paths.get(dir, s.file)) === bytesBefore(s.file),
      s"data file ${s.file} was rewritten"))
    // DVs attached where rows died; the doubly-deleted file carries both
    assert(after.exists(_.dvs.size >= 2), s"expected a file with composed DVs: $after")
    assert(after.forall(s => s.dels >= 0 && s.dvs.nonEmpty == (s.dels > 0)))
    val expect = src.filter($"event_type" =!= "click" && $"value" > cut)
    val back = spark.table(s"$cat.`$table`")
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
    // deleted mass accounting: sum of n_dels = rows removed
    assert(after.map(_.dels).sum === src.count() - expect.count())
    // COUNT(*) pushdown stays metadata-only (rows - dels): a bare copy
    // with every data file deleted still answers it; MIN/MAX must
    // decline (bounds may no longer be attained) -> collect() throws
    val bare = Files.createTempDirectory("jsonl_dv_bare").toString
    Files.copy(Paths.get(dir, "_stats.jsonl"), Paths.get(bare, "_stats.jsonl"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.createDirectories(Paths.get(bare, "_deletes"))
    after.flatMap(_.dvs).foreach { dv =>
      Files.copy(Paths.get(dir, dv), Paths.get(bare, dv))
    }
    def bareDf = spark.read.format("graft-jsonl-stats").option("path", bare).load()
    assert(bareDf.count() === expect.count(),
      "COUNT through a DV'd manifest must be served as sum(rows - dels) with zero data IO")
    intercept[Exception] { bareDf.agg(org.apache.spark.sql.functions.min($"value")).collect() }
    // time travel: the pre-delete generation's entries carry no DVs
    val preDelete = spark.sql(
      s"SELECT count(*) AS n FROM $cat.`$table` VERSION AS OF 1").head().getLong(0)
    assert(preDelete === src.count(), "pre-delete snapshot must read the unmasked feed")
    // change feed across the DV commits: (file, dvs) identity re-images
    // the masked files and the deleted rows surface as deletes
    val v = JsonlStats.currentVersion(dir)
    val changes = graft.sources.ChangeFeed.tableChanges(spark, dir, 1, v, Seq("event_id"))
    assert(changes.filter($"change_type" =!= "delete").isEmpty,
      "a pure DELETE window must produce only delete changes")
    assert(changes.count() === src.count() - expect.count())
    // q197: rewrite_deletes collapses DVs into clean files...
    val res = spark.sql(s"CALL $cat.rewrite_deletes('$table')").head()
    assert(res.getInt(0) >= 1 && res.getLong(2) === src.count() - expect.count())
    val clean = JsonlStats.readStats(dir)
    assert(clean.forall(s => s.dvs.isEmpty && s.dels == 0))
    val back2 = spark.table(s"$cat.`$table`")
    assert(back2.exceptAll(expect).isEmpty && expect.exceptAll(back2).isEmpty)
    // ...and re-arms MIN/MAX pushdown with ATTAINED bounds: a bare copy
    // answers the full aggregate metadata-only again
    val bare2 = Files.createTempDirectory("jsonl_dv_bare2").toString
    Files.copy(Paths.get(dir, "_stats.jsonl"), Paths.get(bare2, "_stats.jsonl"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val aggRow = spark.read.format("graft-jsonl-stats").option("path", bare2).load()
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.min($"value"),
        org.apache.spark.sql.functions.max($"value")).head()
    val expAgg = expect.agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
      org.apache.spark.sql.functions.min($"value"),
      org.apache.spark.sql.functions.max($"value")).head()
    assert(aggRow === expAgg, "post-rewrite MIN/MAX must serve exact attained bounds from metadata")
    // old files + DVs survive for archived snapshots until VACUUM...
    assert(before.forall(s => Files.exists(Paths.get(dir, s.file))))
    assert(after.flatMap(_.dvs).forall(dv => Files.exists(Paths.get(dir, dv))))
    // ...which expires them with their manifests (DVs refcount like data)
    spark.sql(s"CALL $cat.vacuum('$table', retain_last => 1, orphan_grace_ms => 0)").collect()
    assert(after.flatMap(_.dvs).forall(dv => !Files.exists(Paths.get(dir, dv))),
      "vacuum must GC deletion vectors once no retained manifest references them")
    val liveNames = clean.map(_.file).toSet
    before.map(_.file).filterNot(liveNames).foreach { f =>
      assert(!Files.exists(Paths.get(dir, f)), s"vacuum left superseded $f behind")
    }
  }

  test("composite layout DML: COW rewrites re-derive day|bucket pkeys (r12)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS $cat.cdml_spec")
    graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"value")
      .createOrReplaceTempView("cdml_src")
    spark.sql(
      s"""CREATE TABLE $cat.cdml_spec USING `graft-jsonl-stats`
         |PARTITIONED BY (days(ts), bucket(8, user_id))
         |AS SELECT * FROM cdml_src""".stripMargin)
    val dir = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "cdml_spec").toString
    val total = spark.table(s"$cat.cdml_spec").count()
    val hit = spark.sql(
      s"SELECT count(*) FROM $cat.cdml_spec WHERE user_id = 7 AND value < 50").head().getLong(0)
    assert(hit > 0, "fixture must have rows to delete")
    spark.sql(s"DELETE FROM $cat.cdml_spec WHERE user_id = 7 AND value < 50")
    assert(spark.table(s"$cat.cdml_spec").count() === total - hit)
    spark.sql(s"UPDATE $cat.cdml_spec SET value = 0.0 WHERE user_id = 9")
    assert(spark.sql(s"SELECT sum(value) FROM $cat.cdml_spec WHERE user_id = 9")
      .head().getDouble(0) === 0.0)
    // every entry — original and COW replacement alike — carries a
    // well-formed composite pkey under the table's spec
    val entries = JsonlStats.readStats(dir)
    assert(entries.forall(_.pkey.exists(_.matches("""-?\d+\|\d+"""))),
      s"COW replacements must re-derive composite pkeys: ${entries.flatMap(_.pkey).take(5)}")
    assert(entries.forall(_.pspec.forall(_ == "days(ts),bucket(8,user_id)")))
    // and the layout still prunes: the day+user point query plans a
    // small fraction (conjunctive pruning through the rewritten layout)
    val planned = {
      val sb = new JsonlStatsScanBuilder(dir,
        spark.table(s"$cat.cdml_spec").schema, "event_id",
        Some("days(ts),bucket(8,user_id)"))
      sb.pushFilters(Array(
        org.apache.spark.sql.sources.EqualTo("user_id", 9L)))
      sb.build().toBatch.planInputPartitions().length
    }
    assert(planned * 3 <= entries.size,
      s"bucket pruning must survive DML: $planned of ${entries.size}")
    spark.sql(s"DROP TABLE $cat.cdml_spec")
  }

  test("namespaces: directories under the warehouse root, full SQL verb surface (r12)") {
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP NAMESPACE IF EXISTS $cat.rawzone CASCADE")
    spark.sql(s"CREATE NAMESPACE $cat.rawzone COMMENT 'landing zone'")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("rawzone"))
    // tables resolve under the namespace path (dirOf has composed the
    // path since r7 — this wires the verbs onto it)
    spark.sql(s"CREATE TABLE $cat.rawzone.t USING `graft-jsonl-stats` " +
      "AS SELECT 1L AS event_id, 10L AS v")
    assert(spark.sql(s"SHOW TABLES IN $cat.rawzone").collect()
      .map(_.getString(1)).contains("t"))
    assert(spark.table(s"$cat.rawzone.t").count() === 1L)
    // properties round-trip through DESCRIBE and ALTER
    val desc = spark.sql(s"DESCRIBE NAMESPACE EXTENDED $cat.rawzone").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.exists(_._2.contains("landing zone")), s"comment must surface: $desc")
    spark.sql(s"ALTER NAMESPACE $cat.rawzone SET PROPERTIES ('team' = 'etl')")
    val desc2 = spark.sql(s"DESCRIBE NAMESPACE EXTENDED $cat.rawzone").collect()
      .map(r => r.getString(1)).mkString(";")
    assert(desc2.contains("etl"), s"team property must surface after ALTER: $desc2")
    // nested namespaces list hierarchically
    spark.sql(s"CREATE NAMESPACE $cat.rawzone.sub")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat.rawzone").collect()
      .map(_.getString(0)).exists(_.endsWith("sub")))
    // a non-empty namespace refuses a plain drop; CASCADE clears it
    intercept[Exception](spark.sql(s"DROP NAMESPACE $cat.rawzone"))
    spark.sql(s"DROP NAMESPACE $cat.rawzone CASCADE")
    assert(!spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("rawzone"))
    // a TABLE directory is not a namespace (and vice versa)
    intercept[Exception](spark.sql(s"CREATE NAMESPACE $cat.jsonl_stats_table"))
  }

  test("scoped zorder: one partition re-clusters, every other entry byte-identical (r12)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS $cat.zscope_spec")
    graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"value")
      .createOrReplaceTempView("zscope_src")
    // two commits -> every day holds (at least) two files, so the
    // scope is a real multi-file re-cluster even at tiny sf (AQE
    // coalesces a small CTAS to one task = one file per day)
    spark.sql(
      s"""CREATE TABLE $cat.zscope_spec USING `graft-jsonl-stats`
         |PARTITIONED BY (days(ts))
         |AS SELECT * FROM zscope_src WHERE event_id % 2 = 0""".stripMargin)
    spark.sql(
      s"INSERT INTO $cat.zscope_spec SELECT * FROM zscope_src WHERE event_id % 2 = 1")
    val dir = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "zscope_spec").toString
    val before = JsonlStats.readStats(dir)
    assert(before.forall(_.pkey.isDefined))
    // pick the day with the most files (the scope worth re-clustering)
    val day = before.groupBy(_.pkey.get).maxBy(_._2.size)._1
    val content0 = spark.table(s"$cat.zscope_spec")
      .selectExpr("event_id", "user_id", "value", "_row_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted
    val otherLines = before.filterNot(_.pkey.contains(day)).map(JsonlStats.statsLine).sorted
    // half the scope's bytes as the target -> the rewrite must fan out
    // to >= 2 z-ranged files at ANY sf
    val scopeBytes = before.filter(_.pkey.contains(day))
      .map(st => java.nio.file.Files.size(Paths.get(dir, st.file))).sum
    val target = math.max(512L, scopeBytes / 2)
    spark.sql(
      s"CALL $cat.zorder('zscope_spec', 'user_id', 'value', $target, partition => '$day')")
    val after = JsonlStats.readStats(dir)
    // every entry outside the scope survives BYTE-identical
    assert(after.filterNot(_.pkey.contains(day)).map(JsonlStats.statsLine).sorted === otherLines,
      "scoped zorder must not touch a single entry outside its partition")
    // the scope stays keyed under the table's spec (SPJ contract intact)
    val fresh = after.filter(_.pkey.contains(day))
    assert(fresh.nonEmpty && fresh.forall(_.pspec.exists(_ == "days(ts)")),
      s"fresh entries must carry the pkey and its spec: ${fresh.map(s => (s.pkey, s.pspec))}")
    // content AND row identity survive the re-cluster bit-for-bit
    val content1 = spark.table(s"$cat.zscope_spec")
      .selectExpr("event_id", "user_id", "value", "_row_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted
    assert(content1 === content0, "scoped zorder is a pure layout move")
    // the z-clustering actually happened: with a small target the scope
    // fans out, and each fresh file's user_id bounds are tighter than
    // the whole scope's (range-partitioned by z => per-file 2-D locality)
    assert(fresh.size >= 2, s"a half-scope target must split the day, got ${fresh.size}")
    val scopeBounds = fresh.flatMap(s => JsonlStats.colBounds(s, "user_id", "event_id"))
    assert(scopeBounds.nonEmpty)
    val widest = scopeBounds.map { case (lo, hi) => hi - lo }.max
    val full = (scopeBounds.map(_._1).min, scopeBounds.map(_._2).max)
    assert(widest < (full._2 - full._1),
      s"at least the widest file must be tighter than the scope: $widest vs $full")
    // unknown pkey refuses loudly, naming candidates
    val e = intercept[Exception](spark.sql(
      s"CALL $cat.zorder('zscope_spec', 'user_id', 'value', ${16L * 1024}, partition => 'nope')"))
    def chain(t: Throwable) = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(6).toSeq
    assert(chain(e).exists(c => Option(c.getMessage).exists(_.contains("no live file"))))
    // column-mapped tables keep the PHYSICAL dialect through the scoped
    // rewrite: rename, re-cluster ANOTHER day, content identical and the
    // fresh stats key the physical name (the staging sidecar carries the
    // table meta, so staged files never write logical keys)
    spark.sql(s"ALTER TABLE $cat.zscope_spec RENAME COLUMN user_id TO uid")
    val day2 = before.groupBy(_.pkey.get).filter(_._1 != day).maxBy(_._2.size)._1
    val sum0 = spark.sql(
      s"SELECT CAST(SUM(CAST(uid AS DECIMAL(18,6))) AS DOUBLE) FROM $cat.zscope_spec")
      .head().getDouble(0)
    spark.sql(
      s"CALL $cat.zorder('zscope_spec', 'uid', 'value', $target, partition => '$day2')")
    val sum1 = spark.sql(
      s"SELECT CAST(SUM(CAST(uid AS DECIMAL(18,6))) AS DOUBLE) FROM $cat.zscope_spec")
      .head().getDouble(0)
    assert(sum1 === sum0, "renamed column must survive the scoped rewrite bit-for-bit")
    val fresh2 = JsonlStats.readStats(dir).filter(_.pkey.contains(day2))
    assert(fresh2.nonEmpty && fresh2.forall(_.cols.contains("user_id")),
      s"staged files must record stats under the PHYSICAL name: ${fresh2.map(_.cols.keySet)}")
    spark.sql(s"DROP TABLE $cat.zscope_spec")
  }

  test("ALTER COLUMN safe type promotions: metadata-only, exact re-read; unsafe refuse (r12)") {
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS $cat.promo_spec")
    spark.sql(
      s"""CREATE TABLE $cat.promo_spec USING `graft-jsonl-stats`
         |AS SELECT * FROM VALUES
         |  (1L, 9007199254740993L, CAST(1.5 AS FLOAT)),
         |  (2L, -9007199254740995L, CAST(0.25 AS FLOAT))
         |AS t(event_id, big, f)""".stripMargin)
    // long -> decimal(20,0): decimal text re-parses the stored long
    // EXACTLY — 2^53 + 1 survives, which a long -> double retype (the
    // refused one) would silently round
    spark.sql(s"ALTER TABLE $cat.promo_spec ALTER COLUMN big TYPE DECIMAL(20,0)")
    spark.sql(s"ALTER TABLE $cat.promo_spec ALTER COLUMN f TYPE DOUBLE")
    val r = spark.sql(
      s"SELECT big, f FROM $cat.promo_spec ORDER BY event_id").collect()
    assert(r(0).getDecimal(0).toBigInteger.toString === "9007199254740993")
    assert(r(1).getDecimal(0).toBigInteger.toString === "-9007199254740995")
    assert(r(0).getDouble(1) === 1.5 && r(1).getDouble(1) === 0.25)
    // decimal widening composes; schema reflects it
    spark.sql(s"ALTER TABLE $cat.promo_spec ALTER COLUMN big TYPE DECIMAL(30,0)")
    assert(spark.table(s"$cat.promo_spec").schema("big").dataType ===
      org.apache.spark.sql.types.DecimalType(30, 0))
    // refusals: lossy/reinterpreting retypes, scale changes, the
    // declared stats column, and NOT NULL by metadata alone
    def refuses(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def chain(t: Throwable) =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(6).toSeq
      assert(chain(e).exists(c => Option(c.getMessage).exists(_.contains(frag))),
        s"$sql must refuse with '$frag', got: ${e.getMessage}")
    }
    // scale changes die in Spark's own up-cast gate before the catalog
    refuses(s"ALTER TABLE $cat.promo_spec ALTER COLUMN big TYPE DECIMAL(30,2)",
      "NOT_SUPPORTED_CHANGE_COLUMN")
    refuses(s"ALTER TABLE $cat.promo_spec ALTER COLUMN f TYPE STRING", "unsafe retype")
    refuses(s"ALTER TABLE $cat.promo_spec ALTER COLUMN event_id TYPE DECIMAL(20,0)",
      "physical layout contract")
    refuses(s"ALTER TABLE $cat.promo_spec ALTER COLUMN big SET NOT NULL", "CHECK")
    // comments are pure metadata
    spark.sql(s"ALTER TABLE $cat.promo_spec ALTER COLUMN big COMMENT 'exact id'")
    assert(spark.table(s"$cat.promo_spec").schema("big")
      .getComment().contains("exact id"))
    spark.sql(s"DROP TABLE $cat.promo_spec")
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES routes known properties; unknown refuse (r12)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS $cat.props_spec")
    spark.sql(
      s"""CREATE TABLE $cat.props_spec AS
         |SELECT event_id, user_id, event_type, value
         |FROM $cat.jsonl_stats_table ORDER BY event_id""".stripMargin)
    val dir = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "props_spec").toString
    // deleteMode round-trips AND is honored by the next DML
    spark.sql(s"ALTER TABLE $cat.props_spec SET TBLPROPERTIES ('deleteMode'='merge-on-read')")
    assert(JsonlStats.readTableMeta(dir).deleteMode === Some("merge-on-read"))
    val victim = spark.table(s"$cat.props_spec").select(min($"event_id")).head().getLong(0)
    spark.sql(s"DELETE FROM $cat.props_spec WHERE event_id = $victim")
    assert(JsonlStats.readStats(dir).exists(_.dvs.nonEmpty),
      "a DELETE after SET deleteMode=merge-on-read must mask, not rewrite")
    // sortColumn/gramColumn validate against the schema
    spark.sql(s"ALTER TABLE $cat.props_spec SET TBLPROPERTIES ('sortColumn'='value')")
    assert(JsonlStats.readTableMeta(dir).sortCol === Some("value"))
    spark.sql(s"ALTER TABLE $cat.props_spec SET TBLPROPERTIES ('gramColumn'='event_type')")
    assert(JsonlStats.readTableMeta(dir).gramCol === Some("event_type"))
    val badGram = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.props_spec SET TBLPROPERTIES ('gramColumn'='value')"))
    assert(badGram.getMessage.contains("string column"), badGram.getMessage)
    // UNSET clears the slot
    spark.sql(s"ALTER TABLE $cat.props_spec UNSET TBLPROPERTIES ('deleteMode')")
    assert(JsonlStats.readTableMeta(dir).deleteMode === None)
    // a typo must refuse, never become an inert bag entry
    val unk = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.props_spec SET TBLPROPERTIES ('deletMode'='merge-on-read')"))
    assert(unk.getMessage.contains("unknown table property"), unk.getMessage)
    // layout-contract properties refuse with the operation that can
    val lay = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.props_spec SET TBLPROPERTIES ('partitionColumn'='event_type')"))
    assert(lay.getMessage.contains("layout contract"), lay.getMessage)
    // bad deleteMode value refuses
    val badDm = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.props_spec SET TBLPROPERTIES ('deleteMode'='maybe')"))
    assert(badDm.getMessage.contains("copy-on-write | merge-on-read"), badDm.getMessage)
  }

  test("path reads resolve statsColumn/partitionColumn from the stored sidecar (r12)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("meta_fallback").toString
    graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"event_type", $"value")
      .repartitionByRange(4, $"ts").sortWithinPartitions($"ts")
      .write.format("graft-jsonl-stats").option("path", dir)
      .option("statsColumn", "event_id").option("partitionColumn", "days(ts)")
      .mode("overwrite").save()
    // a PLAIN read — no options — must prune a day window through the
    // stored days(ts) property (pre-r12 it required re-passing the
    // option, making layout pruning caller discipline)
    val t = spark.read.format("graft-jsonl-stats").option("path", dir).load()
    val probe = t.filter($"ts" >= lit(java.sql.Timestamp.valueOf("2024-01-12 00:00:00")) &&
      $"ts" < lit(java.sql.Timestamp.valueOf("2024-01-13 00:00:00")))
    val rows = probe.count()
    assert(rows > 0, "fixture must cover the probed day")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    probe.collect()
    val planned = nodes(probe.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b }
      .head.scan.asInstanceOf[graft.sources.JsonlStatsScan]
      .toBatch.planInputPartitions().length
    val total = JsonlStats.readStats(dir).size
    assert(planned < total,
      s"a one-day window must prune the daily layout without a read-side option " +
        s"($planned of $total)")
  }

  test("q203: CHECK constraints — violating writes fail before the commit; DDL round-trips (r7c)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ck_spec")
    spark.sql(
      s"""CREATE TABLE $cat.ck_spec AS
         |SELECT event_id, user_id, event_type, value
         |FROM $cat.jsonl_stats_table WHERE value >= 0""".stripMargin)
    val n0 = spark.table(s"$cat.ck_spec").count()
    spark.sql(s"ALTER TABLE $cat.ck_spec ADD CONSTRAINT positive_value CHECK (value >= 0)")
    // reported through the DSv2 constraints API
    val dir = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "ck_spec").toString
    assert(JsonlStats.readTableMeta(dir).constraints === Seq("positive_value" -> "value >= 0"))
    // valid insert passes and lands
    spark.sql(s"INSERT INTO $cat.ck_spec VALUES (900001, 1, 'manual', 5.0)")
    assert(spark.table(s"$cat.ck_spec").count() === n0 + 1)
    // violating insert fails BEFORE the commit: exception raised, and
    // the atomic-manifest contract keeps the table byte-identical
    val manifestBefore = Files.readString(Paths.get(dir, "_stats.jsonl"))
    val ex = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.ck_spec VALUES (900002, 1, 'manual', -7.0)")
    }
    assert(ex.toString.toLowerCase.contains("check") ||
      ex.toString.toLowerCase.contains("constraint") ||
      ex.toString.toLowerCase.contains("violat"), s"unexpected error: $ex")
    assert(Files.readString(Paths.get(dir, "_stats.jsonl")) === manifestBefore,
      "failed write must leave the manifest untouched")
    assert(spark.table(s"$cat.ck_spec").count() === n0 + 1)
    // ALTER ADD validates EXISTING rows: a constraint current data
    // violates is refused (Spark's validation scan)
    val bad = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ck_spec ADD CONSTRAINT impossible CHECK (value > 1e12)")
    }
    assert(JsonlStats.readTableMeta(dir).constraints.map(_._1) === Seq("positive_value"),
      s"refused constraint must not persist (error was $bad)")
    // DROP re-admits the violating row
    spark.sql(s"ALTER TABLE $cat.ck_spec DROP CONSTRAINT positive_value")
    spark.sql(s"INSERT INTO $cat.ck_spec VALUES (900002, 1, 'manual', -7.0)")
    assert(spark.table(s"$cat.ck_spec").count() === n0 + 2)
    spark.sql(s"DROP TABLE $cat.ck_spec")
  }

  test("q204: RENAME COLUMN is metadata-only column mapping; old and new files coexist (r7c)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ren_spec")
    spark.sql(
      s"""CREATE TABLE $cat.ren_spec AS
         |SELECT event_id, user_id, event_type, value
         |FROM $cat.jsonl_stats_table""".stripMargin)
    val dir = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "ren_spec").toString
    val bytesBefore = JsonlStats.readStats(dir)
      .map(s => s.file -> Files.size(Paths.get(dir, s.file))).toMap
    val expect = spark.table(s"$cat.ren_spec")
      .select($"event_id", $"user_id".as("uid"), $"event_type", $"value").collect().toSeq
    spark.sql(s"ALTER TABLE $cat.ren_spec RENAME COLUMN user_id TO uid")
    // metadata-only: no data file touched, mapping recorded
    val statsAfter = JsonlStats.readStats(dir)
    assert(statsAfter.map(s => s.file -> Files.size(Paths.get(dir, s.file))).toMap === bytesBefore)
    assert(JsonlStats.readTableMeta(dir).columnMapping === Map("uid" -> "user_id"))
    // reads translate: renamed column serves the original bytes
    val back = spark.table(s"$cat.ren_spec")
    assert(back.columns.toSeq === Seq("event_id", "uid", "event_type", "value"))
    assert(back.collect().toSet === expect.toSet)
    // MIN/MAX pushdown still answers from the manifest's PHYSICAL keys:
    // a bare copy with no data files serves aggregates over `uid`
    val bare = Files.createTempDirectory("jsonl_ren_bare").toString
    Files.copy(Paths.get(dir, "_stats.jsonl"), Paths.get(bare, "_stats.jsonl"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(dir, "_table.json"), Paths.get(bare, "_table.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val meta = JsonlStats.readTableMeta(dir)
    val agg = spark.read.format("graft-jsonl-stats")
      .schema(meta.schema.get).option("path", bare).load()
      .agg(count(lit(1)), min($"uid"), max($"uid")).head()
    val expAgg = spark.table(s"$cat.ren_spec")
      .agg(count(lit(1)), min($"uid"), max($"uid")).head()
    assert(agg === expAgg, "renamed column must keep manifest-only MIN/MAX pushdown")
    // writes map back: an INSERT through the new schema lands under the
    // PHYSICAL field name, so old and new files read uniformly
    spark.sql(s"INSERT INTO $cat.ren_spec VALUES (987654301, 42, 'manual', 1.5)")
    val news = JsonlStats.readStats(dir).map(_.file).filterNot(bytesBefore.keySet)
    assert(news.size === 1)
    val line = Files.readString(Paths.get(dir, news.head))
    assert(line.contains("\"user_id\":42") && !line.contains("uid"),
      s"insert must write the physical field name: $line")
    assert(spark.table(s"$cat.ren_spec").filter($"uid" === 42).count() === 1)
    // refusals: the declared stats column and constraint-referenced
    // columns cannot be renamed
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ren_spec RENAME COLUMN value TO amount")
    }
    spark.sql(s"ALTER TABLE $cat.ren_spec ADD CONSTRAINT et_set CHECK (event_type IS NOT NULL)")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ren_spec RENAME COLUMN event_type TO etype")
    }
    spark.sql(s"DROP TABLE $cat.ren_spec")
  }

  test("renamed columns keep their physical JSON key reserved; streaming reads translate the mapping (r8)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ren_guard")
    spark.sql(
      s"""CREATE TABLE $cat.ren_guard AS
         |SELECT event_id, user_id, event_type, value
         |FROM $cat.jsonl_stats_table""".stripMargin)
    spark.sql(s"ALTER TABLE $cat.ren_guard RENAME COLUMN user_id TO uid")
    // mapping is uid -> user_id: the physical key `user_id` is still
    // owned by uid. An identity-mapped ADD COLUMN user_id would read
    // uid's bytes as its own and collide on write — refused.
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ren_guard ADD COLUMN user_id BIGINT")
    }
    assert(e1.getMessage.contains("physical"), s"wrong refusal: ${e1.getMessage}")
    // same reservation for RENAME's target name
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ren_guard RENAME COLUMN event_type TO user_id")
    }
    assert(e2.getMessage.contains("physical"), s"wrong refusal: ${e2.getMessage}")
    // renaming uid itself onward (or back) stays legal — uid owns the key
    spark.sql(s"ALTER TABLE $cat.ren_guard RENAME COLUMN uid TO uid2")
    assert(JsonlStats.readTableMeta(Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.root"), "ren_guard").toString)
      .columnMapping === Map("uid2" -> "user_id"))
    spark.sql(s"ALTER TABLE $cat.ren_guard RENAME COLUMN uid2 TO user_id")
    assert(spark.table(s"$cat.ren_guard").filter($"user_id".isNull).count() === 0)
    spark.sql(s"ALTER TABLE $cat.ren_guard RENAME COLUMN user_id TO uid")
    // streaming leg translates the mapping exactly as the batch leg:
    // a drain of the renamed table must surface uid's physical bytes,
    // not nulls
    val dir = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "ren_guard").toString
    val ckpt = Files.createTempDirectory("jsonl_ren_stream_ckpt").toString
    val seen = new java.util.concurrent.atomic.AtomicLong()
    val nulls = new java.util.concurrent.atomic.AtomicLong()
    val q = spark.readStream.format("graft-jsonl-stats").option("path", dir).load()
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
        seen.addAndGet(df.count())
        nulls.addAndGet(df.filter(df("uid").isNull).count()); ()
      })
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(seen.get() === spark.table(s"$cat.ren_guard").count())
    assert(nulls.get() === 0, "streaming read of a renamed table must translate the mapping")
    spark.sql(s"DROP TABLE $cat.ren_guard")
  }

  test("q219: merge-on-read UPDATE masks the old position and appends the image in one swap (r7c)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_dv_upd").toString
    val src = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    src.repartitionByRange(4, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val meta0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, meta0.statsCol.get, meta0.partitionCol,
      meta0.schema.get, meta0.bloomCol, deleteMode = Some("merge-on-read"))
    val cat = "graft_dvu_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    val before = JsonlStats.readStats(dir)
    val bytesBefore = before.map(s => s.file -> Files.size(Paths.get(dir, s.file))).toMap
    spark.sql(s"UPDATE $cat.`$table` SET value = -5.0 WHERE event_type = 'signup'")
    val after = JsonlStats.readStats(dir)
    // originals untouched byte-for-byte, masked via DVs; images appended
    before.foreach { s =>
      val a = after.find(_.file == s.file).get
      assert(Files.size(Paths.get(dir, s.file)) === bytesBefore(s.file),
        s"original ${s.file} was rewritten")
      assert(a.dels >= 0)
    }
    val appended = after.map(_.file).toSet -- before.map(_.file).toSet
    assert(appended.nonEmpty, "updated images must land in appended files")
    assert(after.map(_.dels).sum ===
      src.filter($"event_type" === "signup").count(),
      "every matched row's old position must be masked")
    // content = the updated derivation, exactly; row count conserved
    val back = spark.table(s"$cat.`$table`")
    val expect = src.withColumn("value",
      when($"event_type" === "signup", -5.0).otherwise($"value"))
    assert(back.count() === src.count())
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
    // rewrite_deletes collapses the DV history; content survives
    spark.sql(s"CALL $cat.rewrite_deletes('$table')").collect()
    val clean = JsonlStats.readStats(dir)
    assert(clean.forall(s => s.dvs.isEmpty && s.dels == 0))
    val back2 = spark.table(s"$cat.`$table`")
    assert(back2.exceptAll(expect).isEmpty && expect.exceptAll(back2).isEmpty)
  }

  test("q220: merge-on-read MERGE — update/delete/insert arms compose as DVs + appends (r7c)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_dv_mrg").toString
    val src = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    src.repartitionByRange(4, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val meta0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, meta0.statsCol.get, meta0.partitionCol,
      meta0.schema.get, meta0.bloomCol, deleteMode = Some("merge-on-read"))
    val cat = "graft_dvm_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    val bytesBefore = JsonlStats.readStats(dir)
      .map(s => s.file -> Files.size(Paths.get(dir, s.file))).toMap
    // a three-arm source: doubles purchases (matched-update), deletes
    // errors (matched-delete), inserts one synthetic row per type
    src.filter($"event_type".isin("purchase", "error"))
      .unionByName(src.select((-$"event_id").as("event_id"), $"user_id",
        $"event_type", $"value").groupBy($"event_type")
        .agg(min($"event_id").as("event_id"), lit(0L).as("user_id"), lit(9.5).as("value"))
        .select($"event_id", $"user_id", $"event_type", $"value"))
      .createOrReplaceTempView("dv_merge_src")
    spark.sql(
      s"""MERGE INTO $cat.`$table` t USING dv_merge_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED AND s.event_type = 'error' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET value = t.value * 2
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = JsonlStats.readStats(dir)
    // originals byte-identical; all three arms' effects visible
    bytesBefore.foreach { case (f, b) =>
      assert(Files.size(Paths.get(dir, f)) === b, s"original $f was rewritten")
    }
    val back = spark.table(s"$cat.`$table`")
    val expectBase = src.filter($"event_type" =!= "error")
      .withColumn("value",
        when($"event_type" === "purchase", $"value" * 2).otherwise($"value"))
    val inserted = back.filter($"event_id" < 0)
    assert(inserted.count() === src.select($"event_type").distinct().count(),
      "every not-matched source row must insert")
    val survivors = back.filter($"event_id" >= 0)
    assert(survivors.exceptAll(expectBase).isEmpty && expectBase.exceptAll(survivors).isEmpty,
      "matched arms must apply exactly")
    assert(after.map(_.dels).sum ===
      src.filter($"event_type".isin("purchase", "error")).count(),
      "each matched row (updated or deleted) masks its old position")
  }

  test("column mapping composes with merge-on-read DELETE: a renamed predicate drives DVs on physical bytes (r7c)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ren_mor")
    spark.sql(
      s"""CREATE TABLE $cat.ren_mor AS
         |SELECT event_id, user_id, event_type, value
         |FROM $cat.jsonl_stats_table""".stripMargin)
    val dir = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "ren_mor").toString
    val meta0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, meta0.statsCol.get, meta0.partitionCol,
      meta0.schema.get, meta0.bloomCol, deleteMode = Some("merge-on-read"))
    spark.sql(s"ALTER TABLE $cat.ren_mor RENAME COLUMN event_type TO etype")
    val src = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type".as("etype"), $"value")
    val bytesBefore = JsonlStats.readStats(dir)
      .map(s => s.file -> Files.size(Paths.get(dir, s.file))).toMap
    // DELETE names the LOGICAL column; the DV scan must resolve the
    // physical field and mask the right positions
    spark.sql(s"DELETE FROM $cat.ren_mor WHERE etype = 'click'")
    val after = JsonlStats.readStats(dir)
    assert(after.map(_.file).toSet === bytesBefore.keySet, "MoR delete must not rewrite files")
    assert(after.exists(_.dels > 0), "DVs must have been attached")
    val back = spark.table(s"$cat.ren_mor")
    val expect = src.filter($"etype" =!= "click")
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
    // rewrite_deletes re-derives stats by parsing data bytes, which
    // carry PHYSICAL names: rename a numeric column first and check the
    // fresh manifest keys its bounds under the physical name (the name
    // readers consult after logical→physical translation)
    spark.sql(s"ALTER TABLE $cat.ren_mor RENAME COLUMN user_id TO uid")
    spark.sql(s"CALL $cat.rewrite_deletes('ren_mor')").collect()
    val clean = JsonlStats.readStats(dir)
    assert(clean.forall(s => s.dvs.isEmpty && s.dels == 0))
    val rewritten = clean.filterNot(s => bytesBefore.keySet.contains(s.file))
    assert(rewritten.nonEmpty, "DV'd files must have been rewritten")
    rewritten.foreach { s =>
      assert(s.cols.contains("user_id") && !s.cols.contains("uid"),
        s"rewritten stats must key the physical name: ${s.cols.keySet}")
      assert(s.colNonNull.contains("user_id"),
        s"non-null counts must key the physical name: ${s.colNonNull.keySet}")
      // string bounds (r8) re-derive under physical names too: the
      // renamed etype column's bounds key event_type
      assert(s.strCols.contains("event_type") && !s.strCols.contains("etype"),
        s"string stats must key the physical name: ${s.strCols.keySet}")
    }
    // and those physically-keyed stats still serve the logical column:
    // COUNT/MIN/MAX over `uid` answers from the manifest, matching data
    val expAgg = expect.agg(min($"user_id"), max($"user_id")).head()
    val gotAgg = spark.table(s"$cat.ren_mor").agg(min($"uid"), max($"uid")).head()
    assert(gotAgg === expAgg)
    spark.sql(s"DROP TABLE $cat.ren_mor")
  }

  test("q223: COUNT(col) served from manifest non-null counts; legacy manifests and DVs decline (r7c)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_cnt").toString
    graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type",
        when($"event_type" === "error", lit(null)).otherwise($"value").as("value"))
      .repartitionByRange(4, $"event_id")
      .write.format("graft-jsonl-stats").option("path", dir)
      .option("statsColumn", "event_id").mode("overwrite").save()
    val expected = spark.read.format("graft-jsonl-stats")
      .option("path", dir).option("statsColumn", "event_id").load()
      .agg(count(lit(1)), count($"value"), count($"user_id")).head()
    assert(expected.getLong(0) > expected.getLong(1),
      "fixture must have value nulls so count(*) != count(value)")
    // zero-IO proof: a bare copy with no data files answers the counts
    val bare = Files.createTempDirectory("jsonl_cnt_bare").toString
    Files.copy(Paths.get(dir, "_stats.jsonl"), Paths.get(bare, "_stats.jsonl"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    def bareDf = spark.read.format("graft-jsonl-stats")
      .option("path", bare).option("statsColumn", "event_id")
      .schema(JsonlStats.readTableMeta(dir).schema.get).load()
    assert(bareDf.agg(count(lit(1)), count($"value"), count($"user_id")).head() === expected)
    // legacy manifest (no colns) declines COUNT(col) -> row scan -> the
    // bare copy fails loudly instead of serving a wrong count
    val stripped = JsonlStats.readStats(bare)
      .map(s => JsonlStats.statsLine(s.copy(colNonNull = Map.empty)))
    Files.write(Paths.get(bare, "_stats.jsonl"),
      scala.jdk.CollectionConverters.SeqHasAsJava(stripped).asJava)
    intercept[Exception] { bareDf.agg(count($"value")).collect() }
    // count(*) alone still serves (n_rows never left the manifest)
    assert(bareDf.agg(count(lit(1))).head().getLong(0) === expected.getLong(0))
  }

  test("CALL detail reports manifest truth: versions, rows, DV debt, bytes (r7c)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_detail").toString
    val src = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    src.repartitionByRange(4, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val meta0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, meta0.statsCol.get, meta0.partitionCol,
      meta0.schema.get, meta0.bloomCol, deleteMode = Some("merge-on-read"))
    val cat = "graft_dt_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    val d0 = spark.sql(s"CALL $cat.detail('$table')").head()
    assert(d0.getInt(0) === 1 && d0.getInt(1) === 4)
    assert(d0.getLong(2) === src.count() && d0.getLong(3) === src.count())
    assert(d0.getInt(4) === 0 && d0.getLong(5) === 0L && d0.getLong(6) > 0L)
    assert(!d0.getBoolean(7) && d0.getString(8) === "value")
    // a MoR delete shows up as DV debt; live rows drop, physical stay
    spark.sql(s"DELETE FROM $cat.`$table` WHERE event_type = 'click'")
    val nClick = src.filter($"event_type" === "click").count()
    val d1 = spark.sql(s"CALL $cat.detail('$table')").head()
    assert(d1.getInt(0) === 2, "delete must bump the version")
    assert(d1.getLong(2) === src.count(), "physical rows unchanged under MoR")
    assert(d1.getLong(3) === src.count() - nClick, "live rows drop by the masked count")
    assert(d1.getInt(4) > 0 && d1.getLong(5) === nClick)
    // rewrite_deletes clears the debt
    spark.sql(s"CALL $cat.rewrite_deletes('$table')").collect()
    val d2 = spark.sql(s"CALL $cat.detail('$table')").head()
    assert(d2.getInt(4) === 0 && d2.getLong(5) === 0L)
    assert(d2.getLong(2) === d2.getLong(3) && d2.getLong(3) === src.count() - nClick)
    // splittability debt (r8): all files here are under the split
    // target, so stripping their checkpoints must NOT raise debt (the
    // size gate) — small files never needed splitting
    assert(d2.getInt(9) === 0)
    JsonlStats.publishManifest(dir, "age-test",
      JsonlStats.readStats(dir).map(s => JsonlStats.statsLine(s.copy(ckpts = Nil))).sorted)
    assert(spark.sql(s"CALL $cat.detail('$table')").head().getInt(9) === 0,
      "small files without checkpoints are not splittability debt")
  }

  test("CALL detail surfaces splittability debt for oversized pre-checkpoint files (r8)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_detail_ckpt").toString
    // one ~8 MB file (> DefaultSplitBytes = 4 MiB): fresh write carries ckpts
    spark.range(80000).select(
        $"id".as("event_id"), ($"id" % 97).as("user_id"),
        concat(lit("t"), lpad(($"id" % 7).cast("string"), 40, "x")).as("event_type"),
        (($"id" % 1000) / 10.0).as("value"))
      .coalesce(1)
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val cat = "graft_dc_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    assert(spark.sql(s"CALL $cat.detail('$table')").head().getInt(9) === 0,
      "a freshly-written oversized file carries checkpoints — no debt")
    // age the manifest to the pre-r8 shape: same file, no checkpoints
    JsonlStats.publishManifest(dir, "age-test",
      JsonlStats.readStats(dir).map(s => JsonlStats.statsLine(s.copy(ckpts = Nil))).sorted)
    assert(spark.sql(s"CALL $cat.detail('$table')").head().getInt(9) === 1,
      "an oversized file without checkpoints is splittability debt")
  }

  test("q175: catalog CTAS stages on the manifest commit point; DDL contract holds (r7)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ctas_spec")
    // CTAS round-trips content through stage → write commit → catalog read
    spark.sql(
      s"""CREATE TABLE $cat.ctas_spec AS
         |SELECT event_id, user_id, event_type, value
         |FROM $cat.jsonl_stats_table WHERE event_type = 'signup'""".stripMargin)
    val expect = graft.ingest.Tables.events(spark, sfDir)
      .filter($"event_type" === "signup")
      .select($"event_id", $"user_id", $"event_type", $"value")
    val got = spark.table(s"$cat.ctas_spec")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    // the staged write published a real manifest: bounds + counts exact
    val dir = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "ctas_spec")
    val stats = JsonlStats.readStats(dir.toString)
    assert(stats.nonEmpty && stats.map(_.rows).sum === expect.count())
    // re-creating without OR REPLACE is refused (table exists)
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ctas_spec AS SELECT * FROM $cat.jsonl_stats_table")
    }
    // OR REPLACE atomically swaps generations; the old files stay on
    // disk for the archived snapshot (deferred GC — VACUUM deletes)
    val gen1Files = stats.map(_.file).toSet
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.ctas_spec AS
         |SELECT event_id, user_id, event_type, value
         |FROM $cat.jsonl_stats_table WHERE event_type = 'error'""".stripMargin)
    val expect2 = graft.ingest.Tables.events(spark, sfDir)
      .filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"event_type", $"value")
    val got2 = spark.table(s"$cat.ctas_spec")
    assert(got2.exceptAll(expect2).isEmpty && expect2.exceptAll(got2).isEmpty)
    val after = JsonlStats.readStats(dir.toString).map(_.file).toSet
    assert(after.intersect(gen1Files).isEmpty, "replace kept old-generation files in the manifest")
    gen1Files.foreach(f => assert(Files.exists(dir.resolve(f)),
      s"old file $f was eagerly deleted — the pre-replace snapshot must stay readable"))
    // the pre-replace snapshot reads its full content through VERSION AS OF
    val gen1Rows = spark.sql(s"SELECT count(*) AS n FROM $cat.ctas_spec VERSION AS OF 1")
      .head().getLong(0)
    assert(gen1Rows === expect.count())
    // non-string and multi-column PARTITIONED BY stay refusals
    val partRefusal = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ctas_part_bad (a BIGINT, b STRING) PARTITIONED BY (a)")
    }
    assert(partRefusal.toString.contains("must be string") ||
      Option(partRefusal.getCause).exists(_.toString.contains("must be string")))
    // DROP TABLE removes manifest and directory
    spark.sql(s"DROP TABLE $cat.ctas_spec")
    assert(!Files.exists(dir))
    intercept[Exception] { spark.table(s"$cat.ctas_spec").collect() }
  }

  test("q177: PARTITIONED BY CTAS writes a real key-grouped layout (r7)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    val df = JsonlLayoutQueries.catalogCtasPartitioned(spark, sfDir)
    val got = df.collect()
    // the CTAS'd table's manifest: every file carries a pkey, one key
    // per file, and the sidecar names the partition column
    val dir = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"), "jsonl_ctas_by_type")
    val stats = JsonlStats.readStats(dir.toString)
    assert(stats.nonEmpty && stats.forall(_.pkey.isDefined),
      s"keyed CTAS must manifest pkeys: $stats")
    assert(JsonlStats.readTableMeta(dir.toString).partitionCol === Some("event_type"))
    // one file per key: the keyed writer rolls on key change after the
    // clustered+sorted distribution, so keys never straddle files
    val keysOnDisk = stats.flatMap(_.pkey)
    assert(keysOnDisk.distinct.sorted ===
      graft.ingest.Tables.events(spark, sfDir).select($"event_type").distinct()
        .collect().map(_.getString(0)).sorted.toSeq)
    // per-file single-key invariant, verified against the data itself
    stats.foreach { s =>
      val f = spark.read.schema(JsonlStats.schema).json(dir.resolve(s.file).toString)
      val types = f.select($"event_type").distinct().collect().map(_.getString(0)).toSeq
      assert(types === Seq(s.pkey.get), s"file ${s.file} mixes keys: $types")
    }
    // the join over the CTAS'd table ran exchange-free below the final
    // presentation sort (q169's plan assertion, now on DDL-created data)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plan = nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
    val shuffles = plan.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.forall(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      s"non-ORDER-BY shuffle under a keyed-CTAS SPJ:\n${df.queryExecution.executedPlan}")
    // and the result equals the parquet-side derivation
    val ev = graft.ingest.Tables.events(spark, sfDir)
    val ts = ev.groupBy($"event_type").agg(count(lit(1)).as("n_total"))
    val expect = ev.join(ts, Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), max($"n_total").as("n_total"),
        graft.util.Det.msum($"value").as("value_sum"))
      .orderBy($"event_type")
    assert(got.toSeq === expect.collect().toSeq)
  }

  test("q176: MIN/MAX pushdown serves a LONG stats column from the manifest (r7)") {
    import spark.implicits._
    val agg = JsonlLayoutQueries.manifestAggregateLong(spark, sfDir)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(agg.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan).collect { case b: BatchScanExec => b }
    assert(scans.size === 1)
    assert(scans.head.scan.isInstanceOf[JsonlManifestAggScan],
      "long min/max must substitute the manifest-agg scan")
    val expect = graft.ingest.Tables.events(spark, sfDir)
      .agg(count(lit(1)).as("n"),
        min($"user_id").as("min_user"), max($"user_id").as("max_user"))
    assert(agg.collect().toSeq === expect.collect().toSeq)
  }

  test("byte-range splits cover every line exactly once, at every boundary shape (r7)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_split").toString
    // fixed-width lines: ids 100..149 are all 3 digits, so every line is
    // the same byte length L and the file is n*(L+1) bytes — letting the
    // loop below place range boundaries exactly ON newlines, exactly at
    // line starts, and mid-line
    val n = 50
    val lineFor = (i: Int) => s"""{"event_id": ${100 + i}, "event_type": "x", "value": 1.0}"""
    val L = lineFor(0).getBytes("UTF-8").length
    Files.write(Paths.get(dir, "wide.jsonl"),
      (0 until n).map(lineFor).asJava)
    Files.write(Paths.get(dir, "_stats.jsonl"),
      java.util.Arrays.asList(
        s"""{"file":"wide.jsonl","min_value":1.0,"max_value":1.0,"n_rows":$n}"""))
    val fileSize = Files.size(Paths.get(dir, "wide.jsonl"))
    assert(fileSize === n.toLong * (L + 1))
    val expect = (0 until n).map(i => (100 + i).toLong)
    // splitBytes sweep: 1 (every boundary), mid-line cuts, a cut exactly
    // at each newline (L+1 divides the file), a cut exactly at line
    // starts, multi-line ranges, one range, and beyond-EOF
    for (sb <- Seq(1L, 7L, L.toLong, L + 1L, L + 2L, 5L * (L + 1), fileSize, fileSize + 100)) {
      val df = spark.read.format("graft-jsonl-stats")
        .option("path", dir).option("splitBytes", sb).load()
      val got = df.select($"event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === expect, s"splitBytes=$sb dropped or duplicated rows")
      val parts = new JsonlStatsScanBuilder(dir, JsonlStats.schema, splitBytes = sb)
        .build().toBatch.planInputPartitions().length
      if (sb < fileSize) assert(parts > 1, s"splitBytes=$sb should fan out, got $parts")
      else assert(parts === 1)
    }
    // _pos projection forces whole-file partitions: dense per-FILE row
    // position cannot be served by a range reader
    val sbPos = new JsonlStatsScanBuilder(dir, JsonlStats.schema, splitBytes = 7L)
    sbPos.pruneColumns(StructType(Seq(
      StructField(JsonlStats.PosMeta, LongType), StructField("event_id", LongType))))
    assert(sbPos.build().toBatch.planInputPartitions().length === 1)
    val withPos = spark.read.format("graft-jsonl-stats")
      .option("path", dir).option("splitBytes", 7L).load()
      .select($"_pos", $"event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(withPos === (0 until n).map(i => (i.toLong, (100 + i).toLong)),
      "_pos must stay the dense per-file row position under a tiny splitBytes")
    // and the real fixture reads identically under aggressive splitting
    val root = fixture
    val whole = spark.read.format("graft-jsonl-stats").option("path", root).load()
    val split = spark.read.format("graft-jsonl-stats").option("path", root)
      .option("splitBytes", 4096L).load()
    assert(split.count() === whole.count())
    assert(split.exceptAll(whole).isEmpty && whole.exceptAll(split).isEmpty)
  }

  test("scoped compaction: partition => compacts one pkey, the rest byte-untouched (r9c)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    spark.sql(s"DROP TABLE IF EXISTS $cat.compact_scoped")
    spark.sql(
      s"""CREATE TABLE $cat.compact_scoped PARTITIONED BY (event_type) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    spark.sql(s"INSERT INTO $cat.compact_scoped SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table")
    spark.sql(s"INSERT INTO $cat.compact_scoped SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table")
    val dir = root.resolve("compact_scoped").toString
    val before = JsonlStats.readStats(dir)
    val target = before.flatMap(_.pkey).distinct.sorted.head
    val othersBefore = before.filterNot(_.pkey.contains(target)).map(_.file).toSet
    assume(before.count(_.pkey.contains(target)) >= 2, "need a fragmented partition")
    val rows = spark.table(s"$cat.compact_scoped").count()
    spark.sql(s"CALL $cat.compact('compact_scoped', ${8L << 20}, partition => '$target')")
    val after = JsonlStats.readStats(dir)
    assert(after.count(_.pkey.contains(target)) < before.count(_.pkey.contains(target)),
      "the scoped partition must compact")
    assert(after.filterNot(_.pkey.contains(target)).map(_.file).toSet === othersBefore,
      "files outside the scope must keep their names (never entered a bin)")
    assert(spark.table(s"$cat.compact_scoped").count() === rows)
    // an unknown partition refuses loudly, never silently no-ops
    val bad = intercept[Exception](
      spark.sql(s"CALL $cat.compact('compact_scoped', ${8L << 20}, partition => 'nope')"))
    assert(bad.getMessage.contains("no live file carries that pkey"), bad.getMessage)
    spark.sql(s"DROP TABLE $cat.compact_scoped")
  }

  test("q178: CALL compact bin-packs files, keeps bounds exact and keys separate (r7)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    // unkeyed: a fragmented copy of the feed
    spark.sql(s"DROP TABLE IF EXISTS $cat.compact_spec")
    spark.sql(
      s"""CREATE TABLE $cat.compact_spec AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    val dir = root.resolve("compact_spec")
    // fragment it further: three appends = more small files
    spark.sql(s"INSERT INTO $cat.compact_spec SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table")
    spark.sql(s"INSERT INTO $cat.compact_spec SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table")
    val before = JsonlStats.readStats(dir.toString)
    val expectRows = before.map(_.rows).sum
    val res = spark.sql(s"CALL $cat.compact('compact_spec', ${8L << 20})").collect()
    assert(res.length === 1)
    val (fb, fa, fm) = (res(0).getInt(0), res(0).getInt(1), res(0).getInt(2))
    assert(fb === before.size && fa < fb && fm >= 2,
      s"compaction should shrink the file count: $fb -> $fa ($fm merged)")
    val after = JsonlStats.readStats(dir.toString)
    assert(after.size === fa)
    // content survives byte-identically at row granularity
    assert(after.map(_.rows).sum === expectRows)
    val back = spark.table(s"$cat.compact_spec")
    val expect = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    assert(back.count() === 3L * expect.count())
    assert(back.distinct().exceptAll(expect.distinct()).isEmpty)
    // manifest entries of merged files are EXACT: bounds and counts
    // re-derived from the compacted data files themselves
    after.filter(_.file.startsWith("part-compact-")).foreach { s =>
      val f = spark.read.schema(JsonlStats.schema).json(dir.resolve(s.file).toString)
      val r = f.agg(min($"value"), max($"value"), count(lit(1))).head
      assert(r.getDouble(0) === s.min && r.getDouble(1) === s.max && r.getLong(2) === s.rows,
        s"merged manifest entry drifted for ${s.file}")
    }
    // members stay on disk for the pre-compaction snapshot (deferred
    // GC); VACUUM with retention 1 is the deletion point, after which
    // directory and manifest agree with no orphans
    spark.sql(s"CALL $cat.vacuum('compact_spec', retain_last => 1, orphan_grace_ms => 0)")
    val listing = Files.list(dir)
    val onDisk = try listing.iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".jsonl")).toSet - "_stats.jsonl"
      finally listing.close()
    assert(onDisk === after.map(_.file).toSet)
    spark.sql(s"DROP TABLE $cat.compact_spec")

    // keyed: compaction bins never cross pkeys, so the SPJ layout holds
    JsonlFixtures.ensureTypeKeyedFact(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS $cat.compact_keyed")
    spark.sql(
      s"""CREATE TABLE $cat.compact_keyed PARTITIONED BY (event_type) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_by_type""".stripMargin)
    spark.sql(s"INSERT INTO $cat.compact_keyed SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_by_type")
    val kd = root.resolve("compact_keyed")
    val kBefore = JsonlStats.readStats(kd.toString)
    assert(kBefore.forall(_.pkey.isDefined))
    spark.sql(s"CALL $cat.compact('compact_keyed', ${8L << 20})")
    val kAfter = JsonlStats.readStats(kd.toString)
    assert(kAfter.size < kBefore.size)
    assert(kAfter.forall(_.pkey.isDefined), "compaction stripped pkeys")
    kAfter.filter(_.file.startsWith("part-compact-")).foreach { s =>
      val types = spark.read.schema(JsonlStats.schema).json(kd.resolve(s.file).toString)
        .select($"event_type").distinct().collect().map(_.getString(0)).toSeq
      assert(types === Seq(s.pkey.get), s"compacted file ${s.file} mixes keys: $types")
    }
    spark.sql(s"DROP TABLE $cat.compact_keyed")
  }

  test("ALTER TABLE ADD COLUMN is sound metadata-only evolution (r7)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP TABLE IF EXISTS $cat.evolve_spec")
    spark.sql(
      s"""CREATE TABLE $cat.evolve_spec AS
         |SELECT event_id, user_id, event_type, value
         |FROM $cat.jsonl_stats_table WHERE event_type = 'purchase'""".stripMargin)
    val nOld = spark.table(s"$cat.evolve_spec").count()
    spark.sql(s"ALTER TABLE $cat.evolve_spec ADD COLUMN note STRING")
    // pre-evolution rows read null in the new column; no data file moved
    val evolved = spark.table(s"$cat.evolve_spec")
    assert(evolved.schema.fieldNames.toSeq ===
      Seq("event_id", "user_id", "event_type", "value", "note"))
    assert(evolved.filter($"note".isNotNull).count() === 0)
    // post-evolution appends carry the column; old rows stay null
    spark.sql(
      s"""INSERT INTO $cat.evolve_spec
         |SELECT event_id, user_id, event_type, value, 'flagged' AS note
         |FROM $cat.jsonl_stats_table WHERE event_type = 'error'""".stripMargin)
    val mixed = spark.table(s"$cat.evolve_spec")
    assert(mixed.filter($"note" === "flagged").count() ===
      graft.ingest.Tables.events(spark, sfDir).filter($"event_type" === "error").count())
    assert(mixed.filter($"note".isNull).count() === nOld)
    // DROP is sidecar-only since r8 (its dedicated spec covers the
    // reservation laws); retype stays a refusal — it reinterprets
    // existing bytes
    spark.sql(s"ALTER TABLE $cat.evolve_spec DROP COLUMN note")
    assert(!spark.table(s"$cat.evolve_spec").columns.contains("note"))
    val refusal = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.evolve_spec ALTER COLUMN value TYPE STRING")
    }
    assert(refusal.toString.contains("REPLACE TABLE") ||
      Option(refusal.getCause).exists(_.toString.contains("REPLACE TABLE")))
    spark.sql(s"DROP TABLE $cat.evolve_spec")
  }

  test("q179: VERSION/TIMESTAMP AS OF resolve archived generations; GC fails loudly (r7)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    // drives the fixture build (2 publishes) and pins generation-1 reads
    val gen1 = JsonlVersionQueries.timeTravel(spark, sfDir).collect()
    val ev = graft.ingest.Tables.events(spark, sfDir)
    val expect1 = ev.filter($"event_type" =!= "click")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        graft.util.Det.msum($"value").as("value_sum"))
      .orderBy($"event_type")
    assert(gen1.toSeq === expect1.collect().toSeq)
    // the live table (version 2) sees the appended click generation
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    val dir = root.resolve("jsonl_versioned")
    assert(JsonlStats.currentVersion(dir.toString) === 2)
    val asOf2 = spark.sql(s"SELECT count(*) AS n FROM $cat.jsonl_versioned VERSION AS OF 2")
      .head().getLong(0)
    assert(asOf2 === ev.count())
    assert(spark.table(s"$cat.jsonl_versioned").count() === asOf2)
    // a version that never existed is an error
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.jsonl_versioned VERSION AS OF 7").collect()
    }
    // TIMESTAMP AS OF: an instant strictly before v1's supersede mtime
    // resolves generation 1; a far-future instant resolves the live one
    val supersede = Files.getLastModifiedTime(
      dir.resolve(s"${JsonlStats.HistoryDir}/v1.jsonl")).toMillis
    def tsLit(ms: Long): String = java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val before = spark.sql(
      s"""SELECT count(*) AS n FROM $cat.jsonl_versioned
         |TIMESTAMP AS OF '${tsLit(supersede - 1)}'""".stripMargin).head().getLong(0)
    assert(before === expect1.collect().map(_.getLong(1)).sum)
    val after = spark.sql(
      s"""SELECT count(*) AS n FROM $cat.jsonl_versioned
         |TIMESTAMP AS OF '${tsLit(supersede + 3600 * 1000L)}'""".stripMargin).head().getLong(0)
    assert(after === asOf2)
    // deferred GC across REPLACE: the superseded generation's files
    // stay on disk, so VERSION AS OF 1 reads the PRE-replace content;
    // VACUUM expires it, after which BOTH time-travel paths fail
    // loudly (version → "vacuumed", timestamp → horizon guard)
    spark.sql(s"DROP TABLE IF EXISTS $cat.tt_gc")
    spark.sql(s"CREATE TABLE $cat.tt_gc AS SELECT * FROM $cat.jsonl_versioned")
    val fullCount = spark.table(s"$cat.tt_gc").count()
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.tt_gc AS
         |SELECT event_id, user_id, event_type, value
         |FROM $cat.jsonl_versioned WHERE event_type = 'error'""".stripMargin)
    val gcDir = root.resolve("tt_gc")
    val preReplaceSupersede = Files.getLastModifiedTime(
      gcDir.resolve(s"${JsonlStats.HistoryDir}/v1.jsonl")).toMillis
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.tt_gc VERSION AS OF 1")
      .head().getLong(0) === fullCount,
      "pre-replace snapshot must stay readable until VACUUM")
    val vac = spark.sql(
      s"CALL $cat.vacuum('tt_gc', retain_last => 1, orphan_grace_ms => 0)").head()
    assert(vac.getInt(0) === 1 && vac.getInt(1) >= 1,
      s"vacuum must expire generation 1 and delete its files, got $vac")
    val vErr = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.tt_gc VERSION AS OF 1").collect()
    }
    assert(vErr.toString.contains("vacuum"), s"expected a vacuum error, got $vErr")
    val tErr = intercept[Exception] {
      spark.sql(
        s"""SELECT * FROM $cat.tt_gc
           |TIMESTAMP AS OF '${tsLit(preReplaceSupersede - 1)}'""".stripMargin).collect()
    }
    assert(tErr.toString.contains("horizon"), s"expected a horizon error, got $tErr")
    // version numbering survives the expiry: the live generation keeps
    // its number (2), never renumbers to 1
    assert(JsonlStats.currentVersion(gcDir.toString) === 2)
    spark.sql(s"DROP TABLE $cat.tt_gc")
  }

  test("<t>.history lists generations with supersede instants (r7)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    JsonlVersionQueries.timeTravel(spark, sfDir).collect() // 2-generation fixture
    val h = spark.sql(s"SELECT version, superseded_ms, rows FROM $cat.jsonl_versioned.history")
      .orderBy($"version").collect()
    assert(h.length >= 2)
    assert(h.map(_.getInt(0)).toSeq === (1 to h.length))
    // archived generations carry their supersede instant; the live one
    // is open-ended (null) — the same convention TIMESTAMP AS OF uses
    assert(h.dropRight(1).forall(!_.isNullAt(1)))
    assert(h.last.isNullAt(1))
    // generation row counts: v1 = the non-click feed, live = the full
    val ev = graft.ingest.Tables.events(spark, sfDir)
    assert(h.head.getLong(2) === ev.filter($"event_type" =!= "click").count())
    assert(h.last.getLong(2) === ev.count())
  }

  test("q180: CALL vacuum — retention arithmetic, shared-file safety, orphan grace (r7)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    spark.sql(s"DROP TABLE IF EXISTS $cat.vac_spec")
    // append-only history: every generation's files are still
    // referenced by the LIVE manifest, so expiry must delete ZERO data
    // files — a shared file outlives every expired snapshot that
    // referenced it (the reference-counting half of the GC contract)
    spark.sql(
      s"""CREATE TABLE $cat.vac_spec AS
         |SELECT event_id, user_id, event_type, value
         |FROM $cat.jsonl_stats_table WHERE event_type = 'click'""".stripMargin)
    spark.sql(s"INSERT INTO $cat.vac_spec SELECT event_id, user_id, event_type, value " +
      s"FROM $cat.jsonl_stats_table WHERE event_type = 'error'")
    spark.sql(s"INSERT INTO $cat.vac_spec SELECT event_id, user_id, event_type, value " +
      s"FROM $cat.jsonl_stats_table WHERE event_type = 'signup'")
    val dir = root.resolve("vac_spec")
    assert(JsonlStats.currentVersion(dir.toString) === 3)
    val liveBefore = spark.table(s"$cat.vac_spec").count()
    // an unreferenced crash orphan, protected by grace then swept
    Files.write(dir.resolve("orphan-crash-debris.jsonl"),
      java.util.Arrays.asList("""{"event_id": -1}"""))
    val guarded = spark.sql(
      s"CALL $cat.vacuum('vac_spec', retain_last => 2, orphan_grace_ms => ${7L * 24 * 3600 * 1000})").head()
    // v1 expired (retain live v3 + archive v2), zero data files deleted
    // (all still live-referenced), orphan survives inside its grace
    assert(guarded.getInt(0) === 1 && guarded.getInt(1) === 0, s"got $guarded")
    assert(guarded.getInt(2) === 0 && guarded.getInt(3) === 2)
    assert(Files.exists(dir.resolve("orphan-crash-debris.jsonl")),
      "grace window must protect young unreferenced files (in-flight writes look identical)")
    // grace 0: the orphan goes; nothing else is left to expire
    val swept = spark.sql(
      s"CALL $cat.vacuum('vac_spec', retain_last => 2, orphan_grace_ms => 0)").head()
    assert(swept.getInt(0) === 0 && swept.getInt(1) === 0 && swept.getInt(2) === 1, s"got $swept")
    assert(!Files.exists(dir.resolve("orphan-crash-debris.jsonl")))
    // the live table never noticed any of it
    assert(spark.table(s"$cat.vac_spec").count() === liveBefore)
    // retained snapshot (v2) still reads; expired (v1) names its fate
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.vac_spec VERSION AS OF 2")
      .head().getLong(0) > 0)
    val vErr = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.vac_spec VERSION AS OF 1").collect()
    }
    assert(vErr.toString.contains("vacuum"), s"expected a vacuum error, got $vErr")
    // the history metadata table skips the vacuumed generation instead of crashing
    val h = spark.sql(s"SELECT version FROM $cat.vac_spec.history").orderBy($"version").collect()
    assert(h.map(_.getInt(0)).toSeq === Seq(2, 3))
    spark.sql(s"DROP TABLE $cat.vac_spec")
  }

  test("q181: change feed scans only changed files and cancels copy-on-write noise (r7)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_cdf").toString
    val src = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    src.repartitionByRange(4, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val cat = "graft_cdf_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    val v1 = JsonlStats.readStats(dir)
    // delete a value range confined to the low files: only those are
    // touched, so the diff manifests must exclude the untouched files
    val cut = v1.map(_.max).min
    spark.sql(s"DELETE FROM $cat.`$table` WHERE value <= $cut")
    val changes = graft.sources.ChangeFeed.tableChanges(
      spark, dir, 1, JsonlStats.currentVersion(dir), Seq("event_id"))
    // exact delta: deletes only, exactly the rows under the cut —
    // every re-emitted untouched row of the rewritten files cancelled
    assert(changes.filter($"change_type" =!= "delete").isEmpty)
    val expect = src.filter($"value" <= cut).select($"event_id")
    val got = changes.select($"event_id")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    // proportionality: the derived diff manifests list strictly fewer
    // files than the table — untouched files never enter the row join
    val untouched = v1.count(_.min > cut)
    assert(untouched >= 1, "fixture must leave untouched files")
    val removedEntries = JsonlStats.readStats(dir,
      s"_cdf/v1_v${JsonlStats.currentVersion(dir)}_removed.jsonl")
    assert(removedEntries.size === v1.size - untouched,
      s"diff scanned ${removedEntries.size} files, expected ${v1.size - untouched}")
    // an insert-only generation: appended rows surface as inserts
    src.filter($"event_type" === "signup").limit(5)
      .select(($"event_id" + 10000000L).as("event_id"), $"user_id", $"event_type", $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("append").save()
    val v3 = JsonlStats.currentVersion(dir)
    val appended = graft.sources.ChangeFeed.tableChanges(spark, dir, v3 - 1, v3, Seq("event_id"))
    assert(appended.count() === 5 &&
      appended.filter($"change_type" =!= "insert").isEmpty)
    // a vacuumed base version names its fate
    spark.sql(s"CALL $cat.vacuum('$table', retain_last => 1, orphan_grace_ms => 0)")
    val err = intercept[Exception] {
      graft.sources.ChangeFeed.tableChanges(spark, dir, 1, v3, Seq("event_id"))
    }
    assert(err.toString.contains("vacuum"), s"expected a vacuum error, got $err")
  }

  test("q182: replaceWhere drops whole partitions by metadata; straddlers refuse (r7)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    JsonlFixtures.ensureTypeKeyedFact(spark, sfDir)
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    spark.sql(s"DROP TABLE IF EXISTS $cat.rw_spec")
    spark.sql(
      s"""CREATE TABLE $cat.rw_spec PARTITIONED BY (event_type) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_by_type""".stripMargin)
    val dir = root.resolve("rw_spec")
    val before = JsonlStats.readStats(dir.toString)
    val otherFiles = before.filter(_.pkey.exists(_ != "purchase")).map(_.file).toSet
    assert(otherFiles.nonEmpty && before.exists(_.pkey.contains("purchase")))
    val ev = graft.ingest.Tables.events(spark, sfDir)
    ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"event_type", ($"value" * 2).as("value"))
      .createOrReplaceTempView("rw_recompute")
    spark.sql(
      s"""INSERT INTO $cat.rw_spec REPLACE WHERE event_type = 'purchase'
         |SELECT event_id, user_id, event_type, value FROM rw_recompute""".stripMargin)
    val after = JsonlStats.readStats(dir.toString)
    // unaffected partitions keep their very files — the replace was
    // metadata-only outside the named partition
    assert(otherFiles.subsetOf(after.map(_.file).toSet),
      "replaceWhere rewrote files outside the replaced partition")
    assert(after.map(_.file).toSet.intersect(
      before.filter(_.pkey.contains("purchase")).map(_.file).toSet).isEmpty,
      "replaceWhere kept the replaced partition's old files in the manifest")
    // the replacement is re-keyed: every new file carries the pkey
    assert(after.forall(_.pkey.isDefined), "replaceWhere broke the keyed layout")
    // content: base with the purchase partition recomputed
    val expect = ev.filter($"event_type" =!= "purchase")
      .select($"event_id", $"user_id", $"event_type", $"value")
      .union(spark.table("rw_recompute"))
    val got = spark.table(s"$cat.rw_spec").select($"event_id", $"user_id", $"event_type", $"value")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    // a predicate no file-level metadata can prove either way refuses
    // loudly instead of silently losing or duplicating rows
    val err = intercept[Exception] {
      spark.sql(
        s"""INSERT INTO $cat.rw_spec REPLACE WHERE value < 123.456
           |SELECT event_id, user_id, event_type, value FROM rw_recompute""".stripMargin)
    }
    assert(err.toString.contains("straddles") ||
      Option(err.getCause).exists(_.toString.contains("straddles")),
      s"expected a straddle refusal, got $err")
    // the refused write left the table untouched (commit never ran)
    assert(spark.table(s"$cat.rw_spec").count() === expect.count())
    spark.sql(s"DROP TABLE $cat.rw_spec")
  }

  test("q184: bloom sidecars have no false negatives and tasks skip definite misses (r7)") {
    import spark.implicits._
    // the primitive: every inserted key probes true; absent keys rarely do
    val keys = (0L until 10000L).map(k => Bloom.hashLong(k * 7919L)).toArray
    val (words, mBits) = Bloom.build(keys)
    assert(keys.forall(Bloom.mightContain(words, mBits, _)), "bloom false negative")
    val falsePos = (0L until 10000L)
      .map(k => Bloom.hashLong(k * 7919L + 3L))
      .count(Bloom.mightContain(words, mBits, _))
    assert(falsePos < 200, s"FPP too high: $falsePos/10000 (sized for ~0.3%)")
    // the connector path: value-ranged fixture with user_id blooms
    val dir = JsonlFixtures.ensureBloomFixture(spark, sfDir)
    val stats = JsonlStats.readStats(dir)
    stats.foreach { s =>
      assert(Files.exists(Bloom.sidecarOf(java.nio.file.Paths.get(dir, s.file))),
        s"missing bloom sidecar for ${s.file}")
    }
    def table = spark.read.format("graft-jsonl-stats")
      .option("path", dir).option("bloomColumn", "user_id").load()
    val ev = graft.ingest.Tables.events(spark, sfDir)
    val maxUid = ev.agg(max($"user_id")).head().getLong(0)
    // present key: exact content (no false negatives end to end)
    val got = table.filter($"user_id" === maxUid).select($"event_id")
    val expect = ev.filter($"user_id" === maxUid).select($"event_id")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    // absent key OUTSIDE the global id span: since r7b the per-column
    // stats already prove every file irrelevant at PLANNING time — zero
    // tasks, the blooms never even probe (the cheaper layer wins)
    val absurd = maxUid + 987654321L
    val planned = {
      val sb = new JsonlStatsScanBuilder(dir, JsonlStats.schema)
      sb.pushFilters(Array(EqualTo("user_id", Long.box(absurd))))
      sb.build().toBatch.planInputPartitions().length
    }
    assert(planned === 0,
      s"r7b per-column stats should prune an out-of-span probe at planning, kept $planned")
    // LEGACY posture (pre-r7b manifest with no per-column map — the
    // bloom tier's real habitat): same table, cols stripped from a
    // fixture copy. Planning now keeps every file (user_id bounds are
    // unknown; the value-ranged layout's own stats column can't help)
    // and the BLOOM sidecars do the skipping at task time — the counter
    // moves by ~every file (a rare false positive costs one redundant
    // parse, hence >= size - 1).
    val legacy = Files.createTempDirectory("jsonl_bloom_legacy")
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).foreach { p =>
        val dst = legacy.resolve(java.nio.file.Paths.get(dir).relativize(p).toString)
        Files.createDirectories(dst.getParent)
        Files.copy(p, dst)
      }
    Files.write(legacy.resolve("_stats.jsonl"),
      JsonlStats.readStats(legacy.toString)
        .map(s => JsonlStats.statsLine(s.copy(cols = Map.empty))).sorted.asJava)
    val legacyTable = spark.read.format("graft-jsonl-stats")
      .option("path", legacy.toString).option("bloomColumn", "user_id").load()
    val before = Bloom.skippedFiles.sum()
    assert(legacyTable.filter($"user_id" === absurd).isEmpty)
    val skipped = Bloom.skippedFiles.sum() - before
    assert(skipped >= stats.size - 1,
      s"expected ~${stats.size} bloom-skipped files, got $skipped")
  }

  test("q240/q241: hidden partitioning — derivations, pruning, mutation re-keys, refusals (r9)") {
    import spark.implicits._
    // derivation laws (writer and pruner share these definitions)
    assert(PartitionTransforms.truncLong(10, 17) === 10L)
    assert(PartitionTransforms.truncLong(10, -7) === -10L) // floor, negative-safe
    assert(PartitionTransforms.truncLong(10, -10) === -10L)
    assert(PartitionTransforms.truncString(4, "abc") === "abc")
    assert(PartitionTransforms.truncString(4, "purchase") === "purc")
    (0L to 500L).foreach { v =>
      val b = PartitionTransforms.bucketLong(8, v)
      assert(b >= 0 && b < 8 && b === PartitionTransforms.bucketLong(8, v))
    }
    // encoding round-trips; a bare name stays identity (pre-r9 tables)
    assert(PartitionTransforms.parse("bucket(8,user_id)")
      === PartitionTransforms.Bucket(8, "user_id"))
    assert(PartitionTransforms.parse("truncate(100,event_id)")
      === PartitionTransforms.Trunc(100L, "event_id"))
    assert(PartitionTransforms.parse("event_type")
      === PartitionTransforms.Identity("event_type"))

    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_hidden_bucket
         |PARTITIONED BY (bucket(8, user_id)) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    val bRoot = root.resolve("jsonl_hidden_bucket").toString
    val meta = JsonlStats.readTableMeta(bRoot)
    assert(meta.partitionCol.contains("bucket(8,user_id)"),
      s"the transform must ride in the partitionColumn, got ${meta.partitionCol}")
    val stats = JsonlStats.readStats(bRoot)
    val valid = (0 to 7).map(_.toString).toSet
    assert(stats.nonEmpty && stats.forall(_.pkey.exists(valid)),
      "every file must carry one derived bucket pkey")
    assert(stats.flatMap(_.pkey).distinct.size >= 4, "events should hit most buckets")
    // content is exact through the derived layout
    val viaHidden = spark.table(s"$cat.jsonl_hidden_bucket")
      .select($"event_id", $"user_id", $"event_type", $"value")
    val viaParquet = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    assert(viaHidden.exceptAll(viaParquet).isEmpty && viaParquet.exceptAll(viaHidden).isEmpty)
    // HIDDEN pruning isolated from the bounds tier: strip per-column
    // stats from a manifest copy (the legacy posture) — the derived
    // pkey alone must keep exactly the probed bucket's files
    val uid = viaParquet.agg(max($"user_id")).head().getLong(0)
    val wantPkey = PartitionTransforms.bucketLong(8, uid).toString
    val legacy = Files.createTempDirectory("hidden_legacy")
    Files.walk(Paths.get(bRoot)).iterator().asScala
      .filter(Files.isRegularFile(_)).foreach { p =>
        val dst = legacy.resolve(Paths.get(bRoot).relativize(p).toString)
        Files.createDirectories(dst.getParent)
        Files.copy(p, dst)
      }
    Files.write(legacy.resolve("_stats.jsonl"),
      JsonlStats.readStats(legacy.toString)
        .map(s => JsonlStats.statsLine(s.copy(cols = Map.empty, strCols = Map.empty,
          min = Double.MinValue, max = Double.MaxValue))).sorted.asJava)
    val sb = new JsonlStatsScanBuilder(legacy.toString, meta.schema.get,
      meta.statsCol.get, meta.partitionCol)
    sb.pushFilters(Array(EqualTo("user_id", Long.box(uid))))
    val planned = sb.build().toBatch.planInputPartitions().length
    val bucketFiles = stats.count(_.pkey.contains(wantPkey))
    assert(planned === bucketFiles && planned < stats.size,
      s"pkey pruning must keep exactly the probed bucket: planned=$planned " +
        s"bucketFiles=$bucketFiles total=${stats.size}")
    // mutation re-keys: COW DELETE routes survivors back through the
    // transform — every replacement file still carries one valid pkey
    spark.sql(s"DELETE FROM $cat.jsonl_hidden_bucket WHERE event_type = 'click'")
    val after = JsonlStats.readStats(bRoot)
    assert(after.forall(_.pkey.exists(valid)),
      "COW rewrite must re-derive bucket pkeys")
    assert(spark.table(s"$cat.jsonl_hidden_bucket")
      .filter($"event_type" === "click").isEmpty)
    assert(spark.table(s"$cat.jsonl_hidden_bucket").count()
      === viaParquet.filter($"event_type" =!= "click").count())

    // truncate(4, event_type): prefix-derived pkeys prune equality and
    // long-prefix predicates to the matching file set
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_hidden_trunc
         |PARTITIONED BY (truncate(4, event_type)) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    val tRoot = root.resolve("jsonl_hidden_trunc").toString
    val tStats = JsonlStats.readStats(tRoot)
    val prefixes = tStats.flatMap(_.pkey).distinct.toSet
    assert(prefixes === Set("clic", "erro", "purc", "sign", "view"))
    val tMeta = JsonlStats.readTableMeta(tRoot)
    def plannedT(f: org.apache.spark.sql.sources.Filter): Int = {
      val b = new JsonlStatsScanBuilder(tRoot, tMeta.schema.get,
        tMeta.statsCol.get, tMeta.partitionCol)
      b.pushFilters(Array(f))
      b.build().toBatch.planInputPartitions().length
    }
    val purcFiles = tStats.count(_.pkey.contains("purc"))
    assert(plannedT(EqualTo("event_type", "purchase")) === purcFiles)
    assert(plannedT(StringStartsWith("event_type", "purch")) === purcFiles)
    // a short prefix that several pkeys extend keeps them all (conservative)
    assert(plannedT(StringStartsWith("event_type", "p")) === purcFiles)

    // truncate-long via the path route: 100-aligned event_id boundaries
    // prune range predicates through the interval law, pkey-only
    val nRoot = Files.createTempDirectory("hidden_trunc_long").toString
    graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .write.format("graft-jsonl-stats").option("path", nRoot)
      .option("partitionColumn", "truncate(100,event_id)")
      .mode("overwrite").save()
    val nStats0 = JsonlStats.readStats(nRoot)
    assert(nStats0.forall(_.pkey.exists(p => p.toLong % 100 == 0)))
    Files.write(Paths.get(nRoot, "_stats.jsonl"),
      nStats0.map(s => JsonlStats.statsLine(s.copy(cols = Map.empty, strCols = Map.empty,
        min = Double.MinValue, max = Double.MaxValue))).sorted.asJava)
    val nStats = JsonlStats.readStats(nRoot)
    val loId = nStats.flatMap(_.pkey).map(_.toLong).min
    val b2 = new JsonlStatsScanBuilder(nRoot, JsonlStats.schema, "value",
      Some("truncate(100,event_id)"))
    b2.pushFilters(Array(
      GreaterThanOrEqual("event_id", Long.box(loId)),
      LessThan("event_id", Long.box(loId + 100L))))
    val keep = b2.build().toBatch.planInputPartitions().length
    assert(keep === nStats.count(_.pkey.contains(loId.toString)),
      "a W-aligned range must keep exactly its boundary's files")

    // refusal arms: double sources and unknown transforms stay loud
    val e1 = intercept[Exception] {
      spark.sql(
        s"""CREATE OR REPLACE TABLE $cat.jsonl_hidden_bad
           |PARTITIONED BY (bucket(8, value)) AS
           |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    }
    assert(e1.toString.contains("long or string") ||
      Option(e1.getCause).exists(_.toString.contains("long or string")))
    // renaming the hidden layout's SOURCE column is refused like every
    // declared layout column
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.jsonl_hidden_bucket RENAME COLUMN user_id TO uid")
    }
    assert(e2.toString.contains("layout") ||
      Option(e2.getCause).exists(_.toString.contains("layout")))
    spark.sql(s"DROP TABLE $cat.jsonl_hidden_bucket")
    spark.sql(s"DROP TABLE $cat.jsonl_hidden_trunc")
  }

  test("q242: bucket-transform SPJ — zero exchange under the join (r9)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = JsonlLayoutQueries.hiddenBucketSpj(spark, sfDir)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plan = nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
    val smjs = plan.collect { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(smjs.size === 1,
      s"the merge hint must yield a sort-merge join: ${df.queryExecution.executedPlan}")
    assert(smjs.head.collect { case sh: ShuffleExchangeLike => sh }.isEmpty,
      s"exchange under the bucket-SPJ join — bucket groups were not aligned: ${smjs.head}")
    // both sides are connector scans whose reported partitioning is the
    // bucket transform resolved through the catalog's V2 function
    val scans = plan.collect { case b: BatchScanExec => b }
    assert(scans.size === 2)
    scans.foreach { sc =>
      val kg = sc.scan.asInstanceOf[JsonlStatsScan].outputPartitioning()
      assert(kg.isInstanceOf[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
        "both SPJ sides must report key-grouped layouts")
    }
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    spark.sql(s"DROP TABLE $cat.jsonl_spj_fact")
    spark.sql(s"DROP TABLE $cat.jsonl_spj_dim")
  }

  test("q243: snapshot reads never transform-prune unstamped archived entries (r9)") {
    import spark.implicits._
    val root = Files.createTempDirectory("evolve_snapshot").toString
    graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .write.format("graft-jsonl-stats").option("path", root)
      .option("partitionColumn", "truncate(100,event_id)")
      .mode("overwrite").save()
    val stats = JsonlStats.readStats(root)
    assert(stats.size >= 2)
    val probe = stats.flatMap(_.pkey).map(_.toLong).min
    // archive a PRE-r9-shaped manifest: same pkeys, NO spec stamps, no
    // bounds — then pretend the table has since evolved to a DIFFERENT
    // transform (the time-travel-across-evolution hazard)
    Files.createDirectories(Paths.get(root, JsonlStats.HistoryDir))
    Files.write(Paths.get(root, JsonlStats.HistoryDir, "v1.jsonl"),
      stats.map(s => JsonlStats.statsLine(s.copy(pspec = None, cols = Map.empty,
        strCols = Map.empty, min = Double.MinValue, max = Double.MaxValue)))
        .sorted.asJava)
    def planned(manifest: String, spec: String): Int = {
      val b = new JsonlStatsScanBuilder(root, JsonlStats.schema, "value",
        Some(spec), manifest = manifest)
      b.pushFilters(Array(EqualTo("event_id", Long.box(probe))))
      b.build().toBatch.planInputPartitions().length
    }
    // the SNAPSHOT under the evolved spec: unstamped pkeys must not be
    // interpreted as bucket ids — nothing prunes, conservatism wins
    assert(planned(s"${JsonlStats.HistoryDir}/v1.jsonl", "bucket(8,event_id)")
      === stats.size,
      "an unstamped archived entry must never prune under the current spec")
    // the LIVE manifest (stamped by its writer) prunes under its OWN spec
    Files.write(Paths.get(root, "_stats.jsonl"),
      stats.map(s => JsonlStats.statsLine(s.copy(cols = Map.empty,
        strCols = Map.empty, min = Double.MinValue, max = Double.MaxValue)))
        .sorted.asJava)
    val live = planned("_stats.jsonl", "bucket(8,event_id)")
    assert(live === stats.count(_.pkey.contains(probe.toString)) && live < stats.size,
      "stamped entries keep pruning under their recorded spec")
  }

  test("grouped pushdown declines stale pkeys after evolution; gram index survives rename+rewrite (r9 review)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    // 1. a table whose files carry BUCKET pkeys, evolved to an IDENTITY
    // spec on event_type: grouped aggregate pushdown must decline (the
    // manifest would serve bucket digits as group values) and the scan
    // path must answer with the true event-type groups
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_stale_groups
         |PARTITIONED BY (bucket(8, user_id)) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    spark.sql(s"CALL $cat.evolve_partition_spec('jsonl_stale_groups', 'event_type')")
    val got = spark.sql(
      s"SELECT event_type, count(*) AS n FROM $cat.jsonl_stale_groups GROUP BY event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val expect = graft.ingest.Tables.events(spark, sfDir)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq === expect.toSeq,
      "groups must be event types, never a stale transform's bucket digits")
    spark.sql(s"DROP TABLE $cat.jsonl_stale_groups")

    // 2. gram index on a RENAMED column: the rewrite maintenance pass
    // must read the physical key, or rewritten files get empty (all-
    // skip) sidecars and LIKE queries silently lose rows
    spark.sql(s"DROP TABLE IF EXISTS $cat.gram_renamed")
    graft.ingest.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").createOrReplaceTempView("gram_ren_src")
    spark.sql(
      s"""CREATE TABLE $cat.gram_renamed AS
         |SELECT doc_id, CASE WHEN doc_id < 25 THEN concat(text, ' xqzgramneedle')
         |  ELSE text END AS text FROM gram_ren_src""".stripMargin)
    spark.sql(s"ALTER TABLE $cat.gram_renamed RENAME COLUMN text TO content")
    spark.sql(s"CALL $cat.build_gram_index('gram_renamed', 'content')")
    val gRoot = root.resolve("gram_renamed").toString
    val m0 = JsonlStats.readTableMeta(gRoot)
    JsonlStats.writeTableMeta(gRoot, m0.statsCol.getOrElse(JsonlStats.statsColumn),
      m0.partitionCol, m0.schema.get, m0.bloomCol, deleteMode = Some("merge-on-read"),
      columnMapping = m0.columnMapping, features = m0.features, gramCol = m0.gramCol)
    spark.sql(s"DELETE FROM $cat.gram_renamed WHERE doc_id >= 25 AND doc_id < 30")
    spark.sql(s"CALL $cat.rewrite_deletes('gram_renamed')").collect()
    val hits = spark.sql(
      s"SELECT doc_id FROM $cat.gram_renamed WHERE content LIKE '%xqzgramneedle%' ORDER BY doc_id")
      .collect().map(_.getLong(0))
    assert(hits.toSeq === (0L until 25L),
      s"rewritten files' gram sidecars must index the PHYSICAL key; got ${hits.length} hits")
    // the layout-column guard now covers the logical name too
    val err = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.gram_renamed RENAME COLUMN content TO body")
    }
    assert(err.toString.contains("layout") ||
      Option(err.getCause).exists(_.toString.contains("layout")))
    spark.sql(s"DROP TABLE $cat.gram_renamed")
  }

  test("q246: streaming epochs route through the bucket transform; stamps alone prune path reads (r9)") {
    import spark.implicits._
    val df = JsonlDmlQueries.streamingHiddenBucket(spark, sfDir)
    df.collect() // drives the drain + read
    val sink = graft.ingest.Landing.fixtureDir(sfDir, "jsonl_stream_bucket")
    val stats = JsonlStats.readStats(sink)
    val valid = (0 to 7).map(_.toString).toSet
    assert(stats.nonEmpty && stats.forall(_.pkey.exists(valid)),
      "every streamed file must carry one derived bucket pkey")
    assert(stats.forall(_.pspec.contains("bucket(8,user_id)")),
      "every streamed entry must be stamped with its spec")
    // the exactly-once content law: sink ≡ source through the transform
    val viaSink = spark.read.format("graft-jsonl-stats").option("path", sink).load()
      .select($"event_id", $"user_id", $"event_type", $"value")
    val viaSrc = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    assert(viaSink.exceptAll(viaSrc).isEmpty && viaSrc.exceptAll(viaSink).isEmpty)
    // STAMP-DRIVEN pruning: a path read with NO partitionColumn option
    // still keeps only the probed bucket's files (per-entry `ps` makes
    // the manifest self-describing); strip bounds so only stamps decide
    val legacy = Files.createTempDirectory("stream_bucket_stampprune")
    Files.copy(Paths.get(sink, "_stats.jsonl"), legacy.resolve("_stats.jsonl"))
    Files.write(legacy.resolve("_stats.jsonl"),
      JsonlStats.readStats(legacy.toString)
        .map(st => JsonlStats.statsLine(st.copy(cols = Map.empty, strCols = Map.empty,
          min = Double.MinValue, max = Double.MaxValue))).sorted.asJava)
    val uid = viaSrc.agg(max($"user_id")).head().getLong(0)
    val want = PartitionTransforms.bucketLong(8, uid).toString
    val sb = new JsonlStatsScanBuilder(legacy.toString, JsonlStats.schema)
    sb.pushFilters(Array(EqualTo("user_id", Long.box(uid))))
    val planned = sb.build().toBatch.planInputPartitions().length
    val stripped = JsonlStats.readStats(legacy.toString)
    assert(planned === stripped.count(_.pkey.contains(want)) && planned < stripped.size,
      s"stamps alone must prune the optionless path read: planned=$planned of ${stripped.size}")
  }

  test("q244: mismatched bucket counts join shuffle-free (reducible bucket function) (r9)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    val df = JsonlLayoutQueries.hiddenBucketReducedSpj(spark, sfDir)
    val got = df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plan = nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
    val smjs = plan.collect { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(smjs.size === 1,
      s"the merge hint must yield a sort-merge join: ${df.queryExecution.executedPlan}")
    assert(smjs.head.collect { case sh: ShuffleExchangeLike => sh }.isEmpty,
      s"exchange under the mismatched-bucket join — 16 did not reduce onto 8: ${smjs.head}")
    // correctness: the coalesced join equals the plain recompute
    val expect = graft.ingest.Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy($"event_type").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq
      === expect.map(r => (r.getString(0), r.getLong(1))).toSeq)

    spark.sql(s"DROP TABLE $cat.jsonl_rspj_fact")
    spark.sql(s"DROP TABLE $cat.jsonl_rspj_dim")
  }

  test("q245: history compaction — reverse deltas reconstruct exactly, shrink, survive vacuum (r9)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    // a fresh 12-commit history under this spec's own table name
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_histc")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_histc
         |(event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE)
         |USING jsonl""".stripMargin)
    (0 until 12).foreach { i =>
      spark.sql(
        s"""INSERT INTO $cat.jsonl_histc
           |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
           |WHERE event_id % 12 = $i""".stripMargin)
    }
    val hRoot = root.resolve("jsonl_histc").toString
    val versions = JsonlStats.historyVersions(hRoot)
    // capture every archived snapshot BEFORE compaction
    val beforeContent = versions.map(v =>
      v -> JsonlStats.readStats(hRoot, s"${JsonlStats.HistoryDir}/v$v.jsonl")
        .map(JsonlStats.statsLine).sorted).toMap
    val beforeMtimes = versions.map(v => v -> Files.getLastModifiedTime(
      Paths.get(hRoot, JsonlStats.HistoryDir, s"v$v.jsonl"))).toMap
    val beforeBytes = versions.map(v => Files.size(
      Paths.get(hRoot, JsonlStats.HistoryDir, s"v$v.jsonl"))).sum
    val res = spark.sql(
      s"CALL $cat.compact_history('jsonl_histc', keep_recent => 2, full_every => 4)").head()
    assert(res.getInt(0) > 0, "an append-only history must have delta candidates")
    // 1. exact reconstruction of EVERY archived snapshot
    versions.foreach { v =>
      val after = JsonlStats.readStats(hRoot, s"${JsonlStats.HistoryDir}/v$v.jsonl")
        .map(JsonlStats.statsLine).sorted
      assert(after === beforeContent(v), s"snapshot v$v changed under delta encoding")
    }
    // 2. the archive shrinks on append-only history
    val afterBytes = versions.map(v => Files.size(
      Paths.get(hRoot, JsonlStats.HistoryDir, s"v$v.jsonl"))).sum
    // with 12 versions, keep_recent=2 and fulls every 4, only ~7 of 12
    // snapshots are delta-eligible — the bound scales with full_every,
    // so assert the aggregate shrink plus a strong per-delta shrink
    assert(afterBytes * 10 < beforeBytes * 6,
      s"archive should shrink >=1.6x at these parameters, got $beforeBytes -> $afterBytes")
    // 3. full_every boundaries and the newest keep_recent slots stay raw
    def isDelta(v: Int): Boolean =
      Files.readAllLines(Paths.get(hRoot, JsonlStats.HistoryDir, s"v$v.jsonl"))
        .asScala.headOption.exists(_.startsWith("{\"delta_base\""))
    versions.filter(_ % 4 == 0).foreach(v => assert(!isDelta(v), s"v$v is a boundary full"))
    versions.takeRight(2).foreach(v => assert(!isDelta(v), s"v$v is an OCC lease slot"))
    assert(versions.exists(isDelta), "some snapshot must actually be a delta")
    versions.filter(isDelta).foreach { v =>
      val d = Files.size(Paths.get(hRoot, JsonlStats.HistoryDir, s"v$v.jsonl"))
      // an append-only delta carries ~one slice of entries against a
      // manifest that accretes all of them — each must shrink hard
      assert(d * 2 < beforeContent(v).map(_.length + 1L).sum,
        s"delta v$v did not shrink: $d bytes")
    }
    // 4. mtimes preserved — TIMESTAMP AS OF still indexes the history
    versions.foreach(v => assert(Files.getLastModifiedTime(
      Paths.get(hRoot, JsonlStats.HistoryDir, s"v$v.jsonl")) === beforeMtimes(v)))
    // 5. the read gate is stamped (an unaware reader would take a
    // delta's add-lines as the whole snapshot)
    assert(JsonlStats.readTableMeta(hRoot).features
      .contains(JsonlStats.FeatureHistoryDeltas))
    // 6. OCC still commits (lease slots untouched), and the commit's
    // archive is a fresh FULL snapshot
    spark.sql(
      s"""INSERT INTO $cat.jsonl_histc
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id = (SELECT min(event_id) FROM $cat.jsonl_stats_table)""".stripMargin)
    val newest = JsonlStats.historyVersions(hRoot).max
    assert(!isDelta(newest))
    // CALL detail counts the delta-encoded snapshots
    val detH = spark.sql(s"CALL $cat.detail('jsonl_histc')").head()
    assert(detH.getInt(13) === JsonlStats.historyVersions(hRoot).count(isDelta),
      "detail must report the delta-snapshot footprint")
    // 7. vacuum materializes the first retained archive before expiring
    // its delta bases; retained time travel keeps working, expired
    // fails loudly
    val preVacuum = JsonlStats.historyVersions(hRoot)
    spark.sql(s"CALL $cat.vacuum('jsonl_histc', retain_last => 5, orphan_grace_ms => ${7L*24*3600*1000})")
    val kept = JsonlStats.historyVersions(hRoot)
    assert(kept.size < preVacuum.size)
    val firstKept = kept.min
    assert(!isDelta(firstKept), "the first retained archive must be materialized full")
    val reread = JsonlStats.readStats(hRoot, s"${JsonlStats.HistoryDir}/v$firstKept.jsonl")
      .map(JsonlStats.statsLine).sorted
    assert(reread === beforeContent(firstKept),
      "materialization must reproduce the pre-compaction snapshot")
    spark.sql(s"DROP TABLE $cat.jsonl_histc")
  }

  test("q243: partition evolution — per-file specs, mixed-layout pruning, lazy migration (r9)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.jsonl_evolve_t
         |PARTITIONED BY (truncate(4, event_type)) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 0""".stripMargin)
    val eRoot = root.resolve("jsonl_evolve_t").toString
    val gen1 = JsonlStats.readStats(eRoot).map(_.file).toSet
    // r9 writers stamp `ps` at commit, so these entries are already
    // self-describing; simulate a PRE-r9 manifest (no stamps) to prove
    // the backfill arm of the evolution commit
    Files.write(Paths.get(eRoot, "_stats.jsonl"),
      JsonlStats.readStats(eRoot)
        .map(s => JsonlStats.statsLine(s.copy(pspec = None))).sorted.asJava)
    val vPreEvolve = JsonlStats.currentVersion(eRoot)
    val res = spark.sql(
      s"CALL $cat.evolve_partition_spec('jsonl_evolve_t', 'bucket(8,user_id)')").head()
    // the stamp commit is CHANGE-FEED-INVISIBLE: both CDF legs identify
    // files by name (+dvs) and the stamps touch only entry metadata —
    // a downstream consumer sees zero row changes across an evolution
    val vPostEvolve = JsonlStats.currentVersion(eRoot)
    assert(vPostEvolve > vPreEvolve, "the stamp commit must be a real version")
    assert(ChangeFeed.tableChanges(spark, eRoot, vPreEvolve, vPostEvolve,
      Seq("event_id")).isEmpty,
      "a metadata-only evolution commit must emit no CDF rows")
    assert(res.getString(0) === "truncate(4,event_type)")
    assert(res.getString(1) === "bucket(8,user_id)")
    assert(res.getInt(2) === gen1.size,
      "every unstamped gen-1 entry must be backfilled with the outgoing spec")
    // idempotence: a re-CALL (the crash-between-steps recovery) stamps 0
    val again = spark.sql(
      s"CALL $cat.evolve_partition_spec('jsonl_evolve_t', 'bucket(8,user_id)')").head()
    assert(again.getInt(2) === 0)
    spark.sql(
      s"""INSERT INTO $cat.jsonl_evolve_t
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table
         |WHERE event_id % 2 = 1""".stripMargin)
    val stats = JsonlStats.readStats(eRoot)
    val oldSpecEnc = "truncate(4,event_type)"
    val newSpecEnc = "bucket(8,user_id)"
    assert(stats.filter(s => gen1.contains(s.file)).forall(_.pspec.contains(oldSpecEnc)),
      "gen-1 files carry their original spec")
    val gen2 = stats.filterNot(s => gen1.contains(s.file))
    assert(gen2.nonEmpty && gen2.forall(_.pspec.contains(newSpecEnc)),
      "gen-2 files are stamped with the new spec by their own writers")
    assert(gen2.forall(_.pkey.exists(p => (0 to 7).map(_.toString).contains(p))),
      "gen-2 pkeys derive under the NEW transform")

    // mixed-layout pruning: each file prunes under ITS OWN spec
    val meta = JsonlStats.readTableMeta(eRoot)
    def planned(f: org.apache.spark.sql.sources.Filter): Int = {
      val b = new JsonlStatsScanBuilder(eRoot, meta.schema.get,
        meta.statsCol.get, meta.partitionCol)
      b.pushFilters(Array(f))
      b.build().toBatch.planInputPartitions().length
    }
    // strip the bounds tiers so ONLY pkey pruning decides (legacy posture)
    Files.write(Paths.get(eRoot, "_stats.jsonl"),
      stats.map(s => JsonlStats.statsLine(s.copy(cols = Map.empty, strCols = Map.empty,
        min = Double.MinValue, max = Double.MaxValue))).sorted.asJava)
    val stripped = JsonlStats.readStats(eRoot)
    val uid = graft.ingest.Tables.events(spark, sfDir)
      .agg(max($"user_id")).head().getLong(0)
    val uidBucket = PartitionTransforms.bucketLong(8, uid).toString
    // user_id point probe: gen-2 keeps 1 bucket; gen-1 (event_type
    // spec) cannot prune user_id — kept whole, conservative
    val keepUid = planned(EqualTo("user_id", Long.box(uid)))
    val expectUid = stripped.count(s =>
      s.pspec.contains(oldSpecEnc) || s.pkey.contains(uidBucket))
    assert(keepUid === expectUid, s"mixed pruning (user_id): $keepUid vs $expectUid")
    // event_type probe: gen-1 keeps only the 'purc' prefix; gen-2
    // (bucket-on-user_id spec) cannot prune event_type — kept whole
    val keepTyp = planned(EqualTo("event_type", "purchase"))
    val expectTyp = stripped.count(s =>
      s.pspec.contains(newSpecEnc) ||
        (s.pspec.contains(oldSpecEnc) && s.pkey.contains("purc")))
    assert(keepTyp === expectTyp, s"mixed pruning (event_type): $keepTyp vs $expectTyp")
    assert(keepUid < stripped.size && keepTyp < stripped.size,
      "both probes must actually prune something")
    // a mixed-layout table must not report key grouping
    val sb2 = new JsonlStatsScanBuilder(eRoot, meta.schema.get,
      meta.statsCol.get, meta.partitionCol)
    val part = sb2.build().asInstanceOf[JsonlStatsScan].outputPartitioning()
    assert(!part.isInstanceOf[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
      "mixed specs must decline KeyGroupedPartitioning")

    // CALL detail surfaces the mid-evolution state: the declared spec
    // plus spec_uniform = FALSE while gen-1 stragglers remain
    val det = spark.sql(s"CALL $cat.detail('jsonl_evolve_t')").head()
    assert(det.getString(10) === "bucket(8,user_id)")
    assert(!det.getBoolean(11), "a mixed-spec table must report spec_uniform = false")
    // lazy migration: a COW rewrite re-keys the files it touches under
    // the CURRENT spec; untouched files keep their old stamps
    spark.sql(s"DELETE FROM $cat.jsonl_evolve_t WHERE event_type = 'error'")
    val after = JsonlStats.readStats(eRoot)
    val touchedNew = after.filterNot(s => stats.exists(_.file == s.file))
    assert(touchedNew.nonEmpty && touchedNew.forall(_.pspec.contains(newSpecEnc)),
      "COW replacement files must carry the current spec")
    assert(spark.table(s"$cat.jsonl_evolve_t").filter($"event_type" === "error").isEmpty)
    val expected = graft.ingest.Tables.events(spark, sfDir)
      .filter($"event_type" =!= "error")
      .select($"event_id", $"user_id", $"event_type", $"value")
    val got = spark.table(s"$cat.jsonl_evolve_t")
      .select($"event_id", $"user_id", $"event_type", $"value")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // FULL migration re-enables key grouping: a whole-table COW UPDATE
    // routes every row back through the current transform, the manifest
    // becomes spec-uniform, and the scan reports KeyGroupedPartitioning
    // again — evolution is a temporary downgrade, not a permanent one
    spark.sql(s"UPDATE $cat.jsonl_evolve_t SET value = value")
    val uniformStats = JsonlStats.readStats(eRoot)
    assert(uniformStats.forall(_.pspec.contains(newSpecEnc)))
    val sbU = new JsonlStatsScanBuilder(eRoot, meta.schema.get,
      meta.statsCol.get, meta.partitionCol)
    assert(sbU.build().asInstanceOf[JsonlStatsScan].outputPartitioning()
      .isInstanceOf[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
      "a fully-migrated table must report key grouping again")
    assert(spark.sql(s"CALL $cat.detail('jsonl_evolve_t')").head().getBoolean(11),
      "detail must report spec_uniform = true after full migration")
    // evolution to UNPARTITIONED: old pkeys stay, stamped and harmless;
    // row-level ops still run (the stamps name the keys' provenance)
    spark.sql(s"CALL $cat.evolve_partition_spec('jsonl_evolve_t', '')")
    assert(JsonlStats.readTableMeta(eRoot).partitionCol.isEmpty)
    spark.sql(s"DELETE FROM $cat.jsonl_evolve_t WHERE event_type = 'signup'")
    assert(spark.table(s"$cat.jsonl_evolve_t").filter($"event_type" === "signup").isEmpty)
    spark.sql(s"DROP TABLE $cat.jsonl_evolve_t")
  }

  test("q239: gram index — no false negatives, LIKE skipping, short needles, backfill (r9)") {
    import spark.implicits._
    // primitive law: every substring of an indexed value probes true
    // (the tracker inserts EVERY window, so a contained needle's grams
    // are all present — false negatives are impossible by construction)
    val tmp = Files.createTempDirectory("gram_prim").resolve("t.jsonl")
    Files.write(tmp, java.util.Arrays.asList("{}"))
    val tr = new Bloom.GramTracker
    val corpus = "the quick brown fox jumps over the lazy dog and keeps going"
    tr.add(corpus)
    tr.writeSidecar(tmp)
    val (w1, m1) = Bloom.readGramSidecar(tmp).get
    (0 to corpus.length - 8).foreach { i =>
      val needle = corpus.substring(i, i + 8)
      assert(Bloom.gramHashes(needle).forall(Bloom.mightContain(w1, m1, _)),
        s"false negative for contained needle '$needle'")
    }
    assert(m1 < Bloom.GramFixedBits, "small value set must get a small sidecar")
    // a needle that shares no grams with the corpus must prune
    assert(!Bloom.gramHashes("xyzzy12345").forall(Bloom.mightContain(w1, m1, _)))

    // spill law: past GramSpillDistinct the tracker switches to the
    // fixed array — bounded memory, still zero false negatives
    val big = new Bloom.GramTracker
    val rnd = new scala.util.Random(42)
    val bigVal = (0 until 300000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    big.add(bigVal)
    val tmp2 = tmp.resolveSibling("big.jsonl")
    Files.write(tmp2, java.util.Arrays.asList("{}"))
    big.writeSidecar(tmp2)
    val (w2, m2) = Bloom.readGramSidecar(tmp2).get
    assert(m2 === Bloom.GramFixedBits, "a saturating value set must spill to the fixed array")
    val mid = bigVal.substring(150000, 150012)
    assert(Bloom.gramHashes(mid).forall(Bloom.mightContain(w2, m2, _)),
      "false negative after spill")

    // connector path: writer-maintained sidecars on the q239 fixture
    val dir = JsonlFixtures.ensureGramFixture(spark, sfDir)
    val stats = JsonlStats.readStats(dir)
    assert(stats.size >= 4, s"fixture should be multi-file, got ${stats.size}")
    stats.foreach(st => assert(
      Files.exists(Bloom.gramSidecarOf(Paths.get(dir, st.file))),
      s"missing gram sidecar for ${st.file}"))
    assert(JsonlStats.readTableMeta(dir).gramCol.contains("text"),
      "the write option must declare the gram column in _table.json")
    def table = spark.read.format("graft-jsonl-stats").option("path", dir).load()
    // needle lives only in the lowest doc_id range: all other files'
    // ranges skip at task time, and the result is exact
    val before = Bloom.gramSkippedFiles.sum()
    val hits = table.filter($"text".contains("xqzgramneedle"))
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    val skipped = Bloom.gramSkippedFiles.sum() - before
    assert(hits.toSeq === (0L until 25L), s"wrong needle hits: ${hits.toSeq}")
    assert(skipped >= stats.size - 2,
      s"expected ~${stats.size - 1} gram-skipped ranges, got $skipped")
    // a needle too short to probe (< GramLen) skips nothing and stays correct
    val b2 = Bloom.gramSkippedFiles.sum()
    assert(table.filter($"text".contains("xqz")).count() === 25L)
    assert(Bloom.gramSkippedFiles.sum() === b2, "short needles must not probe")
    // conjunction: an impossible second needle prunes EVERY range
    val b3 = Bloom.gramSkippedFiles.sum()
    assert(table.filter($"text".contains("xqzgramneedle") &&
      $"text".contains("zzqqxxneverthere")).isEmpty)
    assert(Bloom.gramSkippedFiles.sum() - b3 >= stats.size - 1,
      "conjunctive needles must prune with ANDed gram sets")

    // backfill procedure: an unindexed table gains sidecars + contract
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    spark.sql(s"DROP TABLE IF EXISTS $cat.gram_docs")
    graft.ingest.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").createOrReplaceTempView("gram_docs_src")
    spark.sql(
      s"""CREATE TABLE $cat.gram_docs AS
         |SELECT doc_id, CASE WHEN doc_id < 25 THEN concat(text, ' xqzgramneedle')
         |  ELSE text END AS text FROM gram_docs_src""".stripMargin)
    val dstRoot = root.resolve("gram_docs").toString
    assert(JsonlStats.readTableMeta(dstRoot).gramCol.isEmpty)
    val res = spark.sql(s"CALL $cat.build_gram_index('gram_docs', 'text')").head()
    assert(res.getInt(0) === JsonlStats.readStats(dstRoot).size)
    assert(JsonlStats.readTableMeta(dstRoot).gramCol.contains("text"))
    JsonlStats.readStats(dstRoot).foreach(st => assert(
      Files.exists(Bloom.gramSidecarOf(Paths.get(dstRoot, st.file)))))
    // an absent needle now prunes every range through the SQL path
    val b4 = Bloom.gramSkippedFiles.sum()
    assert(spark.sql(
      s"SELECT * FROM $cat.gram_docs WHERE text LIKE '%qqzzneverwritten%'").isEmpty)
    assert(Bloom.gramSkippedFiles.sum() - b4 >= JsonlStats.readStats(dstRoot).size - 1)
    // a non-string / unknown column refuses
    val err = intercept[Exception] {
      spark.sql(s"CALL $cat.build_gram_index('gram_docs', 'doc_id')").collect()
    }
    assert(err.toString.contains("string") ||
      Option(err.getCause).exists(_.toString.contains("string")))
    // appends AFTER the declaration sidecar themselves (writer-maintained)
    spark.sql(s"INSERT INTO $cat.gram_docs VALUES (999999901, 'fresh xqzfreshrow text')")
    JsonlStats.readStats(dstRoot).foreach(st => assert(
      Files.exists(Bloom.gramSidecarOf(Paths.get(dstRoot, st.file))),
      s"appended file ${st.file} must carry its own gram sidecar"))
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.gram_docs WHERE text LIKE '%xqzfreshrow%'")
      .head().getLong(0) === 1L)
    spark.sql(s"DROP TABLE $cat.gram_docs")
  }

  test("q239: maintenance regenerates gram sidecars (rewrite_deletes) (r9)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    spark.sql(s"DROP TABLE IF EXISTS $cat.gram_mor")
    graft.ingest.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").createOrReplaceTempView("gram_mor_src")
    spark.sql(
      s"""CREATE TABLE $cat.gram_mor AS
         |SELECT doc_id, CASE WHEN doc_id < 25 THEN concat(text, ' xqzgramneedle')
         |  ELSE text END AS text FROM gram_mor_src""".stripMargin)
    val dstRoot = root.resolve("gram_mor").toString
    spark.sql(s"CALL $cat.build_gram_index('gram_mor', 'text')")
    val m0 = JsonlStats.readTableMeta(dstRoot)
    JsonlStats.writeTableMeta(dstRoot, m0.statsCol.getOrElse(JsonlStats.statsColumn),
      m0.partitionCol, m0.schema.get, m0.bloomCol, deleteMode = Some("merge-on-read"),
      gramCol = m0.gramCol)
    // DV-delete part of the needle set, then collapse: the rewritten
    // files must carry FRESH gram sidecars whose index reflects the
    // surviving rows (the deleted rows' needle no longer matches)
    spark.sql(s"DELETE FROM $cat.gram_mor WHERE doc_id < 10")
    spark.sql(s"CALL $cat.rewrite_deletes('gram_mor')").collect()
    val after = JsonlStats.readStats(dstRoot)
    assert(after.forall(_.dvs.isEmpty))
    after.foreach(st => assert(
      Files.exists(Bloom.gramSidecarOf(Paths.get(dstRoot, st.file))),
      s"rewritten file ${st.file} must carry a regenerated gram sidecar"))
    val hits = spark.sql(
      s"SELECT doc_id FROM $cat.gram_mor WHERE text LIKE '%xqzgramneedle%' ORDER BY doc_id")
      .collect().map(_.getLong(0))
    assert(hits.toSeq === (10L until 25L), s"wrong post-rewrite hits: ${hits.toSeq}")
    spark.sql(s"DROP TABLE $cat.gram_mor")
  }

  test("q185: clone is zero-copy, and the tables diverge without interference (r7)") {
    import spark.implicits._
    val cat = JsonlFixtures.ensureCatalog(spark, sfDir)
    val root = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root"))
    spark.sql(s"DROP TABLE IF EXISTS $cat.clone_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.clone_dst")
    spark.sql(
      s"""CREATE TABLE $cat.clone_src AS
         |SELECT event_id, user_id, event_type, value FROM $cat.jsonl_stats_table""".stripMargin)
    val res = spark.sql(s"CALL $cat.clone('clone_src', 'clone_dst')").head()
    val srcStats = JsonlStats.readStats(root.resolve("clone_src").toString)
    assert(res.getInt(0) === srcStats.size && res.getInt(1) === 0,
      s"same-filesystem clone must hard-link every file, got $res")
    // zero-copy: each cloned file is the SAME inode (link count >= 2)
    srcStats.foreach { s =>
      val n = Files.getAttribute(
        root.resolve("clone_src").resolve(s.file), "unix:nlink")
      assert(n.asInstanceOf[Number].intValue() >= 2, s"${s.file} was copied, not linked")
    }
    // divergence: mutate the CLONE; the source must not move
    val srcBefore = spark.table(s"$cat.clone_src").count()
    spark.sql(s"DELETE FROM $cat.clone_dst WHERE event_type = 'click'")
    assert(spark.table(s"$cat.clone_src").count() === srcBefore)
    assert(spark.table(s"$cat.clone_dst").filter($"event_type" === "click").isEmpty)
    // the clone's vacuum unlinks only its own links: the shared bytes
    // survive via the source's links, which keep reading fine
    spark.sql(s"CALL $cat.vacuum('clone_dst', retain_last => 1, orphan_grace_ms => 0)")
    assert(spark.table(s"$cat.clone_src").count() === srcBefore)
    // cloning onto an existing table refuses
    val err = intercept[Exception] {
      spark.sql(s"CALL $cat.clone('clone_src', 'clone_dst')").collect()
    }
    assert(err.toString.contains("already exists") ||
      Option(err.getCause).exists(_.toString.contains("already exists")))
    spark.sql(s"DROP TABLE $cat.clone_src")
    spark.sql(s"DROP TABLE $cat.clone_dst")
  }

  test("connector custom metrics: bloom skips and bytes read per task (r7)") {
    val dir = JsonlFixtures.ensureBloomFixture(spark, sfDir)
    val scan = new JsonlStatsScanBuilder(dir, JsonlStats.schema).build()
      .asInstanceOf[JsonlStatsScan]
    assert(scan.supportedCustomMetrics().map(_.name()).toSet
      === Set("bloomSkippedRanges", "gramSkippedRanges", "dataBytesRead"))
    val file = Paths.get(dir, JsonlStats.readStats(dir).head.file).toString
    // normal read: bytes consumed surface, no skip
    val r = new JsonlPartitionReader(file, JsonlStats.schema)
    while (r.next()) r.get()
    val m = r.currentMetricsValues().map(x => x.name() -> x.value()).toMap
    r.close()
    assert(m("bloomSkippedRanges") === 0L && m("dataBytesRead") === Files.size(Paths.get(file)))
    // a provably-absent probe against the real sidecar (searched, so the
    // test can never flake on a bloom false positive): skip + zero bytes
    val (words, mBits) = Bloom.readSidecar(Paths.get(file)).get
    val miss = (0L to 1000L).map(k => Bloom.hashLong(Long.MinValue + k))
      .find(!Bloom.mightContain(words, mBits, _)).get
    val absent = Seq(Array(miss))
    val r2 = new JsonlPartitionReader(file, JsonlStats.schema, bloomSets = absent)
    assert(!r2.next())
    val m2 = r2.currentMetricsValues().map(x => x.name() -> x.value()).toMap
    r2.close()
    assert(m2("bloomSkippedRanges") === 1L && m2("dataBytesRead") === 0L)
  }

  test("compaction of a sentinel-bounds member poisons the whole bin (r7 review)") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Min}
    val dir = Files.createTempDirectory("jsonl_compact_sentinel").toString
    // one real-bounds file + one all-null-stats file (sentinel bounds)
    Files.write(Paths.get(dir, "a.jsonl"), java.util.Arrays.asList(
      """{"event_id": 1, "user_id": 1, "event_type": "click", "value": 10.0}""",
      """{"event_id": 2, "user_id": 2, "event_type": "view", "value": 20.0}"""))
    Files.write(Paths.get(dir, "b.jsonl"), java.util.Arrays.asList(
      """{"event_id": 3, "user_id": 3, "event_type": "click", "value": null}"""))
    Files.write(Paths.get(dir, "_stats.jsonl"), java.util.Arrays.asList(
      """{"file":"a.jsonl","min_value":10.0,"max_value":20.0,"n_rows":2}""",
      JsonlStats.statsLine(JsonlStats.FileStats(
        "b.jsonl", Double.MinValue, Double.MaxValue, 1))))
    val (fb, fa, fm) = GraftProcedures.compact(dir, 1L << 20)
    assert(fb === 2 && fa === 1 && fm === 2)
    val merged = JsonlStats.readStats(dir)
    assert(merged.size === 1)
    // the merged entry is FULLY sentinel — a half-merged (MinValue,
    // 20.0) entry would slip past the pushdown sentinel check and
    // serve MinValue as MIN(value)
    assert(merged.head.min === Double.MinValue && merged.head.max === Double.MaxValue)
    assert(merged.head.rows === 3)
    val sb = new JsonlStatsScanBuilder(dir, JsonlStats.schema)
    assert(!sb.pushAggregation(new Aggregation(
      Array(new Min(Expressions.column("value"))), Array.empty)),
      "sentinel bounds must decline MIN pushdown")
    assert(new JsonlStatsScanBuilder(dir, JsonlStats.schema).pushAggregation(
      new Aggregation(Array(new CountStar), Array.empty)),
      "COUNT(*) still rides the exact row counts")
    // and the data survived the byte concat intact
    val back = spark.read.format("graft-jsonl-stats").option("path", dir).load()
    assert(back.count() === 3 && back.filter(org.apache.spark.sql.functions.col("value").isNull).count() === 1)
  }

  test("q188/q189: multi-column stats serve pruning and MIN/MAX on undeclared columns (r7b)") {
    import spark.implicits._
    val root = JsonlFixtures.ensureMultiColFixture(spark, sfDir)
    val stats = JsonlStats.readStats(root)
    assert(stats.size >= 8, "fixture must fan out across id-range files")
    // 1. writer truth: each manifest entry's per-column bounds equal the
    //    file's actual min/max for every numeric column (checked through
    //    the connector's own _file provenance, so the test never guesses
    //    the layout)
    val absRoot = Paths.get(root).toAbsolutePath.toString
    val perFile = JsonlFixtures.multiColFrame(spark, sfDir)
      .groupBy(col(JsonlStats.FileMeta).as("f"))
      .agg(min($"event_id").as("ei_lo"), max($"event_id").as("ei_hi"),
        min($"user_id").as("u_lo"), max($"user_id").as("u_hi"),
        min($"value").as("v_lo"), max($"value").as("v_hi"))
      .collect().map(r => r.getString(0) -> r).toMap
    stats.foreach { s =>
      val r = perFile(s"$absRoot/${s.file}")
      assert(s.cols("event_id") === ((r.getLong(1).toDouble, r.getLong(2).toDouble)))
      assert(s.cols("user_id") === ((r.getLong(3).toDouble, r.getLong(4).toDouble)))
      assert(s.cols("value") === ((r.getDouble(5), r.getDouble(6))))
    }
    // 2. planning-time pruning on a column the table never DECLARED as
    //    its stats column: the id-range layout gives tight event_id
    //    intervals, so the q189 cut prunes most files
    val schema = JsonlFixtures.multiColFrame(spark, sfDir).schema
    def partitionsFor(filters: org.apache.spark.sql.sources.Filter*): Int = {
      val sb = new JsonlStatsScanBuilder(root, schema)
      val residual = sb.pushFilters(filters.toArray)
      assert(residual.toSeq === filters.toSeq, "stats prove absence, never presence")
      sb.build().toBatch.planInputPartitions().length
    }
    val total = partitionsFor()
    val cut = graft.ingest.Tables.events(spark, sfDir)
      .agg(max($"event_id")).head().getLong(0) / 8L
    val kept = partitionsFor(LessThanOrEqual("event_id", Long.box(cut)))
    assert(kept < total / 2, s"event_id cut should prune most files, kept $kept/$total")
    // 3. q188's plan substitutes the manifest-agg scan — MIN/MAX over
    //    three columns, two of them undeclared — and a bare copy with
    //    every data file deleted still answers it (zero data IO)
    val agg = JsonlLayoutQueries.multiColAggregate(spark, sfDir)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val scans = nodes(agg.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan).collect { case b: BatchScanExec => b }
    assert(scans.size === 1 && scans.head.scan.isInstanceOf[JsonlManifestAggScan])
    val expect = graft.ingest.Tables.events(spark, sfDir)
      .agg(count(lit(1)).as("n"),
        min($"value").as("min_value"), max($"value").as("max_value"),
        min($"user_id").as("min_user"), max($"user_id").as("max_user"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
    assert(agg.collect().toSeq === expect.collect().toSeq)
    val bare = Files.createTempDirectory("jsonl_multicol_bare")
    Files.copy(Paths.get(root, "_stats.jsonl"), bare.resolve("_stats.jsonl"))
    Files.copy(Paths.get(root, "_table.json"), bare.resolve("_table.json"))
    val bareAgg = spark.read.format("graft-jsonl-stats")
      .option("path", bare.toString).load()
      .agg(count(lit(1)).as("n"),
        min($"value").as("min_value"), max($"value").as("max_value"),
        min($"user_id").as("min_user"), max($"user_id").as("max_user"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
    assert(bareAgg.collect().toSeq === expect.collect().toSeq)
    // 4. pruning is invisible in the q189 result
    val q189 = JsonlLayoutQueries.multiColSkippingScan(spark, sfDir)
    val expect189 = graft.ingest.Tables.events(spark, sfDir)
      .filter($"event_id" <= cut)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), graft.util.Det.msum($"value").as("value_sum"))
      .orderBy($"event_type")
    assert(q189.collect().toSeq === expect189.collect().toSeq)
    // 5. legacy conservatism: the hand-written q152 manifest carries no
    //    per-column map, so an event_id predicate pushes but prunes
    //    NOTHING (absence of bounds never skips a file; the MIN-decline
    //    twin lives in the unsafe-shapes test above)
    val legacy = new JsonlStatsScanBuilder(fixture, JsonlStats.schema)
    legacy.pushFilters(Array(LessThanOrEqual("event_id", Long.box(10L))))
    assert(legacy.build().toBatch.planInputPartitions().length
      === JsonlStats.readStats(fixture).size)
  }

  test("q227: string-column stats — truncation laws, planning-time pruning, merge (r8)") {
    import spark.implicits._
    // 1. truncation laws on adversarial strings: lower truncates DOWN,
    //    upper truncates UP (binary order), unknown when unincrementable
    val longA = "a" * 20
    val iso = "2024-06-01T12:34:56.789012"
    val multi = "日本語テキスト日本語テキスト日本語テキスト" // 21 cps, multi-byte
    val maxed = new String(Array.fill(20)(Character.MAX_CODE_POINT), 0, 20)
    Seq(longA, iso, multi, "short", "") .foreach { s =>
      val lo = JsonlStats.truncLower(s)
      assert(JsonlStats.strCompare(lo, s) <= 0, s"lower must be <= value for '$s'")
      assert(lo.codePointCount(0, lo.length) <= JsonlStats.StrBoundLen)
      JsonlStats.truncUpper(s).foreach { hi =>
        assert(JsonlStats.strCompare(hi, s) >= 0, s"upper must be >= value for '$s'")
        assert(hi.codePointCount(0, hi.length) <= JsonlStats.StrBoundLen)
      }
    }
    assert(JsonlStats.truncLower(iso) === "2024-06-01T12:34")
    assert(JsonlStats.truncUpper(iso) === Some("2024-06-01T12:35")) // last cp incremented
    assert(JsonlStats.truncUpper("short") === Some("short")) // fits => exact
    assert(JsonlStats.truncUpper(maxed) === None, "unincrementable upper is unknown")
    // upper really bounds EVERY continuation of the truncated prefix
    assert(JsonlStats.strCompare(JsonlStats.truncUpper(longA).get, "a" * 100) > 0)
    // 2. writer truth on the ISO fixture: every entry's scols bounds
    //    bracket the file's attained min/max (through _file provenance)
    val root = JsonlFixtures.ensureIsoStringFixture(spark, sfDir)
    val stats = JsonlStats.readStats(root)
    assert(stats.size >= 8, "fixture must fan out across time-range files")
    val absRoot = Paths.get(root).toAbsolutePath.toString
    val perFile = JsonlFixtures.isoStringFrame(spark, sfDir)
      .groupBy(col(JsonlStats.FileMeta).as("f"))
      .agg(min($"ts_iso").as("t_lo"), max($"ts_iso").as("t_hi"),
        min($"event_type").as("e_lo"), max($"event_type").as("e_hi"))
      .collect().map(r => r.getString(0) -> r).toMap
    stats.foreach { s =>
      val r = perFile(s"$absRoot/${s.file}")
      val (tLo, tHi) = s.strCols("ts_iso")
      assert(JsonlStats.strCompare(tLo, r.getString(1)) <= 0)
      assert(tHi.isDefined && JsonlStats.strCompare(tHi.get, r.getString(2)) >= 0)
      // 26-char ISO strings truncate to the 16-cp prefix
      assert(tLo.length === JsonlStats.StrBoundLen)
      // short event_type strings stay exact
      assert(s.strCols("event_type") === ((r.getString(3), Some(r.getString(4)))))
      // string columns now carry non-null counts (COUNT(col) pushdown)
      assert(s.colNonNull.contains("ts_iso") && s.colNonNull.contains("event_type"))
    }
    // 3. planning-time pruning through string bounds alone
    val schema = JsonlFixtures.isoStringFrame(spark, sfDir).schema
    def partitionsFor(filters: org.apache.spark.sql.sources.Filter*): Int = {
      val sb = new JsonlStatsScanBuilder(root, schema)
      val residual = sb.pushFilters(filters.toArray)
      assert(residual.toSeq === filters.toSeq, "stats prove absence, never presence")
      sb.build().toBatch.planInputPartitions().length
    }
    val total = partitionsFor()
    val allLo = stats.map(_.strCols("ts_iso")._1).min
    val allHi = stats.map(_.strCols("ts_iso")._2.get).max
    // a cut above every bound prunes everything; below every bound, nothing
    assert(partitionsFor(GreaterThan("ts_iso", allHi)) === 0)
    assert(partitionsFor(GreaterThanOrEqual("ts_iso", allLo)) === total)
    // the q227 half-span cut prunes a real fraction of the time-ranged
    // layout (disjoint per-file intervals)
    val b = graft.ingest.Tables.events(spark, sfDir)
      .agg(unix_micros(min($"ts")).as("lo"), unix_micros(max($"ts")).as("hi")).head()
    val cutMicros = (b.getLong(0) + b.getLong(1)) / 2L
    val cutIso = java.time.format.DateTimeFormatter
      .ofPattern(JsonlFixtures.isoMicroFmt).withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(
        Math.floorDiv(cutMicros, 1000000L), Math.floorMod(cutMicros, 1000000L) * 1000L))
    val kept = partitionsFor(GreaterThanOrEqual("ts_iso", cutIso))
    assert(kept < total && kept > 0, s"half-span cut kept $kept/$total")
    // startsWith prunes to the files whose interval can hold the prefix
    val somePrefix = stats.head.strCols("ts_iso")._1.take(13) // date + hour
    assert(partitionsFor(StringStartsWith("ts_iso", somePrefix)) < total)
    // equality on an attained value must KEEP its file (conservative)
    val attained = perFile.values.head.getString(1)
    assert(partitionsFor(EqualTo("ts_iso", attained)) >= 1)
    // 4. pruning is invisible in the q227 result
    val q227 = JsonlLayoutQueries.stringSkippingScan(spark, sfDir)
    val expect = graft.ingest.Tables.events(spark, sfDir)
      .filter(unix_micros($"ts") >= cutMicros)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), graft.util.Det.msum($"value").as("value_sum"))
      .orderBy($"event_type")
    assert(q227.collect().toSeq === expect.collect().toSeq)
    // 5. compaction merges string bounds under the one-sided laws
    val copy = Files.createTempDirectory("jsonl_isostr_compact")
    Files.list(Paths.get(root)).forEach { p =>
      if (!Files.isDirectory(p))
        Files.copy(p, copy.resolve(p.getFileName.toString))
    }
    GraftProcedures.compact(copy.toString, Long.MaxValue / 2)
    val merged = JsonlStats.readStats(copy.toString)
    assert(merged.size === 1, "everything should bin-pack into one file")
    val (mLo, mHi) = merged.head.strCols("ts_iso")
    assert(mLo === stats.map(_.strCols("ts_iso")._1)
      .min(Ordering.fromLessThan[String](JsonlStats.strCompare(_, _) < 0)))
    assert(mHi === Some(stats.map(_.strCols("ts_iso")._2.get)
      .max(Ordering.fromLessThan[String](JsonlStats.strCompare(_, _) < 0))))
    // and the merged table still answers the cut correctly
    val mergedScan = spark.read.format("graft-jsonl-stats")
      .option("path", copy.toString).load()
      .filter($"ts_iso" >= cutIso)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), graft.util.Det.msum($"value").as("value_sum"))
      .orderBy($"event_type")
    assert(mergedScan.collect().toSeq === expect.collect().toSeq)
    // 6. legacy conservatism: a manifest with no scols pushes the
    //    predicate but prunes NOTHING
    val legacy = new JsonlStatsScanBuilder(fixture, JsonlStats.schema)
    legacy.pushFilters(Array(GreaterThan("event_type", "zzz")))
    assert(legacy.build().toBatch.planInputPartitions().length
      === JsonlStats.readStats(fixture).size)
  }

  test("compaction merges per-column bounds; a member missing a column drops it (r7b)") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Min}
    def declined(dir: String, colName: String): Boolean =
      !new JsonlStatsScanBuilder(dir, JsonlStats.schema).pushAggregation(
        new Aggregation(Array(new Min(Expressions.column(colName))), Array.empty))
    // (a) both members carry full maps → merged bounds are the union
    val both = Files.createTempDirectory("jsonl_compact_cols").toString
    Files.write(Paths.get(both, "a.jsonl"), java.util.Arrays.asList(
      """{"event_id": 1, "user_id": 5, "event_type": "click", "value": 10.0}"""))
    Files.write(Paths.get(both, "b.jsonl"), java.util.Arrays.asList(
      """{"event_id": 9, "user_id": 2, "event_type": "view", "value": 30.0}"""))
    Files.write(Paths.get(both, "_stats.jsonl"), java.util.Arrays.asList(
      JsonlStats.statsLine(JsonlStats.FileStats("a.jsonl", 10.0, 10.0, 1, None,
        Map("event_id" -> ((1.0, 1.0)), "user_id" -> ((5.0, 5.0)), "value" -> ((10.0, 10.0))))),
      JsonlStats.statsLine(JsonlStats.FileStats("b.jsonl", 30.0, 30.0, 1, None,
        Map("event_id" -> ((9.0, 9.0)), "user_id" -> ((2.0, 2.0)), "value" -> ((30.0, 30.0)))))))
    GraftProcedures.compact(both, 1L << 20)
    val m = JsonlStats.readStats(both)
    assert(m.size === 1)
    assert(m.head.cols === Map("event_id" -> ((1.0, 9.0)),
      "user_id" -> ((2.0, 5.0)), "value" -> ((10.0, 30.0))))
    assert(!declined(both, "event_id") && !declined(both, "user_id"))
    // (b) one legacy member (no per-column map) → the merged entry keeps
    //     only the legacy stats interval; event_id becomes unservable
    //     while the declared stats column still serves (interval merge)
    val mixed = Files.createTempDirectory("jsonl_compact_mixed").toString
    Files.write(Paths.get(mixed, "a.jsonl"), java.util.Arrays.asList(
      """{"event_id": 1, "user_id": 5, "event_type": "click", "value": 10.0}"""))
    Files.write(Paths.get(mixed, "b.jsonl"), java.util.Arrays.asList(
      """{"event_id": 9, "user_id": 2, "event_type": "view", "value": 30.0}"""))
    Files.write(Paths.get(mixed, "_stats.jsonl"), java.util.Arrays.asList(
      JsonlStats.statsLine(JsonlStats.FileStats("a.jsonl", 10.0, 10.0, 1, None,
        Map("event_id" -> ((1.0, 1.0)), "value" -> ((10.0, 10.0))))),
      """{"file":"b.jsonl","min_value":30.0,"max_value":30.0,"n_rows":1}"""))
    GraftProcedures.compact(mixed, 1L << 20)
    val mm = JsonlStats.readStats(mixed)
    assert(mm.size === 1)
    assert(mm.head.cols.isEmpty,
      "a member with unknown bounds for a column must poison that column")
    assert(mm.head.min === 10.0 && mm.head.max === 30.0 && mm.head.rows === 2)
    assert(declined(mixed, "event_id"), "uncovered column must decline MIN pushdown")
    assert(!declined(mixed, "value"), "the declared stats interval still serves")
  }

  test("q192: streaming sink commits epochs exactly once; replays are swept (r7b)") {
    import spark.implicits._
    val src = Files.createTempDirectory("jsonl_ss_src").toString
    val sink = Files.createTempDirectory("jsonl_ss_sink").toString
    val ckpt = Files.createTempDirectory("jsonl_ss_ckpt").toString
    val ev = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val (gen1, gen2) = (ev.filter($"event_id" % 2 === 0), ev.filter($"event_id" % 2 === 1))
    gen1.write.format("graft-jsonl-stats").option("path", src).mode("overwrite").save()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-jsonl-stats").option("path", src).load()
        .writeStream.format("graft-jsonl-stats")
        .option("path", sink).option("checkpointLocation", ckpt)
        .option("txnAppId", "spec-app")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sunk = spark.read.format("graft-jsonl-stats").option("path", sink).load()
    drain()
    assert(sunk.count() === gen1.count())
    val w1 = JsonlStats.readTxns(sink)("spec-app")
    // second generation appended at the source; the checkpointed stream
    // drains exactly the delta and the watermark advances
    gen2.write.format("graft-jsonl-stats").option("path", src).mode("append").save()
    drain()
    assert(sunk.count() === ev.count())
    assert(sunk.exceptAll(ev).isEmpty && ev.exceptAll(sunk).isEmpty)
    val w2 = JsonlStats.readTxns(sink)("spec-app")
    assert(w2 > w1, s"watermark must advance across epochs ($w1 -> $w2)")
    // REPLAY: a batch at an already-committed epoch re-delivers its
    // commit (checkpoint recovery re-runs the last batch when the sink
    // committed but the offset log didn't). The write lands as debris
    // files, the commit detects epoch <= watermark, sweeps them, and
    // the manifest is untouched.
    val manifestBefore = Files.readAllLines(Paths.get(sink, "_stats.jsonl")).asScala.toSeq
    val sw = new JsonlStreamingWrite(sink, JsonlStats.schema, "replay-q", "spec-app")
    val writer = new JsonlStreamingWriterFactory(sink, JsonlStats.schema, "replay-q",
      JsonlStats.statsColumn, None, None).createWriter(0, 0L, w2)
    writer.write(org.apache.spark.sql.catalyst.InternalRow(
      1L, 1L, org.apache.spark.unsafe.types.UTF8String.fromString("click"), 10.0))
    val msg = writer.commit()
    val debris = JsonlStats.fileCommits(Array(msg)).map(_.file)
    assert(debris.nonEmpty && debris.forall(f => Files.exists(Paths.get(sink, f))))
    sw.commit(w2, Array(msg))
    assert(debris.forall(f => !Files.exists(Paths.get(sink, f))),
      "replayed epoch's files must be swept, not manifested")
    assert(Files.readAllLines(Paths.get(sink, "_stats.jsonl")).asScala.toSeq === manifestBefore)
    assert(sunk.count() === ev.count())
    // the txn watermark survives maintenance commits: compaction
    // rewrites the manifest and must carry the ledger forward
    GraftProcedures.compact(sink, 1L << 20)
    assert(JsonlStats.readTxns(sink).get("spec-app").contains(w2),
      "compaction must preserve the streaming-txn watermark")
    assert(sunk.count() === ev.count())
  }

  test("q191: grouped aggregate pushdown serves per-key counts/bounds from the manifest (r7b)") {
    import spark.implicits._
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan).collect { case b: BatchScanExec => b.scan }
    val agg = JsonlLayoutQueries.keyedGroupAggregate(spark, sfDir)
    assert(scanOf(agg).forall(_.isInstanceOf[JsonlManifestAggScan]),
      "grouped aggregate must ride the manifest-only scan")
    val expect = graft.ingest.Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        min($"value").as("min_value"), max($"value").as("max_value"))
      .orderBy($"event_type")
    assert(agg.collect().toSeq === expect.collect().toSeq)
    // bare copy (manifest + meta only, every data file absent) still answers
    val dir = JsonlFixtures.ensureTypeKeyedFact(spark, sfDir)
    val bare = Files.createTempDirectory("jsonl_keyed_bare")
    Files.copy(Paths.get(dir, "_stats.jsonl"), bare.resolve("_stats.jsonl"))
    Files.copy(Paths.get(dir, "_table.json"), bare.resolve("_table.json"))
    val bareAgg = spark.read.format("graft-jsonl-stats")
      .option("path", bare.toString)
      .option("partitionColumn", "event_type").load()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        min($"value").as("min_value"), max($"value").as("max_value"))
      .orderBy($"event_type")
    assert(bareAgg.collect().toSeq === expect.collect().toSeq)
    // declined shapes fall back to the row scan: grouping on a
    // NON-partition column, and grouping over an unkeyed table
    val byUser = spark.read.format("graft-jsonl-stats")
      .option("path", dir).option("partitionColumn", "event_type").load()
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    assert(scanOf(byUser).forall(_.isInstanceOf[JsonlStatsScan]))
    val unkeyed = JsonlFixtures.scanFrame(spark, sfDir)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    assert(scanOf(unkeyed).forall(_.isInstanceOf[JsonlStatsScan]))
  }

  test("q190: zorder rewrite — 2-D pruning from per-column bounds alone, snapshots survive (r7b)") {
    import spark.implicits._
    import org.apache.spark.sql.sources.Filter
    val dir = Files.createTempDirectory("jsonl_zorder").toString
    val ev = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    ev.repartitionByRange(4, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val preFiles = JsonlStats.readStats(dir).size
    val (b, a, n) = GraftProcedures.zorder(dir, "user_id", "value", 8L * 1024)
    assert(b === preFiles && n === ev.count())
    val after = JsonlStats.readStats(dir)
    assert(after.size === a && a >= 8, s"want a multi-file z layout, got $a")
    // the rewrite is invisible to content
    val back = spark.read.format("graft-jsonl-stats").option("path", dir).load()
    assert(back.exceptAll(ev).isEmpty && ev.exceptAll(back).isEmpty)
    // 2-D pruning from the cols map alone: each dimension prunes, and
    // the box keeps ≈ the product of the selectivities (no z-cell
    // machinery on the read path — plain range predicates)
    val maxU = ev.agg(max($"user_id")).head().getLong(0)
    val maxV = ev.agg(max($"value")).head().getDouble(0)
    def kept(filters: Filter*): Int = {
      val sb = new JsonlStatsScanBuilder(dir, JsonlStats.schema)
      sb.pushFilters(filters.toArray)
      sb.build().toBatch.planInputPartitions().length
    }
    val total = kept()
    assert(total === a)
    val uCut = LessThanOrEqual("user_id", Long.box(maxU / 4))
    val vCut = GreaterThanOrEqual("value", Double.box(maxV * 3 / 4))
    val (uKept, vKept) = (kept(uCut), kept(vCut))
    assert(uKept < total && vKept < total,
      s"each dimension should prune on the z layout ($uKept, $vKept of $total)")
    val boxKept = kept(uCut, vCut)
    assert(boxKept <= math.min(uKept, vKept))
    assert(boxKept < total / 2, s"2-D box should prune most files, kept $boxKept/$total")
    // deferred GC: the pre-zorder snapshot still reads in full
    val prev = JsonlStats.historyVersions(dir).last
    val snapshot = spark.read.format("graft-jsonl-stats").option("path", dir)
      .option("manifest", s"${JsonlStats.HistoryDir}/v$prev.jsonl").load()
    assert(snapshot.count() === n)
    // key-grouped layouts refuse: re-clustering would destroy SPJ
    val keyed = Files.createTempDirectory("jsonl_zorder_keyed").toString
    Files.write(Paths.get(keyed, "a.jsonl"), java.util.Arrays.asList(
      """{"event_id": 1, "user_id": 1, "event_type": "click", "value": 10.0}"""))
    Files.write(Paths.get(keyed, "_stats.jsonl"), java.util.Arrays.asList(
      JsonlStats.statsLine(JsonlStats.FileStats("a.jsonl", 10.0, 10.0, 1, Some("click")))))
    JsonlStats.writeTableMeta(keyed, "value", Some("event_type"), JsonlStats.schema)
    intercept[IllegalArgumentException] {
      GraftProcedures.zorder(keyed, "user_id", "value", 8L * 1024)
    }
  }

  test("zorder rewrite: a scoped re-cluster keeps bloom sidecars; DATE dimensions rank and prune") {
    import spark.implicits._
    import org.apache.spark.sql.sources.Filter
    val ev = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", to_date($"ts").as("day"), $"value")
    // keyed on two event_id buckets, bloom-indexed on user_id; two
    // commits, so every key holds several files
    val dir = Files.createTempDirectory("jsonl_zorder_bloom").toString
    Seq(0, 1).foreach { i =>
      ev.filter($"event_id" % 2 === i)
        .write.format("graft-jsonl-stats").option("path", dir)
        .option("partitionColumn", "bucket(2,event_id)").option("bloomColumn", "user_id")
        .mode(if (i == 0) "overwrite" else "append").save()
    }
    def bloomed(fs: Seq[JsonlStats.FileStats]): Boolean =
      fs.forall(s => Files.exists(Paths.get(dir, Bloom.sidecarName(s.file))))
    def content(): Seq[String] =
      spark.read.format("graft-jsonl-stats").option("path", dir).load()
        .collect().map(_.toString).sorted.toSeq
    val content0 = content()
    val keys = JsonlStats.readStats(dir).flatMap(_.pkey).distinct.sorted
    assert(keys.size === 2 && bloomed(JsonlStats.readStats(dir)))
    // one key at a time, once by (long, double) and once by (long, DATE):
    // the scope fans out, its fresh entries keep their bloom sidecars,
    // every entry outside it survives byte-identical
    Seq(keys(0) -> "value", keys(1) -> "day").foreach { case (key, colB) =>
      val stats = JsonlStats.readStats(dir)
      val others = stats.filterNot(_.pkey.contains(key)).map(JsonlStats.statsLine).sorted
      val scopeBytes = stats.filter(_.pkey.contains(key))
        .map(s => Files.size(Paths.get(dir, s.file))).sum
      GraftProcedures.zorder(dir, "user_id", colB, math.max(512L, scopeBytes / 8), Some(key))
      val after = JsonlStats.readStats(dir)
      assert(after.filterNot(_.pkey.contains(key)).map(JsonlStats.statsLine).sorted === others,
        s"zorder of $key touched an entry outside its scope")
      val fresh = after.filter(_.pkey.contains(key))
      assert(fresh.size >= 2, s"the $key scope did not fan out: ${fresh.size} file(s)")
      assert(bloomed(fresh), s"the $key rewrite dropped its bloom sidecars")
      assert(content() === content0, s"zorder of $key changed content")
    }
    // the moved sidecars index their own files: a bloom-probed point
    // lookup (a wrong sidecar would skip a file holding the key) is exact
    val probe = ev.agg(max($"user_id")).head().getLong(0)
    val hits = spark.read.format("graft-jsonl-stats").option("path", dir).load()
      .filter($"user_id" === probe)
    assert(hits.count() === ev.filter($"user_id" === probe).count())
    // the global rewrite ranks a DATE dimension by its epoch day, and
    // the 2-D box then prunes from per-column bounds alone (q190's law)
    val flat = Files.createTempDirectory("jsonl_zorder_date").toString
    ev.write.format("graft-jsonl-stats").option("path", flat).mode("overwrite").save()
    val flatBytes = JsonlStats.readStats(flat).map(s => Files.size(Paths.get(flat, s.file))).sum
    val (_, nOut, n) = GraftProcedures.zorder(flat, "user_id", "day", math.max(512L, flatBytes / 16))
    assert(n === ev.count() && nOut >= 8, s"want a multi-file z layout, got $nOut")
    def kept(filters: Filter*): Int = {
      val sb = new JsonlStatsScanBuilder(flat, JsonlStats.readTableMeta(flat).schema.get)
      sb.pushFilters(filters.toArray)
      sb.build().toBatch.planInputPartitions().length
    }
    val b = ev.agg(max($"user_id"), min($"day"), max($"day")).head()
    val (mnDay, mxDay) = (b.getDate(1).toLocalDate, b.getDate(2).toLocalDate)
    val uCut = LessThanOrEqual("user_id", Long.box(b.getLong(0) / 4))
    val dCut = LessThanOrEqual("day",
      mnDay.plusDays(java.time.temporal.ChronoUnit.DAYS.between(mnDay, mxDay) / 4))
    val (total, uKept, dKept, boxKept) = (kept(), kept(uCut), kept(dCut), kept(uCut, dCut))
    assert(uKept < total && dKept < total,
      s"each dimension should prune on the z layout ($uKept, $dKept of $total)")
    assert(boxKept <= math.min(uKept, dKept) && boxKept < total / 2,
      s"2-D box should prune most files, kept $boxKept/$total")
    graft.util.Fs.deleteRecursively(dir)
    graft.util.Fs.deleteRecursively(flat)
  }

  test("checkpoint-aligned splits: DV'd and _pos reads fan out with exact positions at every boundary class (r8)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_ckpt").toString
    // fixed-width lines so checkpoint offsets are exact multiples: ids
    // 100..159 are all 3 digits, every line L bytes incl. newline
    val n = 60
    val lineFor = (i: Int) => s"""{"event_id": ${100 + i}, "event_type": "x", "value": 1.0}"""
    val L = lineFor(0).getBytes("UTF-8").length + 1
    Files.write(Paths.get(dir, "wide.jsonl"), (0 until n).map(lineFor).asJava)
    // checkpoints every k rows — exact line starts with exact row counts
    val k = 5
    val ck = (1 until n / k).map(j => s"[${j * k * L},${j * k}]").mkString(",")
    // mask every boundary class: file-first, file-last, last row before
    // a checkpoint, the checkpoint row itself, the row after, and a
    // deeper boundary pair — each must vanish no matter which range
    // reader owns it
    val masked = Seq(0, n - 1, k - 1, k, k + 1, 3 * k - 1, 3 * k).map(_.toLong).sorted
    JsonlDeleteVectors.writeDv(dir, "_deletes/dv-t.json", "wide.jsonl", masked.toArray)
    Files.write(Paths.get(dir, "_stats.jsonl"), java.util.Arrays.asList(
      s"""{"file":"wide.jsonl","min_value":1.0,"max_value":1.0,"n_rows":$n,""" +
        s""""dvs":["_deletes/dv-t.json"],"n_dels":${masked.size},"ckpts":[$ck]}"""))
    val expect = (0 until n).filterNot(i => masked.contains(i.toLong))
      .map(i => (i.toLong, (100 + i).toLong))
    // sweep split sizes: every checkpoint a boundary, every other one,
    // coarse, and sizes that don't divide the checkpoint spacing
    for (sb <- Seq(L.toLong, k * L.toLong, 2L * k * L, 7L * L)) {
      val sbB = new JsonlStatsScanBuilder(dir, JsonlStats.schema, splitBytes = sb)
      sbB.pruneColumns(StructType(Seq(
        StructField(JsonlStats.PosMeta, LongType), StructField("event_id", LongType))))
      val parts = sbB.build().toBatch.planInputPartitions()
      assert(parts.length > 1,
        s"splitBytes=$sb must fan out a checkpointed DV'd file with _pos, got ${parts.length}")
      val got = spark.read.format("graft-jsonl-stats")
        .option("path", dir).option("splitBytes", sb).load()
        .select($"_pos", $"event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === expect, s"splitBytes=$sb broke DV masking or _pos on exact ranges")
    }
    // greedy boundary selection respects splitBytes: consecutive range
    // starts are never closer than it
    val coarse = new JsonlStatsScanBuilder(dir, JsonlStats.schema, splitBytes = 2L * k * L)
      .build().toBatch.planInputPartitions()
      .collect { case p: JsonlFilePartition => p.start }.sorted
    assert(coarse.sliding(2).forall { case Array(a, b) => b - a >= 2L * k * L; case _ => true })
    // legacy manifests (no ckpts) keep the pre-r8 whole-file contract
    Files.write(Paths.get(dir, "_stats.jsonl"), java.util.Arrays.asList(
      s"""{"file":"wide.jsonl","min_value":1.0,"max_value":1.0,"n_rows":$n,""" +
        s""""dvs":["_deletes/dv-t.json"],"n_dels":${masked.size}}"""))
    assert(new JsonlStatsScanBuilder(dir, JsonlStats.schema, splitBytes = k * L.toLong)
      .build().toBatch.planInputPartitions().length === 1,
      "a DV'd file without checkpoints must stay one whole-file task")
  }

  test("the sink records checkpoints (exact line starts, exact row counts); compaction shifts them (r8)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_ckpt_sink").toString
    // ~100-byte rows x 40k ≈ 4 MB → ≥ 2 checkpoints at the 1 MiB law
    def frame = spark.range(40000).select(
      $"id".as("event_id"), ($"id" % 97).as("user_id"),
      concat(lit("type_"), lpad(($"id" % 7).cast("string"), 40, "x")).as("event_type"),
      (($"id" % 1000) / 10.0).as("value"))
    frame.coalesce(1)
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val entry = JsonlStats.readStats(dir) match { case Seq(e) => e }
    assert(entry.ckpts.size >= 2,
      s"a ~4 MB file must checkpoint at 1 MiB granularity, got ${entry.ckpts.size}")
    def assertCkptLaw(root: String, e: JsonlStats.FileStats): Unit = {
      val bytes = Files.readAllBytes(Paths.get(root, e.file))
      assert(e.ckpts === e.ckpts.sortBy(_._1), "checkpoints must be offset-sorted")
      e.ckpts.foreach { case (o, r) =>
        assert(o > 0 && o < bytes.length, s"checkpoint $o outside the file")
        assert(bytes(o.toInt - 1) === '\n'.toByte, s"checkpoint $o is not a line start")
        assert(bytes.take(o.toInt).count(_ == '\n'.toByte).toLong === r,
          s"checkpoint ($o, $r): wrong preceding row count")
      }
    }
    assertCkptLaw(dir, entry)
    // split read ≡ whole read, WITH _pos, through the recorded checkpoints
    def posRead(sb: Long) = spark.read.format("graft-jsonl-stats")
      .option("path", dir).option("splitBytes", sb).load().select($"_pos", $"event_id")
    val whole = posRead(Long.MaxValue)
    val split = posRead(1L << 20)
    assert(split.rdd.getNumPartitions > 1, "_pos read must fan out through checkpoints")
    assert(split.exceptAll(whole).isEmpty && whole.exceptAll(split).isEmpty)
    // compaction: member boundaries become checkpoints of the merged file
    val dir2 = Files.createTempDirectory("jsonl_ckpt_compact").toString
    frame.repartitionByRange(4, $"event_id")
      .write.format("graft-jsonl-stats").option("path", dir2).mode("overwrite").save()
    assert(JsonlStats.readStats(dir2).size === 4)
    GraftProcedures.compact(dir2, 64L << 20)
    val merged = JsonlStats.readStats(dir2) match { case Seq(e) => e }
    assert(merged.ckpts.size >= 3, "4 compacted members must leave ≥3 boundary checkpoints")
    assertCkptLaw(dir2, merged)
    val got = spark.read.format("graft-jsonl-stats")
      .option("path", dir2).option("splitBytes", 1L << 19).load()
      .select($"_pos", $"event_id")
    assert(got.rdd.getNumPartitions > 1)
    assert(got.count() === 40000L)
  }

  test("streaming batches fan out at checkpoint boundaries; rows arrive exactly once (r8)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_ckpt_stream").toString
    // one ~4 MB file -> manifest checkpoints -> a single arriving file
    // must not become a single streaming task
    spark.range(40000).select(
        $"id".as("event_id"), ($"id" % 97).as("user_id"),
        concat(lit("t"), lpad(($"id" % 7).cast("string"), 40, "x")).as("event_type"),
        (($"id" % 1000) / 10.0).as("value"))
      .coalesce(1)
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val entry = JsonlStats.readStats(dir) match { case Seq(e) => e }
    assert(entry.ckpts.nonEmpty)
    val stream = new JsonlManifestStream(dir, JsonlStats.schema, splitBytes = 1L << 20)
    // admission control (r9c): the two-arg form is the entry point now
    val parts = stream.planInputPartitions(stream.initialOffset(),
      stream.latestOffset(stream.initialOffset(),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()))
    assert(parts.length > 1,
      s"an arriving checkpointed 4 MB file must fan out, got ${parts.length}")
    // coverage exactness through the streaming reader factory: every
    // row exactly once across the ranges
    val factory = stream.createReaderFactory()
    val got = parts.flatMap { p =>
      val r = factory.createReader(p)
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (r.next()) ids += r.get().getLong(0)
      r.close()
      ids
    }.sorted
    assert(got.length === 40000 && got.toSeq === (0L until 40000L),
      "streaming ranges must cover every row exactly once")
  }

  test("reader surfaces absent JSON fields as nulls") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_stats_nulls").toString
    Files.write(Paths.get(dir, "a.jsonl"),
      java.util.Arrays.asList(
        """{"event_id": 1, "user_id": 7, "event_type": "click", "value": 10.5}""",
        """{"event_id": 2, "event_type": "view"}""",
        ""))
    Files.write(Paths.get(dir, "_stats.jsonl"),
      java.util.Arrays.asList(
        """{"file":"a.jsonl","min_value":10.5,"max_value":10.5}"""))
    val df = spark.read.format("graft-jsonl-stats").option("path", dir).load()
    assert(df.count() === 2)
    val r2 = df.filter($"event_id" === 2L)
    assert(r2.filter($"user_id".isNull && $"value".isNull).count() === 1)
    assert(r2.select($"event_type").head.getString(0) === "view")
  }

  test("protocol features: DV delete and rename stamp the sidecar; unknown features refuse loudly (r8)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_proto").toString
    spark.range(100).select($"id".as("event_id"), ($"id" % 7).as("user_id"),
        lit("view").as("event_type"), ($"id" * 1.0).as("value"))
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val meta0 = JsonlStats.readTableMeta(dir)
    assert(meta0.features.isEmpty, "a plain table declares no features")
    JsonlStats.writeTableMeta(dir, meta0.statsCol.get, meta0.partitionCol,
      meta0.schema.get, meta0.bloomCol, deleteMode = Some("merge-on-read"))
    val cat = "graft_proto_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    spark.sql(s"DELETE FROM $cat.`$table` WHERE event_id % 10 = 0")
    assert(JsonlStats.readTableMeta(dir).features === Seq(JsonlStats.FeatureDvs),
      "the first DV commit stamps deletion-vectors")
    spark.sql(s"ALTER TABLE $cat.`$table` RENAME COLUMN user_id TO uid")
    assert(JsonlStats.readTableMeta(dir).features.toSet ===
      Set(JsonlStats.FeatureDvs, JsonlStats.FeatureColumnMapping),
      "RENAME stamps column-mapping and preserves prior features")
    // both features are known to this build: the table still reads
    assert(spark.table(s"$cat.`$table`").count() === 90)
    // a FUTURE feature refuses loudly on every resolution path
    val m = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, m.statsCol.get, m.partitionCol, m.schema.get,
      m.bloomCol, m.deleteMode, m.constraints, m.columnMapping,
      m.features :+ "v9-quantum-clustering")
    def refuses(body: => Any): Unit = {
      val e = intercept[Throwable](body)
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(_.contains("v9-quantum-clustering")),
        s"expected a feature refusal, got: $e")
    }
    refuses(JsonlStats.readTableMeta(dir))
    refuses(spark.read.format("graft-jsonl-stats").option("path", dir).load().collect())
    refuses(spark.sql(s"SELECT * FROM $cat.`$table`").collect())
    refuses(spark.sql(s"CALL $cat.detail('$table')").collect())
    // restoring a known feature list re-admits the table
    JsonlStats.writeTableMeta(dir, m.statsCol.get, m.partitionCol, m.schema.get,
      m.bloomCol, m.deleteMode, m.constraints, m.columnMapping, m.features)
    assert(spark.table(s"$cat.`$table`").count() === 90)
  }

  test("column DEFAULT values: old rows read the exists-default, written nulls stay null, feature stamped (r8)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_defaults").toString
    spark.range(10).select($"id".as("event_id"), ($"id" % 3).as("user_id"),
        lit("view").as("event_type"), ($"id" * 1.0).as("value"))
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val cat = "graft_def_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    spark.sql(s"ALTER TABLE $cat.`$table` ADD COLUMN bonus DOUBLE DEFAULT 2.5")
    // protocol stamp: only default-aware builds may read this table now
    assert(JsonlStats.readTableMeta(dir).features.contains(JsonlStats.FeatureColumnDefaults))
    // every pre-existing row reads the EXISTS default, not null
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$table` WHERE bonus = 2.5")
      .head().getLong(0) === 10L)
    // an explicitly-written NULL stays null (absent field vs written
    // null — the initial-default distinction)
    spark.sql(s"INSERT INTO $cat.`$table` VALUES (100, 0, 'ins', 1.0, 9.9)")
    spark.sql(s"INSERT INTO $cat.`$table` VALUES (101, 0, 'ins', 1.0, NULL)")
    // an INSERT that omits the column gets the CURRENT default from
    // Spark's own analyzer (the catalog capability)
    spark.sql(s"INSERT INTO $cat.`$table` (event_id, user_id, event_type, value) " +
      "VALUES (102, 0, 'ins', 1.0)")
    val got = spark.sql(
      s"SELECT event_id, bonus FROM $cat.`$table` WHERE event_id >= 100 ORDER BY event_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getDouble(1)))
    assert(got.toSeq === Seq((100L, 9.9), (101L, null), (102L, 2.5)))
    // string defaults round-trip BOTH quote conventions (the DDL's ''
    // doubling and catalyst's \' re-rendering via the Column round trip)
    spark.sql(s"ALTER TABLE $cat.`$table` ADD COLUMN tag STRING DEFAULT 'it''s'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$table` WHERE tag = \"it's\"")
      .head().getLong(0) === 13L)
    // ... and backslashes survive the render/unescape round trip
    // (review r8: quote-doubling alone mis-decoded them)
    spark.sql(s"ALTER TABLE $cat.`$table` ADD COLUMN wpath STRING DEFAULT 'C:\\\\x'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$table` WHERE wpath = 'C:\\\\x'")
      .head().getLong(0) === 13L)
    // CREATE TABLE with a default stamps the protocol feature too
    spark.sql(s"CREATE TABLE $cat.proto_ct_def " +
      "(event_id LONG, event_type STRING, value DOUBLE, bonus DOUBLE DEFAULT 1.5)")
    val ctDir = java.nio.file.Paths.get(dir).getParent.resolve("proto_ct_def").toString
    assert(JsonlStats.readTableMeta(ctDir).features === Seq(JsonlStats.FeatureColumnDefaults))
    spark.sql(s"DROP TABLE $cat.proto_ct_def")
  }

  test("DROP COLUMN: sidecar-only, physical key reserved forever, layout/constraint refusals (r8)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_dropcol").toString
    spark.range(10).select($"id".as("event_id"), ($"id" % 3).as("user_id"),
        lit("view").as("event_type"), ($"id" * 1.0).as("value"))
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val cat = "graft_drop_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    val bytesBefore = JsonlStats.readStats(dir)
      .map(s => s.file -> Files.size(Paths.get(dir, s.file))).toMap
    spark.sql(s"ALTER TABLE $cat.`$table` DROP COLUMN user_id")
    // zero data IO: same files, same bytes; the column is simply gone
    JsonlStats.readStats(dir).foreach(s =>
      assert(Files.size(Paths.get(dir, s.file)) === bytesBefore(s.file)))
    assert(!spark.table(s"$cat.`$table`").columns.contains("user_id"))
    assert(spark.table(s"$cat.`$table`").count() === 10)
    assert(JsonlStats.readTableMeta(dir).reserved === Seq("user_id"))
    // the physical key is reserved forever: re-ADD refuses (the old
    // bytes would resurrect under the identity mapping)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`$table` ADD COLUMN user_id LONG")
    }
    assert(e.getMessage.contains("DROPPED"))
    // ... and RENAME onto it refuses too
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`$table` RENAME COLUMN event_id TO user_id")
    }
    assert(e2.getMessage.contains("DROPPED"))
    // a fresh name is fine, and reads null over old files
    spark.sql(s"ALTER TABLE $cat.`$table` ADD COLUMN note STRING")
    assert(spark.sql(s"SELECT count(note) FROM $cat.`$table`").head().getLong(0) === 0L)
    // the declared stats column refuses (the physical layout contract)
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`$table` DROP COLUMN value")
    }
    assert(e3.getMessage.contains("layout"))
    // the reservation survives a TRUNCATE (contract, not data)
    spark.range(2).select($"id".as("event_id"),
        lit("x").as("event_type"), ($"id" * 1.0).as("value"), lit("n").as("note"))
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    assert(JsonlStats.readTableMeta(dir).reserved === Seq("user_id"))
  }

  test("zone maps: per-segment bounds prune ranges of an oversized file; legacy prunes nothing (r8)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = Files.createTempDirectory("jsonl_zones").toString
    // one ~8 MB file SORTED by value: segments get tight, disjoint
    // bounds, so a narrow range predicate should read few of them
    spark.range(80000).orderBy($"id")
      .select($"id".as("event_id"), ($"id" % 97).as("user_id"),
        concat(lit("t"), lpad(($"id" % 7).cast("string"), 40, "x")).as("event_type"),
        $"id".cast("double").as("value"))
      .coalesce(1).sortWithinPartitions($"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val s = JsonlStats.readStats(dir).head
    assert(s.ckpts.nonEmpty && s.segb.size === s.ckpts.size + 1,
      s"zone maps must cover every segment: ${s.ckpts.size} ckpts, ${s.segb.size} segs")
    // sorted file ⇒ segments are disjoint intervals
    s.segb.sliding(2).foreach {
      case Seq((_, aHi), (bLo, _)) => assert(aHi <= bLo, "sorted file segments must nest")
      case _ =>
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def plannedParts(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      nodes(df.queryExecution.executedPlan)
        .collectFirst { case b: BatchScanExec => b.inputRDD.getNumPartitions }.get
    }
    val full = spark.read.format("graft-jsonl-stats").option("path", dir)
      .option("splitBytes", (1L << 20).toString).load()
    val all = plannedParts(full.filter($"value" >= 0))
    assert(all >= 4, s"the file must split into several ranges, got $all")
    // a narrow cut at the head: zone maps keep a strict minority
    val narrow = full.filter($"value" < 5000.0)
    val kept = plannedParts(narrow)
    assert(kept < all && kept <= 2,
      s"zone maps should prune most ranges: kept $kept of $all")
    assert(narrow.count() === 5000)
    // content identity vs the unpruned path
    assert(narrow.agg(sum($"event_id")).head().getLong(0) ===
      (0L until 5000L).sum)
    // BOUNDARY-ROW law (review r8): a checkpoint offset is the boundary
    // row's line start, so that row belongs to the NEXT segment — its
    // value must sit in that segment's bounds, or an equality on it
    // prunes the very range that holds the row (silent row loss). The
    // file is value == physical row here, so every checkpoint's
    // rows-before IS a boundary value.
    s.ckpts.foreach { case (_, rowsBefore) =>
      assert(full.filter($"value" === rowsBefore.toDouble).count() === 1,
        s"boundary row $rowsBefore must survive zone pruning")
    }
    // legacy manifest (no segb): same ranges, nothing pruned
    JsonlStats.publishManifest(dir, "age-zones",
      Seq(JsonlStats.statsLine(s.copy(segb = Nil))))
    val legacy = spark.read.format("graft-jsonl-stats").option("path", dir)
      .option("splitBytes", (1L << 20).toString).load()
      .filter($"value" < 5000.0)
    assert(plannedParts(legacy) === all, "a segb-less manifest must prune nothing")
    assert(legacy.count() === 5000)
    // rewrite_deletes REGENERATES zones — maintenance re-arms range
    // skipping like it re-arms aggregate pushdown and splittability
    JsonlStats.publishManifest(dir, "restore-zones", Seq(JsonlStats.statsLine(s)))
    val m0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, m0.statsCol.get, m0.partitionCol, m0.schema.get,
      m0.bloomCol, deleteMode = Some("merge-on-read"))
    val cat = "graft_zone_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    spark.sql(s"DELETE FROM $cat.`$table` WHERE value >= 79000.0")
    spark.sql(s"CALL $cat.rewrite_deletes('$table')").collect()
    val after = JsonlStats.readStats(dir).head
    assert(after.dvs.isEmpty && after.ckpts.nonEmpty &&
      after.segb.size === after.ckpts.size + 1,
      s"rewrite must regenerate zones: ${after.ckpts.size} ckpts, ${after.segb.size} segs")
    val zonedAfter = spark.read.format("graft-jsonl-stats").option("path", dir)
      .option("splitBytes", (1L << 20).toString).load().filter($"value" < 5000.0)
    assert(plannedParts(zonedAfter) <= 2 && zonedAfter.count() === 5000)
  }

  test("streaming change feed: versions as offsets, exact insert/delete legs, COW refusal (r8)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_cdf_stream").toString
    val ckpt = Files.createTempDirectory("jsonl_cdf_ckpt").toString
    val src = graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val gen1 = src.filter($"event_type" =!= "click")
    val gen2 = src.filter($"event_type" === "click")
    gen1.repartitionByRange(3, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val meta0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, meta0.statsCol.get, meta0.partitionCol,
      meta0.schema.get, meta0.bloomCol, deleteMode = Some("merge-on-read"))
    val cat = "graft_cdfs_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String)]]
    def drain(checkpoint: String = ckpt, startingVersion: Int = 1): Unit = {
      val q = spark.readStream.format("graft-jsonl-stats")
        .option("path", dir).option("readChangeFeed", "true")
        .option("startingVersion", startingVersion.toString).load()
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => {
          batches.synchronized {
            batches += df.select($"event_id", col(graft.sources.JsonlCdfStream.ChangeTypeCol))
              .as[(Long, String)].collect().toSeq
          }
          ()
        })
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // drain 1: the whole history so far = gen1 as inserts
    drain()
    val d1 = batches.flatten.toSeq; batches.clear()
    assert(d1.forall(_._2 == "insert") && d1.size === gen1.count(),
      s"first drain = gen1 inserts, got ${d1.size}")
    // drain 2: an append THROUGH the connector = gen2 inserts only
    gen2.repartitionByRange(2, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("append").save()
    drain()
    val d2 = batches.flatten.toSeq; batches.clear()
    assert(d2.forall(_._2 == "insert") && d2.map(_._1).toSet ===
      gen2.select($"event_id").as[Long].collect().toSet,
      "second drain = exactly the appended rows as inserts")
    // drain 3: a merge-on-read DELETE = the masked rows as delete images
    val dead = spark.table(s"$cat.`$table`")
      .filter($"value" < 100.0).select($"event_id").as[Long].collect().toSet
    assert(dead.nonEmpty)
    spark.sql(s"DELETE FROM $cat.`$table` WHERE value < 100.0")
    drain()
    val d3 = batches.flatten.toSeq; batches.clear()
    assert(d3.forall(_._2 == "delete") && d3.map(_._1).toSet === dead,
      s"third drain = exactly the deleted rows' before-images, got ${d3.size} vs ${dead.size}")
    // drain 4: nothing changed = empty (exactly-once on version offsets)
    drain()
    assert(batches.flatten.isEmpty); batches.clear()
    // a commit that REMOVES files (rewrite_deletes collapses DV'd
    // files) must refuse loudly: its row-level delta needs the batch
    // join, and guessing would fabricate changes
    spark.sql(s"CALL $cat.rewrite_deletes('$table')").collect()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { drain() }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("tableChanges")),
      s"expected the COW refusal, got: $e")
    // a ROLLBACK across a drained DV commit restores the file with a
    // SHORTER dv list, so its masked rows come back: the stream must
    // refuse that window as loudly as a removal (it used to emit
    // nothing), while the batch feeds serve it exactly through the
    // re-image pair
    val ckpt2 = Files.createTempDirectory("jsonl_cdf_ckpt_rb").toString
    val vPre = JsonlStats.currentVersion(dir)
    val back = spark.table(s"$cat.`$table`").filter($"value" >= 100.0 && $"value" < 200.0)
      .select($"event_id").as[Long].collect().toSet
    assert(back.nonEmpty)
    spark.sql(s"DELETE FROM $cat.`$table` WHERE value >= 100.0 AND value < 200.0")
    val vDel = JsonlStats.currentVersion(dir)
    drain(ckpt2, startingVersion = vDel)
    val d5 = batches.flatten.toSeq; batches.clear()
    assert(d5.forall(_._2 == "delete") && d5.map(_._1).toSet === back)
    spark.sql(s"CALL $cat.rollback('$table', '$vPre')")
    val vRb = JsonlStats.currentVersion(dir)
    val rb = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(ckpt2, startingVersion = vDel)
    }
    val rbMsgs = Iterator.iterate(rb: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(rbMsgs.exists(m => m.contains("rollback") && m.contains("tableChanges")),
      s"expected the re-image refusal, got: $rb")
    assert(batches.flatten.isEmpty, "a refused window emits nothing")
    val signed = graft.sources.ChangeFeed.signedChanges(spark, dir, vDel, vRb, "rb")
      .groupBy($"event_id").agg(sum($"_sign").as("net")).filter($"net" =!= 0)
      .as[(Long, Long)].collect()
    graft.sources.ChangeFeed.signedManifests(dir, vDel, vRb, "rb").foreach(Files.deleteIfExists)
    assert(signed.forall(_._2 == 1L) && signed.map(_._1).toSet === back,
      "the signed feed nets exactly the restored rows at +1")
    val restored = graft.sources.ChangeFeed.tableChanges(spark, dir, vDel, vRb, Seq("event_id"))
      .select($"event_id", $"change_type").as[(Long, String)].collect()
    assert(restored.forall(_._2 == "insert") && restored.map(_._1).toSet === back,
      "tableChanges reports exactly the restored rows as inserts")
  }

  test("a retracted-leg derived manifest serves only the newly deleted rows: " +
    "no manifest-served aggregate answers for the whole file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_cdf_retracted").toString
    graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value").coalesce(1)
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val meta0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, meta0.statsCol.get, meta0.partitionCol,
      meta0.schema.get, meta0.bloomCol, deleteMode = Some("merge-on-read"))
    val cat = "graft_cdfr_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    val n = spark.table(s"$cat.`$table`").count()
    val dead = spark.table(s"$cat.`$table`").filter($"value" >= 10.0 && $"value" < 20.0)
      .select($"value").as[Double].collect()
    assert(dead.nonEmpty && dead.length < n / 2, s"${dead.length} of $n rows")
    val vPre = JsonlStats.currentVersion(dir)
    spark.sql(s"DELETE FROM $cat.`$table` WHERE value >= 10.0 AND value < 20.0")
    val vDel = JsonlStats.currentVersion(dir)
    // the window's legs: nothing removed or added, one retracted entry
    val d = graft.sources.ChangeFeed.windowDiff(dir, vPre, vDel)
    assert(d.removed.isEmpty && d.added.isEmpty && d.retracted.size === 1, d)
    graft.sources.ChangeFeed.signedChanges(spark, dir, vPre, vDel, "guard")
    val manifests = graft.sources.ChangeFeed.signedManifests(dir, vPre, vDel, "guard")
    try {
      val leg = manifests.find(_.getFileName.toString.endsWith("retracted.jsonl")).get
      val read = spark.read.format("graft-jsonl-stats").option("path", dir)
        .option("manifest", s"_cdf/${leg.getFileName}").load()
      // COUNT(*) alone is what the manifest could serve (rows − dels);
      // MIN/MAX and COUNT(col) already decline on any DV'd entry
      assert(read.count() === dead.length.toLong,
        s"count(*) must count the deleted rows, not the file's ${n - dead.length} survivors")
      val agg = read.agg(count($"value"), min($"value"), max($"value")).head()
      assert(agg.getLong(0) === dead.length.toLong)
      assert(agg.getDouble(1) === dead.min && agg.getDouble(2) === dead.max)
    } finally manifests.foreach(Files.deleteIfExists)
  }

  test("manifest delta chains resolve iteratively: 4000-deep chain, loud cycle failure (r9 review)") {
    val root = Files.createTempDirectory("chain_deep")
    val hist = root.resolve(JsonlStats.HistoryDir)
    Files.createDirectories(hist)
    Files.write(hist.resolve("v1.jsonl"),
      java.util.Arrays.asList("""{"file":"base.jsonl","rows":1}"""))
    (2 to 4000).foreach { k =>
      Files.write(hist.resolve(s"v$k.jsonl"), java.util.Arrays.asList(
        s"""{"delta_base": ${k - 1}}""", s"""{"file":"add_$k.jsonl","rows":1}"""))
    }
    // a recursive walk dies with StackOverflowError here; the iterative
    // walk resolves the full line set
    val lines = JsonlStats.readManifestLines(root.toString, s"${JsonlStats.HistoryDir}/v4000.jsonl")
    assert(lines.length === 4000, s"expected 4000 resolved lines, got ${lines.length}")
    assert(lines.head.contains("base.jsonl") && lines.last.contains("add_4000"))
    // self-referential delta_base must fail LOUDLY, not overflow the stack
    Files.write(hist.resolve("v4001.jsonl"), java.util.Arrays.asList(
      """{"delta_base": 4001}"""))
    val e = intercept[IllegalArgumentException](
      JsonlStats.readManifestLines(root.toString, s"${JsonlStats.HistoryDir}/v4001.jsonl"))
    assert(e.getMessage.contains("strictly older"), e.getMessage)
    // a forward (increasing) pointer is equally corrupt
    Files.write(hist.resolve("v4002.jsonl"), java.util.Arrays.asList(
      """{"delta_base": 4001}""", """{"file":"x.jsonl","rows":1}"""))
    Files.write(hist.resolve("v4001.jsonl"), java.util.Arrays.asList(
      """{"delta_base": 4002}"""))
    val e2 = intercept[IllegalArgumentException](
      JsonlStats.readManifestLines(root.toString, s"${JsonlStats.HistoryDir}/v4002.jsonl"))
    assert(e2.getMessage.contains("strictly older"), e2.getMessage)
  }

  test("budgeted gram tracker: routed writers divide the budget; sidecar stays sound (r9 review)") {
    // bucket(4096) share: budget divides with MINIMAL floors (r11) so
    // the worst case — every sink spilled — totals the one-sink
    // ceiling, not 4096 × a generous floor
    val t = graft.sources.Bloom.budgetedGramTracker(4096)
    val dir = Files.createTempDirectory("gramb")
    val data = dir.resolve("f.jsonl")
    // ~30k distinct grams: far past the budgeted spill point, so this
    // exercises the spilled fixed-array path at the reduced size
    (0 until 5000).foreach(i => t.add(f"needle$i%06dpayload"))
    t.add("zzqxgramprobe")
    t.writeSidecar(data)
    val Some((words, mBits)) = graft.sources.Bloom.readGramSidecar(data)
    assert(mBits === graft.sources.Bloom.GramFixedBits / 4096,
      s"budgeted spill array must be the exact per-sink share, got $mBits")
    assert(mBits.toLong * 4096 <= graft.sources.Bloom.GramFixedBits.toLong,
      "4096 spilled sinks must not exceed the one-sink ceiling")
    // soundness: every gram of an indexed value answers maybe-present
    assert(graft.sources.Bloom.gramHashes("zzqxgramprobe")
      .forall(h => graft.sources.Bloom.mightContain(words, mBits, h)),
      "an indexed needle must never be pruned")
    // the default tracker is unchanged: small files still get exact-set sidecars
    val t2 = new graft.sources.Bloom.GramTracker()
    t2.add("abcdefgh")
    val data2 = dir.resolve("g.jsonl")
    t2.writeSidecar(data2)
    val Some((w2, m2)) = graft.sources.Bloom.readGramSidecar(data2)
    assert(graft.sources.Bloom.gramHashes("abcdefgh").forall(h => graft.sources.Bloom.mightContain(w2, m2, h)))
  }

  test("q292 laws: dynamic overwrite replaces exactly the arriving keys, " +
    "keeps other files verbatim, time-travels, and refuses unkeyed layouts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_dynover").toString
    val cat = "graft_dyn_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val t = java.nio.file.Paths.get(dir).getFileName.toString
    (0L until 300L).map(i => (Seq("a", "b", "c")(i.toInt % 3), i, i.toDouble))
      .toDF("k", "id", "v").createOrReplaceTempView("dyn_spec_src")
    spark.sql(s"CREATE TABLE $cat.`$t` USING `graft-jsonl-stats` " +
      "PARTITIONED BY (k) AS SELECT * FROM dyn_spec_src WHERE id % 2 = 0")
    val before = JsonlStats.readStats(dir)
    // reload partition 'b' in full via the dynamic-overwrite API
    spark.table("dyn_spec_src").where($"k" === "b")
      .writeTo(s"$cat.`$t`").overwritePartitions()
    val after = JsonlStats.readStats(dir)
    // untouched keys' entries survive byte-verbatim (same file names)
    val keptBefore = before.filter(!_.pkey.contains("b")).map(_.file).toSet
    assert(keptBefore.subsetOf(after.map(_.file).toSet),
      "untouched partitions were rewritten")
    // the replaced key is the full reload, others are the half seed
    val counts = spark.sql(s"SELECT k, count(*) FROM $cat.`$t` GROUP BY k ORDER BY k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("a" -> 50L, "b" -> 100L, "c" -> 50L), counts)
    // the pre-overwrite generation is one VERSION AS OF away
    val v = JsonlStats.currentVersion(dir) - 1
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$t` VERSION AS OF $v")
      .collect().head.getLong(0) === 150L)
    // unkeyed layouts refuse with the remediation
    spark.sql(s"CREATE TABLE $cat.dyn_unkeyed AS SELECT * FROM dyn_spec_src LIMIT 10")
    val e = intercept[Exception] {
      spark.table("dyn_spec_src").limit(5)
        .writeTo(s"$cat.dyn_unkeyed").overwritePartitions()
    }
    assert(e.getMessage.contains("keyed layout"), e.getMessage)
    spark.sql(s"DROP TABLE $cat.dyn_unkeyed")
    // mid partition evolution the base holds OLD-SPEC files whose rows
    // the arriving keys can't see by string match — "replace exactly
    // these partitions" is unprovable, so the overwrite must refuse
    // loudly (the scan side's uniformSpec condition, applied to DML)
    // rather than keep them verbatim and silently duplicate rows
    spark.sql(s"CALL $cat.evolve_partition_spec('$t', 'bucket(4,id)')")
    val e2 = intercept[Exception] {
      spark.table("dyn_spec_src").where($"k" === "a")
        .writeTo(s"$cat.`$t`").overwritePartitions()
    }
    assert(e2.getMessage.contains("current partition spec"), e2.getMessage)
    // row counts unchanged: the refused overwrite committed nothing
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$t`").collect().head.getLong(0) === 200L)
  }

  test("r12b ordering report: the SPJ merge join is SORT-free as well as " +
    "exchange-free, and the sorted stamp lives and dies with the layout") {
    import spark.implicits._
    // 1. the flagship plan: q169's sort-merge join consumes both keyed
    // scans DIRECTLY — the reported per-partition key ordering
    // (identity-keyed: every partition is one key) satisfies the
    // join's requirement, so EnsureRequirements inserts no SortExec
    val df = JsonlLayoutQueries.storagePartitionedJoin(spark, sfDir)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case qs: QueryStageExec => qs +: nodes(qs.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plan = nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
    val smjs = plan.collect { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(smjs.size === 1)
    assert(smjs.head.collect { case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
      s"sort under the storage-partitioned merge join:\n${smjs.head}")
    // 2. stamp lifecycle on a sorted keyed table
    val dir = Files.createTempDirectory("jsonl_sorted_rep").toString
    val cat = "graft_ord_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val t = java.nio.file.Paths.get(dir).getFileName.toString
    (0L until 400L).map(i => (i % 4, (i * 37 % 100).toDouble, i))
      .toDF("k", "v", "id").selectExpr("CAST(k AS STRING) AS k", "v", "id")
      .createOrReplaceTempView("ord_src")
    spark.sql(s"CREATE TABLE $cat.`$t` USING `graft-jsonl-stats` " +
      "PARTITIONED BY (k) TBLPROPERTIES ('sortColumn' = 'v') " +
      "AS SELECT * FROM ord_src")
    def scanOf(sql: String): JsonlStatsScan =
      nodes(spark.sql(sql)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.scan }
        .collectFirst { case sc: JsonlStatsScan => sc }.get
    def orderCols(sc: JsonlStatsScan): Seq[String] =
      sc.outputOrdering().toSeq.map(_.expression().describe())
    // one commit -> one file per key, every entry stamped: both legs
    assert(JsonlStats.readStats(dir).forall(_.sorted.contains("v")))
    assert(orderCols(scanOf(s"SELECT k, v FROM $cat.`$t`")) === Seq("k", "v"))
    // the rows really do ascend per partition (the stamp's meaning)
    val perPart = spark.sql(s"SELECT k, v FROM $cat.`$t`").rdd
      .mapPartitions(it => Iterator.single(it.map(_.getDouble(1)).toSeq)).collect()
    assert(perPart.forall(vs => vs == vs.sorted), "partition rows must ascend by v")
    // row-level DML keeps BOTH disciplines: the rewrite re-sorts and
    // re-stamps its replacement files, so the report survives mutation
    spark.sql(s"DELETE FROM $cat.`$t` WHERE id = 1")
    assert(JsonlStats.readStats(dir).forall(_.sorted.contains("v")),
      "COW replacement files must keep the sorted stamp")
    assert(orderCols(scanOf(s"SELECT k, v FROM $cat.`$t`")) === Seq("k", "v"))
    // a second commit doubles the files per key: the key leg holds,
    // the within-file leg is no longer a per-PARTITION truth (grouped
    // partitions concatenate the key's files) — dropped
    spark.sql(s"INSERT INTO $cat.`$t` SELECT * FROM ord_src")
    assert(orderCols(scanOf(s"SELECT k, v FROM $cat.`$t`")) === Seq("k"))
    // compaction byte-concats: the merged entries lose the stamp —
    // reported order stays key-only FOREVER after (conservative)
    spark.sql(s"CALL $cat.compact('$t', ${64L * 1024 * 1024})")
    assert(JsonlStats.readStats(dir).forall(_.sorted.isEmpty),
      "compacted entries must drop the sorted stamp")
    assert(orderCols(scanOf(s"SELECT k, v FROM $cat.`$t`")) === Seq("k"))
    // an unprojected sort column reports nothing it can't name
    assert(orderCols(scanOf(s"SELECT k FROM $cat.`$t`")) === Seq("k"))
  }

  test("q290 laws: TABLESAMPLE pushdown is declared, deterministic, " +
    "nesting, file-exact, and declines everything it must (r12b)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.{JsonlStats, JsonlStatsScan}
    val dir = Files.createTempDirectory("jsonl_sample").toString
    val cat = "graft_smp_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val table = java.nio.file.Paths.get(dir).getFileName.toString
    import spark.implicits._
    (0L until 1600L).map(i => (i, i % 16, (i % 100).toDouble))
      .toDF("id", "s", "v").selectExpr("id", "v", "CAST(s AS STRING) AS shard")
      .createOrReplaceTempView("smp_src")
    spark.sql(s"""CREATE TABLE $cat.`$table` USING `graft-jsonl-stats`
                 |PARTITIONED BY (shard)
                 |AS SELECT * FROM smp_src ORDER BY shard, id""".stripMargin)
    def scanOf(sql: String): JsonlStatsScan = {
      val scans = spark.sql(sql)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      assert(scans.size === 1)
      scans.head.scan.asInstanceOf[JsonlStatsScan]
    }
    val q = s"SELECT id FROM $cat.`$table` TABLESAMPLE (37.5 PERCENT) REPEATABLE (42)"
    // UNDECLARED table: the pushdown declines — the scan carries no
    // sample (Spark row-samples after the full read) and plans ALL files
    val undeclared = scanOf(q)
    assert(!undeclared.description().contains("sample="),
      "sample must not push without the table's sampleMode declaration")
    val total = JsonlStats.readStats(dir).size
    assert(undeclared.toBatch.planInputPartitions().length === total)
    // invalid declaration refuses loudly
    val bad = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.`$table` SET TBLPROPERTIES('sampleMode'='bernoulli')")
    }
    assert(bad.getMessage.contains("system"), bad.getMessage)
    spark.sql(s"ALTER TABLE $cat.`$table` SET TBLPROPERTIES('sampleMode'='system')")
    // DECLARED: kept files are exactly the manifest entries whose
    // deterministic coordinate lands in [0, 0.375) — recomputed here
    // from the same published arithmetic
    val sampled = scanOf(q)
    assert(sampled.description().contains("sample=[0.0000,0.3750) seed=42 mode=system"),
      sampled.description())
    val expected = JsonlStats.readStats(dir)
      .filter(s => JsonlStats.sampleU(s, 42L) < 0.375).map(_.file).toSet
    assert(expected.nonEmpty && expected.size < total, s"degenerate fixture: $expected")
    assert(sampled.toBatch.planInputPartitions().length === expected.size)
    // deterministic: the same statement returns identical rows
    assert(spark.sql(q).orderBy("id").collect().toSeq ===
      spark.sql(q).orderBy("id").collect().toSeq)
    // row counts equal the kept files' manifest counts exactly — block
    // sampling serves kept files WHOLE
    val keptRows = JsonlStats.readStats(dir)
      .filter(s => expected(s.file)).map(_.rows).sum
    assert(spark.sql(q).count() === keptRows)
    // nesting: same seed, growing fraction — kept sets are supersets
    def kept(pct: String): Set[String] = {
      val sc = scanOf(s"SELECT id FROM $cat.`$table` TABLESAMPLE ($pct PERCENT) REPEATABLE (42)")
      JsonlStats.readStats(dir).filter(s => {
        val u = JsonlStats.sampleU(s, 42L); u < pct.toDouble / 100.0
      }).map(_.file).toSet
    }
    assert(kept("20").subsetOf(kept("60")), "same-seed fractions must nest")
    // manifest-served aggregates DECLINE under a pushed sample: the
    // sampled count comes from data tasks and equals the kept subset,
    // never the whole-table manifest sum
    val c = spark.sql(s"SELECT count(*) AS n FROM $cat.`$table` " +
      "TABLESAMPLE (37.5 PERCENT) REPEATABLE (42)").collect().head.getLong(0)
    assert(c === keptRows)
    // row-level DML never samples: a rewrite scan sees every row
    spark.sql(s"DELETE FROM $cat.`$table` WHERE id = 7")
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$table`").collect().head.getLong(0)
      === 1599L)
  }

  test("r13 composite-layout laws: declared TABLESAMPLE prunes the " +
    "days-x-bucket manifest deterministically, and scoped zorder " +
    "re-clusters ONE (day, bucket) cell with every other entry " +
    "byte-identical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("jsonl_comp13").toString
    val cat = "graft_c13_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Paths.get(dir).getParent.toString)
    val t = java.nio.file.Paths.get(dir).getFileName.toString
    // 4 days x 4 buckets; two commits so cells carry MULTIPLE files
    // day and user derive from EVEN bit positions, so the two parity
    // halves (the two commits) land in the SAME (day, bucket) cells
    (0L until 1600L).map { i =>
      (i, java.sql.Timestamp.valueOf(f"2024-03-${(i % 8) / 2 + 1}%02d 10:00:00"),
        (i % 32) / 2, (i * 37 % 100).toDouble)
    }.toDF("id", "ts", "user_id", "v").createOrReplaceTempView("comp13_src")
    spark.sql(s"CREATE TABLE $cat.`$t` USING `graft-jsonl-stats` " +
      "PARTITIONED BY (days(ts), bucket(4, user_id)) " +
      "AS SELECT * FROM comp13_src WHERE id % 2 = 0")
    spark.sql(s"INSERT INTO $cat.`$t` SELECT * FROM comp13_src WHERE id % 2 = 1")
    val before = JsonlStats.readStats(dir)
    assert(before.map(_.pkey.get).distinct.size >= 8,
      "composite grain: several (day, bucket) cells")
    // ---- declared block sampling over the composite layout ----
    spark.sql(s"ALTER TABLE $cat.`$t` SET TBLPROPERTIES ('sampleMode'='system')")
    def sampled() = spark.sql(s"SELECT id FROM $cat.`$t` " +
      "TABLESAMPLE (30 PERCENT) REPEATABLE (5) ORDER BY id")
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.scan }
        .collect { case sc: JsonlStatsScan => sc.toBatch.planInputPartitions().length }.sum
    val kept = planned(sampled())
    assert(kept > 0 && kept < before.size,
      s"composite sample must plan a strict band subset ($kept of ${before.size})")
    assert(sampled().collect().toSeq === sampled().collect().toSeq,
      "REPEATABLE sampling must be deterministic on a composite layout")
    // a day predicate ABOVE the sample composes: same-or-fewer rows,
    // the band's files still decide planning (ViewsSpec pins the
    // shape laws; here: correctness on the composite pkey hash path)
    val dayCut = spark.sql(s"SELECT id FROM $cat.`$t` " +
      "TABLESAMPLE (30 PERCENT) REPEATABLE (5) " +
      "WHERE ts >= TIMESTAMP'2024-03-02 00:00:00' AND ts < TIMESTAMP'2024-03-03 00:00:00' " +
      "ORDER BY id")
    val full = sampled().collect().map(_.getLong(0)).toSet
    assert(dayCut.collect().map(_.getLong(0)).forall(id =>
      full.contains(id) && (id % 8 == 2 || id % 8 == 3)),
      "filter-above must subset the sampled band")
    // ---- scoped zorder on ONE (day, bucket) cell ----
    spark.sql(s"ALTER TABLE $cat.`$t` UNSET TBLPROPERTIES ('sampleMode')")
    val cell = before.groupBy(_.pkey.get).collect { case (k, fs) if fs.size > 1 => k }
      .toSeq.sorted.head
    val box = spark.sql(s"SELECT id, user_id, v FROM $cat.`$t` " +
      "WHERE user_id BETWEEN 2 AND 9 AND v BETWEEN 10 AND 40 ORDER BY id").collect().toSeq
    spark.sql(s"CALL $cat.zorder('$t', 'user_id', 'v', ${64L * 1024 * 1024}, " +
      s"partition => '$cell')")
    val after = JsonlStats.readStats(dir)
    val beforeOther = before.filterNot(_.pkey.contains(cell)).map(JsonlStats.statsLine).toSet
    val afterOther = after.filterNot(_.pkey.contains(cell)).map(JsonlStats.statsLine).toSet
    assert(afterOther === beforeOther,
      "every entry outside the re-clustered cell must be byte-identical")
    val cellAfter = after.filter(_.pkey.contains(cell))
    assert(cellAfter.nonEmpty && cellAfter.map(_.file).toSet
      .intersect(before.filter(_.pkey.contains(cell)).map(_.file).toSet).isEmpty,
      "the scoped cell must have been rewritten")
    assert(cellAfter.forall(_.pspec.contains("days(ts),bucket(4,user_id)")),
      "fresh entries must carry the composite spec stamp")
    // the 2-D box reads the same rows after the re-cluster
    assert(spark.sql(s"SELECT id, user_id, v FROM $cat.`$t` " +
      "WHERE user_id BETWEEN 2 AND 9 AND v BETWEEN 10 AND 40 ORDER BY id")
      .collect().toSeq === box, "re-clustering must not change any result")
  }


  test("rewrite_deletes publishes every stat family the writer does: map-key " +
    "bounds and markers, vector, leaf, string and temporal bounds, checkpoints, " +
    "zones and sidecars, all attained by the survivors") {
    val dir = Files.createTempDirectory("jsonl_rwdel_stats").toString
    // one file past CheckpointBytes (9,000 rows of ~300 bytes), then a
    // small one that alone carries the map key 'rare'
    def rows(lo: Long, hi: Long, md: String) = spark.range(lo, hi).selectExpr(
      "id", "CAST(id % 997 AS DOUBLE) / 7 AS v",
      "timestamp_micros(1700000000000000 + id * 1000003) AS ts",
      "concat('name-', lpad(CAST(id % 313 AS STRING), 4, '0'), '-past-sixteen-chars') AS s",
      "named_struct('n', id % 101, 'tag', concat('t', CAST(id % 17 AS STRING))) AS doc",
      "array(CAST(sin(id) AS FLOAT), CAST(cos(id) AS FLOAT), CAST(id % 5 - 2 AS FLOAT)) AS emb",
      s"$md AS md",
      "map('lang', IF(id % 2 = 0, 'de', 'en'), 'src', concat('feed-', CAST(id % 9 AS STRING))) AS ms",
      "concat('doc text ', CAST(id AS STRING), ' body') AS txt")
    def write(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
      df.coalesce(1).write.format("graft-jsonl-stats").option("path", dir)
        .option("statsColumn", "id").option("bloomColumn", "s")
        .option("gramColumn", "txt").option("sortColumn", "id").mode(mode).save()
    write(rows(0, 9000, "map('k0', CAST(id % 11 AS DOUBLE), 'k1', CAST(id AS DOUBLE) / 3)"),
      "overwrite")
    write(rows(9000, 9300, "map('k0', CAST(id % 11 AS DOUBLE), 'rare', CAST(id AS DOUBLE))"),
      "append")
    val m0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, m0.copy(deleteMode = Some("merge-on-read")))
    val cat = "graft_rwst_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", Paths.get(dir).getParent.toString)
    val t = s"$cat.`${Paths.get(dir).getFileName}`"
    val before = JsonlStats.readStats(dir)
    assert(before.size === 2 && before.exists(s =>
      Files.size(Paths.get(dir, s.file)) > JsonlStats.CheckpointBytes),
      s"fixture needs one file past CheckpointBytes: ${before.map(_.file)}")
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case other => other +: other.children.flatMap(nodes)
      }
      df.collect()
      nodes(df.queryExecution.executedPlan).collect { case b: BatchScanExec => b }
        .head.scan.asInstanceOf[JsonlStatsScan].toBatch.planInputPartitions()
        .map {
          case f: JsonlFilePartition => f.file
          case k: JsonlKeyedFilePartition => k.file
        }.distinct.length
    }
    val rare = s"SELECT id FROM $t WHERE md['rare'] > 0"
    val rareBefore = plannedFiles(spark.sql(rare))
    assert(rareBefore === 1, "the marker prunes the file without the key")
    spark.sql(s"DELETE FROM $t WHERE id % 7 = 3 OR id IN (0, 8999, 9299)")
    assert(JsonlStats.readStats(dir).forall(_.dvs.nonEmpty), "both files must carry a DV")
    spark.sql(s"CALL $cat.rewrite_deletes('${Paths.get(dir).getFileName}')").collect()
    val after = JsonlStats.readStats(dir)
    assert(after.size === 2 && after.forall(s => s.dvs.isEmpty && !before.contains(s)))
    assert(after.map(_.sorted).toSet === before.map(_.sorted).toSet && after.head.sorted.isDefined,
      "the collapse keeps the sort stamp")
    val survivors = spark.sql(
      s"""SELECT _file, id, v, unix_micros(ts), s, doc.n, doc.tag, emb, md, ms
         |FROM $t""".stripMargin).collect().groupBy(_.getString(0))
    val strOrd = Ordering.fromLessThan[String](JsonlStats.strCompare(_, _) < 0)
    def strBounds(vs: Seq[String]) =
      (JsonlStats.truncLower(vs.min(strOrd)), JsonlStats.truncUpper(vs.max(strOrd)))
    after.foreach { e =>
      val rs = survivors(Paths.get(dir, e.file).toString).toSeq
      val what = s"${e.file} (${rs.size} rows)"
      assert(e.rows === rs.size.toLong, what)
      def num(i: Int) = rs.map(r => r.get(i).asInstanceOf[Number].doubleValue())
      def span(vs: Seq[Double]) = (vs.min, vs.max)
      assert((e.min, e.max) === span(num(1)), what)
      Seq("id" -> 1, "v" -> 2, "ts" -> 3, "doc.n" -> 5).foreach { case (c, i) =>
        assert(e.cols.get(c) === Some(span(num(i))), s"$c of $what")
      }
      Seq("s" -> 4, "doc.tag" -> 6).foreach { case (c, i) =>
        assert(e.strCols.get(c) === Some(strBounds(rs.map(_.getString(i)))), s"$c of $what")
      }
      // map-key bounds under the completeness markers, per key
      assert(e.cols.contains("md#mk") && e.cols.contains("ms#mk"), s"map markers of $what")
      val md = rs.flatMap(_.getMap[String, Double](8).toSeq).groupBy(_._1)
      assert(e.cols.keySet.filter(k => k.startsWith("md.")) === md.keySet.map("md." + _), what)
      md.foreach { case (k, kvs) =>
        assert(e.cols.get(s"md.$k") === Some(span(kvs.map(_._2))), s"md.$k of $what")
      }
      rs.flatMap(_.getMap[String, String](9).toSeq).groupBy(_._1).foreach { case (k, kvs) =>
        assert(e.strCols.get(s"ms.$k") === Some(strBounds(kvs.map(_._2))), s"ms.$k of $what")
      }
      // vector norm and sign-cell stats, the sink's arithmetic
      val vecs = rs.map(_.getSeq[Float](7).map(_.toDouble))
      val cells = vecs.map(_.zipWithIndex.foldLeft(0) { case (c, (x, j)) =>
        if (j < JsonlStats.VecCellBits && x > 0) c | (1 << j) else c })
      assert(e.cols.get("emb#norm") === Some(span(vecs.map(v => math.sqrt(v.map(x => x * x).sum)))),
        s"emb#norm of $what")
      assert(e.cols.get("emb#cell") === Some(span(cells.map(_.toDouble))), s"emb#cell of $what")
      assert(e.vcells.get("emb") === Some(cells.foldLeft(0L)((m, c) => m | (1L << c))), what)
      // sidecars, and checkpoints with one zone per segment on the big file
      val path = Paths.get(dir, e.file)
      assert(Files.exists(Bloom.sidecarOf(path)) && Files.exists(Bloom.gramSidecarOf(path)), what)
      if (Files.size(path) > JsonlStats.CheckpointBytes)
        assert(e.ckpts.nonEmpty && e.segb.size === e.ckpts.size + 1, s"checkpoints of $what")
    }
    assert(plannedFiles(spark.sql(rare)) <= rareBefore,
      "the rewrite must not lose map-key pruning")
    assert(spark.sql(rare).count() === (9000L until 9300L).count(i => i % 7 != 3 && i != 9299))
  }
}

package graft

import graft.ingest.{ColumnarFormats, Tables}
import graft.sources.{GraftProcedures, JsonlStats}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Compaction must change the file layout and NOTHING else. */
class CompactionSpec extends SparkSpec {

  /** Data files per partition key, read from the manifest. */
  private def filesPerKey(dir: String): Map[String, Int] =
    JsonlStats.readStats(dir).groupBy(_.pkey.get).map { case (k, fs) => k -> fs.size }

  private def snapshot(dir: String): Seq[String] = {
    import spark.implicits._
    spark.read.format("graft-jsonl-stats").option("path", dir).load()
      .select($"event_id", $"event_type", $"value", $"event_date")
      .collect().map(_.toString).sorted.toSeq
  }

  test("compaction: one file per partition, rows identical, subset untouched") {
    val dir = Files.createTempDirectory("graft_compact").toString
    // fragment: four commits keyed on the event day → several small
    // files per key
    (0 until 4).foreach { i =>
      Tables.events(spark, sfDir)
        .filter(col("event_id") % 4 === i)
        .select(col("event_id"), col("event_type"), col("value"),
          to_date(col("ts")).as("event_date"))
        .write.format("graft-jsonl-stats").option("path", dir)
        .option("partitionColumn", "days(event_date)")
        .mode(if (i == 0) "overwrite" else "append").save()
    }
    val before = snapshot(dir)
    val fragged = filesPerKey(dir)
    assert(fragged.values.exists(_ > 1), "fixture must be fragmented")
    // partial compaction: compact ONLY one key; every other manifest
    // entry must survive byte-identical
    val someDay = fragged.filter(_._2 > 1).keys.min
    val others = JsonlStats.readStats(dir).filterNot(_.pkey.contains(someDay))
      .map(JsonlStats.statsLine).sorted
    GraftProcedures.compact(dir, 1L << 30, partition = Some(someDay))
    assert(filesPerKey(dir)(someDay) === 1)
    assert(JsonlStats.readStats(dir).filterNot(_.pkey.contains(someDay))
      .map(JsonlStats.statsLine).sorted === others,
      "compacting one key must not touch another key's entries")
    assert(snapshot(dir) === before, "compaction must not change content")
    // the whole table: one file per key, content unchanged
    GraftProcedures.compact(dir, 1L << 30)
    val after = filesPerKey(dir)
    assert(after.keySet === fragged.keySet && after.values.forall(_ === 1),
      s"expected 1 file/key, got $after")
    assert(snapshot(dir) === before, "compaction must not change content")
    graft.util.Fs.deleteRecursively(dir)
  }

  test("q157: coalesce bins conserve bytes and cut on the running offset") {
    val inv = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang")).agg(sum(col("n_chars")).as("bytes"))
    val plan = ColumnarFormats.scanCoalescePlan(spark, sfDir)
    // conservation: binned bytes sum to the inventory total, groups to the
    // inventory count — nothing dropped, nothing double-binned
    val totalBytes = inv.agg(sum("bytes")).head.getLong(0)
    assert(plan.agg(sum("bin_bytes")).head.getLong(0) === totalBytes)
    assert(plan.agg(sum("n_groups")).head.getLong(0) === inv.count())
    // bins are contiguous from 0 (offset binning can skip a bin id only if
    // one group alone exceeds the target — then its successor starts a new
    // bin later; assert ids are sorted ascending and start at 0)
    val bins = plan.select("bin").collect().map(_.getLong(0))
    assert(bins.head === 0L)
    assert(bins.sameElements(bins.sorted))
  }
}

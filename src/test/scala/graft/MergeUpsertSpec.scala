package graft

import graft.silver.MergeUpsert
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** MERGE/upsert semantics the oracle can't see: idempotent re-apply,
  * untouched-partition preservation (dynamic overwrite really prunes),
  * and insert-vs-update row accounting. */
class MergeUpsertSpec extends SparkSpec {

  private def freshDir(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name").toString
    graft.util.Fs.deleteRecursively(d); d
  }

  private def snapshot(dir: String) = {
    import spark.implicits._
    spark.read.parquet(dir)
      .select($"event_id", $"value", $"load_seq", $"event_date")
      .collect().map(_.toString).sorted.toSeq
  }

  /** (path, size) of every data file per partition dir. */
  private def fileSig(dir: String, part: String): Seq[String] = {
    val p = Paths.get(dir, part)
    if (!Files.isDirectory(p)) Nil
    else Files.list(p).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(f => s"${f.getFileName}:${Files.size(f)}:${Files.getLastModifiedTime(f)}")
      .sorted.toSeq
  }

  test("merge: initial load + upsert = latest-wins; re-applying the same delta is a no-op") {
    val silver = freshDir("silver")
    val base = MergeUpsert.baseEvents(spark, sfDir)
    val delta = MergeUpsert.deltaEvents(spark, sfDir)
    MergeUpsert.merge(silver, base, Seq("event_id"), "load_seq", "event_date")
    MergeUpsert.merge(silver, delta, Seq("event_id"), "load_seq", "event_date")
    val once = snapshot(silver)
    // row accounting: |merged| = |base| + inserts (updates replace in place)
    val nBase = base.count()
    val nInserts = delta.filter(col("event_id") >= 1000000000L).count()
    assert(once.size === nBase + nInserts)
    // updated keys carry the delta's version and value
    val updated = spark.read.parquet(silver)
      .filter(col("event_id") % 5 === 0 && col("event_id") < 1000000000L &&
        dayofmonth(col("ts")) <= 7)
    assert(updated.filter(col("load_seq") =!= 2L).count() === 0)
    // idempotence: same delta again → byte-identical logical state
    MergeUpsert.merge(silver, delta, Seq("event_id"), "load_seq", "event_date")
    assert(snapshot(silver) === once)
  }

  test("merge DELETE arm: tombstoned keys leave the CURRENT view, re-apply is a no-op") {
    val silver = freshDir("silver_del")
    val base = MergeUpsert.baseEventsDel(spark, sfDir)
    val delta = MergeUpsert.deltaEventsDel(spark, sfDir)
    MergeUpsert.merge(silver, base, Seq("event_id"), "load_seq", "event_date")
    MergeUpsert.merge(silver, delta, Seq("event_id"), "load_seq", "event_date")
    val current = MergeUpsert.readCurrent(spark, silver, Some("deleted"))
    val nDeletes = delta.filter(col("deleted")).count()
    assert(nDeletes > 0, "fixture must exercise the delete arm")
    // every tombstoned key is gone from the CURRENT view
    val victims = delta.filter(col("deleted")).select("event_id")
    assert(current.join(victims, Seq("event_id"), "left_semi").count() === 0)
    assert(current.filter(col("deleted")).count() === 0)
    assert(current.count() === base.count() - nDeletes)
    // ...but the tombstones are RETAINED in storage (the resurrection
    // defense: only a stored tombstone can outversion a replayed batch)
    val stored = spark.read.parquet(silver)
    assert(stored.filter(col("deleted")).count() === nDeletes)
    // idempotence with deletes
    val once = snapshot(silver)
    MergeUpsert.merge(silver, delta, Seq("event_id"), "load_seq", "event_date")
    assert(snapshot(silver) === once)
  }

  test("redelivered stale batch cannot resurrect a deleted key") {
    val silver = freshDir("silver_resurrect")
    val base = MergeUpsert.baseEventsDel(spark, sfDir)
    val delta = MergeUpsert.deltaEventsDel(spark, sfDir)
    MergeUpsert.merge(silver, base, Seq("event_id"), "load_seq", "event_date")
    MergeUpsert.merge(silver, delta, Seq("event_id"), "load_seq", "event_date")
    val current = MergeUpsert.readCurrent(spark, silver, Some("deleted"))
    val visibleAfterDelete = current.count()
    // at-least-once delivery: the ORIGINAL base batch (load_seq=1) is
    // redelivered AFTER the delete batch — the stored tombstones
    // (load_seq=2) must outversion it, or deleted keys come back
    MergeUpsert.merge(silver, base, Seq("event_id"), "load_seq", "event_date")
    val replayed = MergeUpsert.readCurrent(spark, silver, Some("deleted"))
    val victims = delta.filter(col("deleted")).select("event_id")
    assert(replayed.join(victims, Seq("event_id"), "left_semi").count() === 0,
      "a redelivered stale batch resurrected deleted keys")
    assert(replayed.count() === visibleAfterDelete)
  }

  test("merge: an empty delta is a no-op (zero-row micro-batch must not fail)") {
    val silver = freshDir("silver_empty")
    val base = MergeUpsert.baseEvents(spark, sfDir)
    MergeUpsert.merge(silver, base, Seq("event_id"), "load_seq", "event_date")
    val once = snapshot(silver)
    MergeUpsert.merge(silver, base.filter(col("event_id") < 0), // empty
      Seq("event_id"), "load_seq", "event_date")
    assert(snapshot(silver) === once)
  }

  test("merge: base read is partition-pruned at the scan (PartitionFilters + numFiles)") {
    val silver = freshDir("silver_plan")
    MergeUpsert.merge(silver, MergeUpsert.baseEvents(spark, sfDir),
      Seq("event_id"), "load_seq", "event_date")
    val touched = MergeUpsert.deltaEvents(spark, sfDir)
      .select(col("event_date")).distinct().collect().map(_.get(0))
    // the exact read shape merge() builds for the base side
    val base = spark.read.parquet(silver)
      .filter(col("event_date").isin(touched: _*))
    base.write.format("noop").mode("overwrite").save()
    val scan = base.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.isDefined, "expected a FileSourceScanExec leaf")
    assert(scan.get.metadata("PartitionFilters").replaceAll("[\\[\\]\\s]", "").nonEmpty,
      "isin(touched) must reach the scan as a partition filter")
    val filesRead = scan.get.metrics("numFiles").value
    val filesTotal = Files.walk(Paths.get(silver)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .count(f => f.getFileName.toString.endsWith(".parquet"))
    assert(filesRead < filesTotal,
      s"pruned scan read $filesRead of $filesTotal files — no pruning happened")
  }

  test("merge: untouched partitions are not rewritten (dynamic overwrite prunes)") {
    val silver = freshDir("silver_prune")
    MergeUpsert.merge(silver, MergeUpsert.baseEvents(spark, sfDir),
      Seq("event_id"), "load_seq", "event_date")
    // delta touches day-of-month <= 7 only; pick an untouched partition
    val untouched = Files.list(Paths.get(silver)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.startsWith("event_date="))
      .filter(p => p.substring("event_date=".length).split("-")(2).toInt > 7)
      .sorted.head
    val before = fileSig(silver, untouched)
    assert(before.nonEmpty)
    MergeUpsert.merge(silver, MergeUpsert.deltaEvents(spark, sfDir),
      Seq("event_id"), "load_seq", "event_date")
    assert(fileSig(silver, untouched) === before,
      s"untouched partition $untouched was rewritten")
    // and a touched partition DID change content: it now has load_seq=2 rows
    val touchedRows = spark.read.parquet(silver)
      .filter(dayofmonth(col("ts")) <= 7 && col("load_seq") === 2L)
    assert(touchedRows.count() > 0)
  }
}

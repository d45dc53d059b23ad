package graft.streaming

import graft.QueryModule
import graft.ext.{Dedup, DedupMinHash}
import graft.ingest.{Landing, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** STREAMING near-duplicate detection (q148) — the marriage of the
  * streaming tier (T1/T2) and the MinHash dedup tier (E2): documents
  * arrive as micro-batches; each batch
  *
  *   1. computes its own shingle sets, MinHash signatures, and banded
  *      LSH rows (cost ∝ |batch| — [[graft.ext.DedupMinHash]]'s exact
  *      pipeline, un-checkpointed);
  *   2. probes the PERSISTED band index of everything that arrived
  *      before it (plus itself, for intra-batch pairs) — candidate work
  *      is O(|batch| · bucket-occupancy), never corpus²;
  *   3. verifies candidates with the exact Jaccard against the persisted
  *      signature store ∪ its own signatures;
  *   4. commits its verified pairs, its band rows, and its signatures,
  *      each under `batch=<id>` directories written with overwrite —
  *      foreachBatch replays (at-least-once) land on the same paths and
  *      converge, the standard idempotent-sink pattern (T2).
  *
  * Invariant (the law the oracle checks): a pair is discovered exactly
  * when its LATER document's batch arrives, so after the stream drains,
  * the union of per-batch pair files EQUALS q30's batch full-pass over
  * the whole corpus — regardless of how the corpus was cut into batches.
  * This is the continuous-crawl dedup shape at 100 TB: the settled
  * index is never re-joined against itself (q132's property), but here
  * the index GROWS under the stream's exactly-once contract instead of
  * being rebuilt per delta.
  *
  * Re-running the drained stream against its checkpoint processes zero
  * files and appends nothing — the read-back is stable, which is what
  * the oracle re-compare proves on every Verify run.
  */
object StreamNearDup extends QueryModule {

  private def listBatchDirs(root: String): Seq[String] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(p)) Nil
    else {
      val s = java.nio.file.Files.list(p)
      try s.toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("batch_"))
        .map(_.toString).toSeq.sorted
      finally s.close()
    }
  }

  /** Committed state from batches BEFORE `excludeId` — a torn earlier
    * attempt of the replaying batch itself must not serve as base state
    * (it is being overwritten by this very attempt). */
  private def readState(spark: SparkSession, root: String, excludeId: Long): Option[DataFrame] = {
    val dirs = listBatchDirs(root)
      .filterNot(_.endsWith(s"batch_$excludeId"))
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  def streamNearDup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    // the document feed: the corpus cut into 4 parquet files, drained
    // one file per micro-batch — "the crawl arrives in installments"
    val feed = Landing.ensureBuilt(Landing.fixtureDir(d, "doc_feed4")) { dd =>
      Tables.documents(spark, d).repartition(4)
        .write.mode("overwrite").parquet(dd)
    }
    val root = Landing.streamState(d, "stream_neardup")
    val ckpt = s"$root/ckpt"
    val idxRoot = s"$root/index"
    val sigRoot = s"$root/sigs"
    val pairRoot = s"$root/pairs"
    val schema = Tables.documents(spark, d).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed)
      .writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        val bSigs = DedupMinHash.signaturesOf(Dedup.shinglesOf(batch))
          .localCheckpoint() // computed once; probed, verified, and committed below
        val bBands = DedupMinHash.bandsOf(bSigs)
        val baseBands = readState(s, idxRoot, batchId)
        val baseSigs = readState(s, sigRoot, batchId)
        val probe = baseBands.map(bBands.unionByName(_)).getOrElse(bBands)
        val cand = bBands.as("x")
          .join(probe.as("y"),
            col("x.bidx") === col("y.bidx") && col("x.bhash") === col("y.bhash") &&
              col("x.doc_id") =!= col("y.doc_id"))
          .select(least(col("x.doc_id"), col("y.doc_id")).as("d1"),
            greatest(col("x.doc_id"), col("y.doc_id")).as("d2"))
          .distinct()
        val allSigs = baseSigs.map(bSigs.unionByName(_)).getOrElse(bSigs)
        DedupMinHash.verifyPairs(allSigs, cand, 0.6)
          .write.mode("overwrite").parquet(s"$pairRoot/batch_$batchId")
        bBands.write.mode("overwrite").parquet(s"$idxRoot/batch_$batchId")
        bSigs.write.mode("overwrite").parquet(s"$sigRoot/batch_$batchId")
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(listBatchDirs(pairRoot): _*)
      .orderBy($"d1", $"d2")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q148_stream_neardup" -> streamNearDup,
  )

  val oracles = Map(
    // q30's full-pass oracle VERBATIM: batch-cut independence means the
    // streamed discovery must reproduce the whole-corpus pair set
    "q148_stream_neardup" -> Dedup.pairOracle.format("0.6", ""),
  )
}

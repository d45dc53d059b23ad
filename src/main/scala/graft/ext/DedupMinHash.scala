package graft.ext

import graft.QueryModule
import graft.ingest.Landing
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash-LSH near-duplicate detection (SURVEY.md §2.12 E2) — the
  * PRODUCTION finder of the dedup tier (SCALING.md: ~linear candidate
  * growth at 96-98% recall where the exact inverted-index join grows
  * ~97× per 10× docs).
  *
  * Shape: shingle → k minhashes → banded signatures → `groupBy(band)`
  * candidate generation → exact-Jaccard verification. Cost is
  * O(candidates), NOT O(n²): only docs sharing a full band ever meet.
  * At 100 TB add a bucket-size cap (drop pathological buckets > ~10⁴
  * docs — they are exact-dup clusters better handled by the exact pass).
  *
  * Shares the checkpointed shingle table with the exact family in
  * [[Dedup]]; exposes the signature table and band layout to the prefix
  * join (q140) and the incremental path (q132).
  */
object DedupMinHash extends QueryModule {

  private val nHashes = 18
  private val nBands = 6   // 6 bands × 3 rows each

  /** E2: MinHash-LSH near-duplicate pairs, exact-Jaccard verified.
    *
    * Plan shape: ONE shuffle builds the per-doc distinct-shingle set
    * (collect_set); everything downstream — the 18 minhashes
    * (`array_min` over a per-row `transform`, no second aggregation),
    * the band hashes, and the Jaccard verification arrays — derives
    * per-row from that checkpointed set table, so the expensive
    * tokenize→explode→aggregate pipeline runs once, not once per join
    * leg ("caching policies for intermediate DataFrames",
    * Stream_Analytics_Platform.md:91). The set table is checkpointed to
    * a parquet fixture rather than `persist()`ed: persist would leak
    * MEMORY_AND_DISK blocks for the JVM lifetime on every invocation
    * (no post-action unpersist hook in the query contract), and the
    * parquet checkpoint is exactly the 100-TB pattern anyway. */
  /** The checkpointed artifact: the SIGNATURE table (doc_id, shingle
    * set, 18 minhashes) — what a production dedup pipeline stores: the
    * 18 md5-per-shingle folds are paid once at signature build, not on
    * every downstream pass. */
  private[ext] def signatures(spark: SparkSession, d: String): DataFrame =
    Landing.ensureParquetFixture(
      signaturesOf(Dedup.shingles(spark, d)), d, "minhash_signatures")

  /** The signature pipeline over arbitrary (doc_id, shingle) rows —
    * un-checkpointed, for per-micro-batch signature computation (the
    * streaming near-dup leg). */
  private[graft] def signaturesOf(sh: DataFrame): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val sets = sh
      .groupBy($"doc_id")
      .agg(collect_set($"shingle").as("sset"))
      .withColumn("n", size($"sset").cast("long"))
    val mh = (0 until nHashes).map(i =>
      array_min(transform($"sset", s => md5(concat(lit(s"$i:"), s)))).as(s"mh$i"))
    sets.select((Seq($"doc_id", $"sset", $"n") ++ mh): _*)
  }

  /** Banded LSH layout of a signature table: one (doc_id, band index,
    * band hash) row per band — the standard index a near-dup service
    * persists and probes. */
  private[graft] def bandsOf(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until nBands).map { j =>
      struct(lit(j).as("bidx"),
        md5(concat_ws("|", col(s"mh${3 * j}"), col(s"mh${3 * j + 1}"), col(s"mh${3 * j + 2}"))).as("bhash"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.bidx").as("bidx"), col("b.bhash").as("bhash"))
  }

  /** Exact-Jaccard verification of candidate (d1, d2) pairs against the
    * stored shingle sets, thresholded. */
  private[graft] def verifyPairs(sigs: DataFrame, cand: DataFrame, thr: Double): DataFrame = {
    import sigs.sparkSession.implicits._
    val v1 = sigs.select($"doc_id".as("d1"), $"sset".as("s1"), $"n".as("n1"))
    val v2 = sigs.select($"doc_id".as("d2"), $"sset".as("s2"), $"n".as("n2"))
    cand.join(v1, "d1").join(v2, "d2")
      .withColumn("n_common", size(array_intersect($"s1", $"s2")).cast("long"))
      .withColumn("jaccard", $"n_common".cast("double") / ($"n1" + $"n2" - $"n_common"))
      .filter($"jaccard" >= thr)
      .select($"d1", $"d2", $"n_common", $"n1", $"n2", $"jaccard")
      .orderBy($"d1", $"d2")
  }

  def minhashNearDupPairs(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val sigs = signatures(spark, d)
    val bands = bandsOf(sigs)
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.bidx") === col("y.bidx") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    verifyPairs(sigs, cand, 0.6)
  }

  /** E2 incremental: near-dup detection for an ARRIVING batch without
    * re-examining the settled corpus against itself. The base corpus's
    * band index is a persisted artifact (built once, like the signature
    * table); when a delta batch (here doc_id % 10 == 0 — "the new
    * crawl") arrives, only ITS bands are computed and probed against
    * the stored index plus themselves. Candidate work is
    * O(|delta| · bucket-occupancy), independent of how many base-base
    * pairs exist — the property that keeps a daily dedup pass affordable
    * when the settled corpus is 100 TB and the day's crawl is 0.1% of
    * it. Base-base pairs are, by construction, never produced: they
    * were reported when THEIR batch arrived. Output = q30's verified
    * pairs restricted to those touching the delta, which is exactly
    * what the oracle computes from scratch. */
  def incrementalNearDup(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val sigs = signatures(spark, d)
    val deltaOf = (c: Column) => c % 10 === 0
    // persisted production artifact: the settled corpus's band index
    val baseIndex = Landing.ensureParquetFixture(
      bandsOf(sigs.filter(!deltaOf($"doc_id"))), d, "minhash_band_index_base")
    // arriving batch: bands computed fresh, cost ∝ |delta|
    val deltaBands = bandsOf(sigs.filter(deltaOf($"doc_id")))
    val probe = baseIndex.unionByName(deltaBands)
    val cand = deltaBands.as("x")
      .join(probe.as("y"),
        col("x.bidx") === col("y.bidx") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("d1"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("d2"))
      .distinct()
    verifyPairs(sigs, cand, 0.6)
  }

  /** E2 via the typed-Aggregator API (SURVEY §2.11): the MinHash
    * signature computed by a custom single-pass UDAF
    * ([[graft.functions.MinHashSig]]) instead of the array_min
    * expression pipeline — one k-slot buffer per group with map-side
    * partial aggregation, so the shuffle carries signatures, never
    * shingles. The oracle derives identical digests with per-hash MIN
    * aggregates, proving UDAF ≡ expression formulation. */
  def minhashUdafSignatures(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val sig = udaf(graft.functions.MinHashSig.agg,
      org.apache.spark.sql.Encoders.STRING)
    Dedup.shingles(spark, d)
      .groupBy($"doc_id")
      .agg(sig($"shingle").as("sig"))
      .select($"doc_id" +: (0 until graft.functions.MinHashSig.numHashes)
        .map(i => element_at($"sig", i + 1).as(s"mh$i")): _*)
      .orderBy($"doc_id")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q30_minhash_neardup_pairs" -> minhashNearDupPairs,
    "q79_minhash_udaf"          -> minhashUdafSignatures,
    "q132_incremental_neardup"  -> incrementalNearDup,
  )

  val oracles = Map(
    "q30_minhash_neardup_pairs" -> Dedup.pairOracle.format("0.6", ""),
    // same exact-pair derivation, restricted to pairs touching the delta
    "q132_incremental_neardup" ->
      Dedup.pairOracle.format("0.6", " AND (d1 % 10 = 0 OR d2 % 10 = 0)"),
    "q79_minhash_udaf" -> {
      val mins = (0 until graft.functions.MinHashSig.numHashes)
        .map(i => s"min(md5('$i:' || shingle)) AS mh$i").mkString(",\n  ")
      s"""${Dedup.shingleCte}
         |SELECT doc_id,
         |  $mins
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
  )
}

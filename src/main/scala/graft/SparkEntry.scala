package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries. Every operator family from
  * SURVEY.md §2 contributes named queries here; each query with a
  * SQL-expressible oracle also contributes the equivalent DuckDB SQL.
  */
object SparkEntry {

  /** Modules in SURVEY.md §2 inventory order, the graft-jsonl-stats
    * connector's five capability modules in its place. The order never
    * reaches a result: names are unique (checked in [[queries]]). */
  private def modules: Seq[QueryModule] = Seq(
    gold.Aggregates,
    gold.Dims,
    analytics.Joins,
    analytics.Windows,
    analytics.SetOps,
    analytics.Funnel,
    silver.SemiStructured,
    ext.Dedup,
    ext.DedupMinHash,
    ext.DedupSimHash,
    ext.TextOps,
    ext.Similarity,
    ext.SimilarityAnn,
    ext.SemanticDedup,
    ext.Multimodal,
    ext.TrainPrep,
    ext.Curation,
    ext.Retrieval,
    ext.CorpusModels,
    ext.ClusterTrain,
    ext.BpeTrain,
    ext.CurationGovernance,
    ext.SpanDedup,
    ext.Mixing,
    ext.ModelEval,
    ext.DedupClusters,
    ext.Sketches,
    ingest.PipelineQueries,
    ingest.ColumnarFormats,
    ingest.DynamicPruning,
    sources.JsonlLayoutQueries,
    sources.JsonlDmlQueries,
    sources.JsonlVersionQueries,
    sources.JsonlMvQueries,
    sources.JsonlNestedQueries,
    silver.ReferenceEtl,
    analytics.Scalars,
    analytics.Sessions,
    analytics.Olap,
    analytics.ExtendedJoins,
    analytics.SkewQueries,
    analytics.SketchRollups,
    analytics.TimeSeries,
    analytics.TimeWindows,
    analytics.SqlSurface,
    analytics.GraphOps,
    gold.Backfill,
    gold.Incremental,
    silver.MergeUpsert,
    silver.Quality,
    streaming.MicroBatch,
    streaming.StreamNearDup,
    plans.TopKQueries,
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    gold.Aggregates.revenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = modules.flatMap(_.queries)
    require(all.map(_._1).distinct.size == all.size,
      s"duplicate query name across modules: " +
        all.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }.mkString(","))
    all.toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap
}

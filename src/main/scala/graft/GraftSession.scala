package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe of Bench, Verify, Explain and the specs. Every
  * session-wide setting a query relies on is set here, at build time, so
  * no query sets one and leaks it to the queries after it. `nanosAsLong`
  * reads events.parquet's TIMESTAMP(NANOS) generations (`Tables.events`
  * converts). The storage-partitioned joins (q169, q177, q242, q244) need
  * `v2.bucketing.enabled` (Spark 4.1's default, stated because their
  * plans rely on it) and `allowCompatibleTransforms` (off by default; it
  * lets `bucket(16, k)` join `bucket(8, k)` without a shuffle). */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
    .config("spark.sql.sources.v2.bucketing.enabled", "true")
    .config("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
}

package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** The warehouse tier, through catalog SQL, `CALL` and the engine's
  * continuous MV refresh: a graft-jsonl-stats fact (the reference
  * `events` table, merge-on-read deletes) and dim (`customer`), five MVs refreshed by `CALL`
  * (one per maintained shape) and a sixth kept fresh by the
  * `MvAutoRefresh` change-feed stream. Each cycle makes a 1% INSERT plus
  * an equal DELETE of the oldest live keys, dim churn every 5th cycle
  * (from cycle 0), refreshes every MV, runs two dashboard aggregates over
  * the raw fact that the MV rewrite should answer and one sketch
  * dashboard (`q230_kmv_set_sketch`: KMV audience overlap over the
  * events table). A timed step is one whole cycle. */
final class MvRefresh(spark: SparkSession, rec: Recorder, input: String, work: String, out: Path)
    extends Workload {

  private val meta = scala.io.Source.fromFile(s"$input/mv.json").mkString
  private def metaInt(k: String) = ("\"" + k + "\": (\\d+)").r.findFirstMatchIn(meta).get.group(1).toInt
  private val factRows = metaInt("fact_rows")
  private val deltaRows = metaInt("delta_rows")
  private val cycles = metaInt("cycles")
  private val sf = s"$input/sf"
  private val sketch = "q230_kmv_set_sketch"
  private var sketchHash: (Long, Long) = _
  private var state = 0
  private var cat = ""
  private var root = ""
  private var cycle = 0

  private def sum6(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE)"
  private def bodies(c: String): Seq[(String, String)] = Seq(
    "sum" -> (s"SELECT event_type, count(*) AS n, ${sum6("value")} AS value_sum " +
      s"FROM $c.fact GROUP BY event_type"),
    "join" -> (s"SELECT c_mktsegment AS seg, count(*) AS n, ${sum6("value")} AS value_sum " +
      s"FROM $c.fact JOIN $c.dim ON user_id = c_custkey GROUP BY c_mktsegment"),
    "leftouter" -> (s"SELECT COALESCE(c_mktsegment, 'none') AS seg, count(*) AS n, " +
      s"${sum6("value")} AS sv FROM $c.fact LEFT JOIN $c.dim ON user_id = c_custkey " +
      "GROUP BY COALESCE(c_mktsegment, 'none')"),
    "distinct" -> (s"SELECT event_type, count(DISTINCT user_id) AS du, count(*) AS n " +
      s"FROM $c.fact GROUP BY event_type"),
    "minmax" -> (s"SELECT event_type, min(value) AS mn, max(value) AS mx, count(*) AS n " +
      s"FROM $c.fact GROUP BY event_type"))
  /** The per-user activity MV the change-feed stream refreshes. */
  private def streamed(c: String) = "user" ->
    (s"SELECT user_id, count(*) AS n, ${sum6("value")} AS value_sum FROM $c.fact GROUP BY user_id")

  private val dashboards = Seq(
    "dash_sum" -> ((c: String) => s"SELECT event_type, count(*) AS n, ${sum6("value")} AS value_sum " +
      s"FROM $c.fact WHERE event_type <> 'view' GROUP BY event_type"),
    "dash_distinct" -> ((c: String) => s"SELECT event_type, count(DISTINCT user_id) AS du, " +
      s"count(*) AS n FROM $c.fact GROUP BY event_type"))

  override def setup(k: Int): Unit = {
    use(k)
    Files.createDirectories(Paths.get(root))
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.read.parquet(s"$sf/events.parquet").createOrReplaceTempView("bench_fact_in")
    spark.read.parquet(s"$sf/customer.parquet").createOrReplaceTempView("bench_dim_in")
    spark.sql(s"CREATE TABLE $cat.fact AS SELECT * FROM bench_fact_in")
    // deletes as deletion vectors: the change-feed stream serves appends
    // and merge-on-read deletes, not copy-on-write file rewrites
    spark.sql(s"ALTER TABLE $cat.fact SET TBLPROPERTIES ('deleteMode' = 'merge-on-read')")
    // the connector stores no 32-bit ints: c_nationkey widens to bigint
    spark.sql(s"CREATE TABLE $cat.dim AS SELECT c_custkey, c_name, " +
      "CAST(c_nationkey AS BIGINT) AS c_nationkey, c_acctbal, c_mktsegment FROM bench_dim_in")
    (bodies(cat) :+ streamed(cat)).foreach { case (shape, body) =>
      spark.sql(s"CALL $cat.create_materialized_view('mv_$shape', '${body.replace("'", "''")}')")
    }
  }

  private val cycleOf = scala.collection.mutable.Map.empty[Int, Int]
  override def use(k: Int): Unit = {
    cycleOf(state) = cycle
    state = k
    root = s"$work/mv_$k"
    cat = s"bench$k"
    cycle = cycleOf.getOrElse(k, 0)
  }

  private def dml(id: String, sql: String): Unit =
    rec.op(id, "dml") { a =>
      rec.span("sql", "sources")(spark.sql(sql))
      if (rec.tracing) {
        a("manifest_bytes") = Files.size(Paths.get(root, "fact", "_stats.jsonl"))
        a("live_files") = graft.sources.JsonlStats.readStats(s"$root/fact").size
      }
    }

  /** One untimed cycle: every refresh shape's code paths compile once.
    * It also gives the sketch dashboard's expected result hash and writes
    * that result for the DuckDB check. */
  override def warmup(): Unit = {
    runCycle()
    rec.warm(sketch) {
      val df = graft.SparkEntry.queries(sketch)(spark, sf)
      val rows = df.collect()
      sketchHash = hash(rows)
      spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
        .write.parquet(out.resolve("warm").resolve(sketch).toString)
      Files.writeString(out.resolve("oracle_sql.json"),
        Json.write(Map(sketch -> graft.SparkEntry.oracleSql(sketch))))
    }
  }

  override def step(): Boolean = cycle < cycles && { runCycle(); true }

  private def runCycle(): Unit = {
    val c = cycle
    cycle += 1
    spark.read.parquet(f"$input/deltas/fact_$c%03d.parquet").createOrReplaceTempView("bench_delta")
    dml(f"c$c%03d-insert", s"INSERT INTO $cat.fact SELECT * FROM bench_delta")
    val lo = c * deltaRows
    dml(f"c$c%03d-delete", s"DELETE FROM $cat.fact WHERE event_id >= $lo AND event_id < ${lo + deltaRows}")
    if (c % 5 == 0) {
      spark.read.parquet(f"$input/deltas/dim_$c%03d.parquet").createOrReplaceTempView("bench_dim_delta")
      dml(f"c$c%03d-dim-insert", s"INSERT INTO $cat.dim SELECT * FROM bench_dim_delta")
      dml(f"c$c%03d-dim-delete", s"DELETE FROM $cat.dim WHERE c_custkey % 97 = $c")
    }
    bodies(cat).foreach { case (shape, _) =>
      rec.op(f"c$c%03d-refresh-$shape", "refresh") { a =>
        val row = rec.span(s"refresh.$shape", "sources") {
          spark.sql(s"CALL $cat.refresh_materialized_view('mv_$shape')").collect().head
        }
        a("shape") = shape
        a("mode") = row.getString(2)
      }
    }
    // the change-feed stream drains the fact's new versions (AvailableNow)
    // and refreshes the per-user MV once per micro-batch
    rec.op(f"c$c%03d-stream-refresh", "stream") { _ =>
      rec.span("MvAutoRefresh", "streaming") {
        graft.streaming.MvAutoRefresh.start(spark, cat, "mv_user", s"$root/fact",
          s"$work/stream_ckpt_$state").awaitTermination()
      }
    }
    if (!rec.twin) {
      dashboards.foreach { case (name, sql) =>
        rec.op(f"c$c%03d-$name", "dashboard") { a =>
          val df = spark.sql(sql(cat))
          rec.span(name, "plans")(df.collect())
          a("mv_routed") = scans(df).exists(_.contains("_mv_"))
        }
      }
      if (rec.inPhase) {
        var rows: Array[Row] = null
        rec.op(f"c$c%03d-sketch", "sketch", scala.collection.mutable.Map("query" -> sketch)) { _ =>
          rows = rec.span(sketch, "ext")(graft.SparkEntry.queries(sketch)(spark, sf).collect())
        }
        if (rows != null) {
          val h = hash(rows)
          rec.check(f"c$c%03d-$sketch-hash", h == sketchHash, s"$h != $sketchHash")
        }
        checkCycle(c)
      }
    }
    rec.settle()
  }

  /** Order-insensitive hash of a result: row count and a sum of row hashes. */
  private def hash(rows: Array[Row]): (Long, Long) = {
    var a, b = 0L
    rows.foreach { r =>
      val s = r.toSeq.map(String.valueOf).mkString("\u0001")
      a += MurmurHash3.stringHash(s, 17)
      b += MurmurHash3.stringHash(s, 31)
    }
    (rows.length.toLong, (a << 32) ^ (b & 0xffffffffL))
  }

  private def scans(df: DataFrame): Seq[String] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.scan.description() }
  }

  /** Untimed: each MV's rows must equal plain Spark recomputing its body
    * over checkpointed copies of the fact and dim (a checkpoint is not a
    * graft table, so the MV rewrite cannot answer the recompute). */
  private def checkCycle(c: Int): Unit = rec.warm(f"check-c$c%03d") {
    val fact = spark.table(s"$cat.fact").localCheckpoint()
    val dim = spark.table(s"$cat.dim").localCheckpoint()
    fact.createOrReplaceTempView("bench_fact_ck")
    dim.createOrReplaceTempView("bench_dim_ck")
    val live = fact.count()
    rec.check(f"c$c%03d-fact-rows", live == factRows, live)
    (bodies(cat) :+ streamed(cat)).foreach { case (shape, body) =>
      val plain = body.replace(s"$cat.fact", "bench_fact_ck").replace(s"$cat.dim", "bench_dim_ck")
      val want = spark.sql(plain).collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val got = spark.table(s"$cat.mv_$shape").collect().map(_.toSeq.mkString("|")).sorted.toSeq
      rec.check(f"c$c%03d-mv_$shape", want == got,
        if (want == got) "" else s"want ${want.take(3)} got ${got.take(3)}")
    }
    fact.unpersist(); dim.unpersist()
  }

  override def check(): Unit = {
    rec.facts("cycles") = cycle
    rec.facts("tables_dir") = root
  }
}

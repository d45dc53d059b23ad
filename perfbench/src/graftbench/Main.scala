package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Benchmark harness: one JVM, `local[nproc]`, one client thread in a
  * closed loop (one op in flight). `perfbench/run.py` builds it, makes
  * the inputs and turns the `result.json` written here into metrics.
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --input <generated inputs> --work <scratch dir> --out <dir>
  *
  * Set-up runs [[Workload.setups]] times, each into its own state. The
  * warm-up ops run on the first state; every run then times the same
  * fixed set of ops (every generated batch or cycle) on the last state, so
  * two commits are timed on the same work after the same warm-up.
  * `seconds` only caps a timed phase that runs far slower than that.
  *
  * With `--trace 1` each timed op runs twice, untraced on the middle state
  * and traced on the last one; the tracing overhead is the difference of
  * the two. */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val trace = o("trace") == "1"
    val work = Paths.get(o("work")).toAbsolutePath.toString
    val out = Paths.get(o("out")).toAbsolutePath
    Files.createDirectories(out)
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, o("seconds").toDouble)
    val input = Paths.get(o("input")).toAbsolutePath.toString
    // the generator runs beside JVM start-up; wait for its marker
    val ready = Paths.get(input, "_READY")
    val giveUp = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(ready) && System.nanoTime() < giveUp) Thread.sleep(50)
    if (!Files.exists(ready)) sys.error(s"inputs not ready: $ready")
    val wl: Workload = workload match {
      case "etl_microbatch" => new EtlMicrobatch(spark, rec, input, work)
      case "mv_refresh" => new MvRefresh(spark, rec, input, work, out)
      case other => sys.error(s"unknown workload $other")
    }
    // wall seconds since JVM start at the end of each stage of the run
    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def stage(name: String): Unit =
      stages(name) = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    stage("session")
    val fatal = try {
      for (k <- 0 until Workload.setups) rec.setup(wl.setup(k))
      stage("setups")
      wl.use(0)
      wl.warmup()
      stage("warmup")
      val last = Workload.setups - 1
      def step(k: Int): Boolean = { wl.use(k); wl.step() }
      rec.startPhase()
      if (!trace) while (rec.running && step(last)) ()
      else {
        // each timed op runs untraced on the middle state (its twin: same
        // op id, equal state, same warm-up) and traced on the last one. The
        // second of the two gains from the first (warm caches), so which
        // goes first alternates with the op and the seed.
        rec.startTracing()
        var i = seed
        var more = true
        while (more && rec.running) {
          for (traced <- if (i % 2 == 0) Seq(false, true) else Seq(true, false) if more) {
            rec.twin = !traced
            rec.setTracing(traced)
            more = step(if (traced) last else last - 1)
            rec.setTracing(false)
          }
          rec.twin = false
          i += 1
        }
      }
      rec.finish()
      stage("timed")
      rec.facts("bytes_written") = rec.bytesWritten
      wl.use(last)
      wl.check()
      stage("check")
      null
    } catch { case t: Throwable =>
      t.printStackTrace()
      Recorder.error(t)
    }
    rec.finish()
    rec.facts("stages") = stages
    Files.writeString(out.resolve("result.json"), rec.toJson(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus.toInt,
      "fatal" -> fatal)))
    spark.stop()
    if (fatal != null) sys.exit(3)
  }
}

/** One benchmark workload, over [[Workload.setups]] independent states. */
trait Workload {
  /** Build state `k` and work on it. */
  def setup(k: Int): Unit
  /** Work on state `k` from now on, from where its ops left off. */
  def use(k: Int): Unit
  /** Untimed ops that compile the timed ops' code paths. */
  def warmup(): Unit
  /** Run the next op of the fixed timed set; false once it is done. */
  def step(): Boolean
  /** Untimed output checks of the state in use. */
  def check(): Unit
}

object Workload {
  val setups = 3
}

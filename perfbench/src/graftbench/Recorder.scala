package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into the engine: the closed loop runs one at a time. */
final case class Op(id: String, kind: String, traced: Boolean, startMs: Long,
                    durS: Double, ok: Boolean, err: String,
                    attrs: Map[String, Any])

/** A span around one call into a layer, recorded only while tracing. */
final case class Span(id: Int, parent: Int, op: String, name: String, layer: String,
                      startMs: Long, var endMs: Long, startNs: Long, var durS: Double)

/** Everything a run records: set-up times, ops, warm-up failures, check
  * results and, while tracing, spans plus the listener ledger.
  *
  * In a `--trace 0` run the only listener is [[Counters]] (bytes written
  * and task failures). [[startTracing]] adds the Spark, query-execution
  * and streaming listeners; while [[setTracing]] is on they record, and
  * ops get spans and job-group tags. Everything stays in memory until
  * [[toJson]]. */
final class Recorder(val spark: SparkSession, val seconds: Double) {
  private val sc = spark.sparkContext
  val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
  val ops = mutable.ArrayBuffer.empty[Op]
  val warmupFailures = mutable.LinkedHashMap.empty[String, String]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  private val counters = new Counters
  sc.addSparkListener(counters)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  // ------------------------------------------------------------ set-up

  /** Time one set-up. Like ops, set-ups record CPU and steal time so
    * metrics.py can take the hypervisor's steal out of the wall time. */
  def setup[T](body: => T): T = {
    val (cpu0, steal0) = (os.getProcessCpuTime, Recorder.stealSeconds)
    val t0 = System.nanoTime()
    val r = body
    setups += Map("wall_s" -> (System.nanoTime() - t0) / 1e9,
      "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9, "steal_s" -> (Recorder.stealSeconds - steal0))
    r
  }

  // ------------------------------------------------------- closed loop

  private var deadline = Long.MaxValue
  private var measuring = false
  private var heapPeak = 0L
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP)
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))

  /** Start a measured phase. The workload times its fixed op set; a
    * phase that outlasts [[Recorder.capFactor]] × `seconds` stops early
    * (the loop asks [[running]]), so a pathological commit cannot run
    * the benchmark past its time limit. */
  def startPhase(): Unit = {
    deadline = System.nanoTime() + (Recorder.capFactor * seconds * 1e9).toLong
    measuring = true
    counters.bytesWritten.set(0)
  }
  def running: Boolean = System.nanoTime() < deadline
  /** On while a traced run times an op's untraced twin: the workload
    * skips the ops that neither change its state nor make up the headline
    * op, and its checks, so a traced run stays inside the run time limit. */
  var twin = false
  def inPhase: Boolean = measuring
  def bytesWritten: Long = counters.bytesWritten.get

  /** Time one op. A throw is counted once as failed and kept out of the
    * latency figures; the loop goes on. Before the first phase starts an
    * op is warm-up: it runs untimed and only a failure is kept. */
  def op(id: String, kind: String, attrs: mutable.Map[String, Any] = mutable.Map.empty)
        (body: mutable.Map[String, Any] => Unit): Boolean =
    if (!measuring) warm(id)(body(attrs)).isDefined
    else {
      val (cpu0, steal0) = (os.getProcessCpuTime, Recorder.stealSeconds)
      val startMs = System.currentTimeMillis()
      val root = if (tracing) Some(openSpan(id, kind, "op", id)) else None
      val t0 = System.nanoTime()
      val err = try { body(attrs); null } catch { case t: Throwable => Recorder.error(t) }
      val dur = (System.nanoTime() - t0) / 1e9
      root.foreach(closeSpan)
      attrs("cpu_s") = (os.getProcessCpuTime - cpu0) / 1e9
      attrs("steal_s") = Recorder.stealSeconds - steal0
      ops += Op(id, kind, tracing, startMs, dur, err == null, err, attrs.toMap)
      err == null
    }

  /** Untimed, between ops: a full collection, then the old generation's
    * occupancy after it (`getCollectionUsage`); its peak over the run is
    * the live set the engine holds at op boundaries. */
  def settle(): Unit = warm("settle") {
    System.gc()
    heapPeak = math.max(heapPeak, oldGen.map(p => Option(p.getCollectionUsage).fold(0L)(_.getUsed)).sum)
  }

  /** Run untimed work (warm-up, checks), recording a failure by name.
    * Its time does not count against the measured phase. */
  def warm[T](name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try Some(body) catch { case t: Throwable =>
      warmupFailures(name) = Recorder.error(t)
      None
    } finally {
      val d = System.nanoTime() - t0
      if (deadline != Long.MaxValue) deadline += d
      untimed(name) = untimed.getOrElse(name, 0.0) + d / 1e9
    }
  }
  /** Wall seconds of untimed work by name, for the run's time budget. */
  val untimed = mutable.LinkedHashMap.empty[String, Double]

  def check(name: String, ok: Boolean, detail: Any = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  // ----------------------------------------------------------- tracing

  @volatile private var on = false
  def tracing: Boolean = on
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var ledger: Ledger = _
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  /** Register the listeners; they record only while [[setTracing]] is on. */
  def startTracing(): Unit = {
    ledger = new Ledger(() => on)
    sc.addSparkListener(ledger)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        if (on) queries.add(describe(qe, durationNs))
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
        val p = e.progress
        progress.add(Map(
          "ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "rows" -> p.numInputRows,
          "durationMs" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    })
  }

  /** Switch tracing between ops. Listener events arrive asynchronously,
    * so the bus is drained first: every event lands under the setting of
    * the op that caused it. */
  def setTracing(enabled: Boolean): Unit = {
    finish()
    on = enabled
  }

  /** Wrap one call into a layer. Untraced this is just `body`. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = openSpan(stack.headOption.fold("")(_.op), name, layer, "")
      try body finally closeSpan(s)
    }

  private def openSpan(op: String, name: String, layer: String, opId: String): Span = {
    val s = Span(spans.size, stack.headOption.fold(-1)(_.id), if (opId.nonEmpty) opId else op,
      name, layer, System.currentTimeMillis(), 0L, System.nanoTime(), 0.0)
    spans += s
    stack.push(s)
    sc.setJobGroup(s"${s.op}|${s.id}", name, interruptOnCancel = false)
    s
  }

  private def closeSpan(s: Span): Unit = {
    s.durS = (System.nanoTime() - s.startNs) / 1e9
    s.endMs = System.currentTimeMillis()
    stack.pop()
    stack.headOption match {
      case Some(p) => sc.setJobGroup(s"${p.op}|${p.id}", p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  /** Planning phases, scan and write counters of one executed query. */
  private def describe(qe: org.apache.spark.sql.execution.QueryExecution,
                       durationNs: Long): Map[String, Any] = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).fold(0L)(_.durationMs)
    val at = phases.values.map(_.endTimeMs).foldLeft(System.currentTimeMillis())(math.min)
    val plan = try nodes(qe.executedPlan) catch { case _: Throwable => Seq.empty }
    var scanBytes, bloom, ranges, manifestFiles, filesRead, filesWritten = 0L
    var mvScans, scans = 0
    plan.foreach {
      case b: BatchScanExec =>
        scans += 1
        def m(k: String) = b.metrics.get(k).fold(0L)(_.value)
        scanBytes += m("dataBytesRead"); bloom += m("bloomSkippedRanges")
        val desc = b.scan.description()
        if (desc.contains("_mv_")) mvScans += 1
        if (desc.startsWith("graft-jsonl-stats root=") && !desc.contains("manifest-only")) {
          ranges += (try b.inputPartitions.size catch { case _: Throwable => 0 })
          val root = desc.stripPrefix("graft-jsonl-stats root=").takeWhile(_ != ',')
          manifestFiles += (try graft.sources.JsonlStats.readStats(root).size
                            catch { case _: Throwable => 0 })
        }
      case f: FileSourceScanExec =>
        filesRead += f.metrics.get("numFiles").fold(0L)(_.value)
      case w: DataWritingCommandExec =>
        filesWritten += w.metrics.get("numFiles").fold(0L)(_.value)
      case _ =>
    }
    Map("ms" -> at, "analysisMs" -> ms("analysis"), "optimizationMs" -> ms("optimization"),
      "planningMs" -> ms("planning"), "execMs" -> durationNs / 1000000,
      "scanBytes" -> scanBytes, "bloomSkips" -> bloom, "scanRanges" -> ranges,
      "manifestFiles" -> manifestFiles, "filesRead" -> filesRead,
      "filesWritten" -> filesWritten, "mvScans" -> mvScans, "scans" -> scans)
  }

  def finish(): Unit = org.apache.spark.BenchBus.drain(sc)

  def toJson(extra: Map[String, Any]): String = {
    val m = Map[String, Any](
      "setup_s" -> setups.toSeq,
      "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "traced" -> o.traced,
        "start_ms" -> o.startMs, "dur_s" -> o.durS, "ok" -> o.ok, "err" -> o.err,
        "attrs" -> o.attrs)).toSeq,
      "warmup_failures" -> warmupFailures.toMap,
      "untimed_s" -> untimed,
      "checks" -> checks.toSeq,
      "facts" -> facts.toMap,
      "heap_peak_mb" -> heapPeak / 1048576.0,
      "task_failures" -> counters.taskFailures.get,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_s" -> s.durS)).toSeq,
      "jobs" -> Option(ledger).fold(Seq.empty[Map[String, Any]])(_.jobsJson),
      "queries" -> queries.asScala.toSeq,
      "progress" -> progress.asScala.toSeq) ++ extra
    Json.write(m)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case o => o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes)
  })
}

object Recorder {
  val capFactor = 4.0

  def error(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"

  /** CPU time the hypervisor stole from the machine the JVM runs on, all
    * CPUs summed (the `steal` column of /proc/stat); 0 where not available. */
  def stealSeconds: Double =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+")
      f(8).toDouble / 100.0
    } catch { case _: Throwable => 0.0 }
}

/** Always-on counters: cheap enough to leave registered in untraced runs. */
final class Counters extends SparkListener {
  val bytesWritten = new java.util.concurrent.atomic.AtomicLong
  val taskFailures = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.taskMetrics != null) bytesWritten.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
    if (!e.taskInfo.successful) taskFailures.incrementAndGet()
  }
}

/** Per-job work ledger, keyed by the job group `<op>|<span>`. */
final class Ledger(on: () => Boolean) extends SparkListener {
  final class JobRec(val id: Int, val group: String, val startMs: Long) {
    var endMs = 0L
    var stages, tasks, failures = 0
    var busyMs, schedWaitMs, gcMs = 0L
    var inBytes, inRecords, outBytes, outRecords, shuffleRead, shuffleWrite, spill = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val stageSubmit = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on()) synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRec(e.jobId, g, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failures += 1
      stageSubmit.get(e.stageId).foreach(s => j.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        j.busyMs += m.executorRunTime; j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead; j.inRecords += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten; j.outRecords += m.outputMetrics.recordsWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def jobsJson: Seq[Map[String, Any]] = synchronized {
    jobs.values.map(j => Map[String, Any]("id" -> j.id, "group" -> j.group,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks,
      "failures" -> j.failures, "busy_ms" -> j.busyMs, "sched_wait_ms" -> j.schedWaitMs,
      "gc_ms" -> j.gcMs, "in_bytes" -> j.inBytes, "in_records" -> j.inRecords,
      "out_bytes" -> j.outBytes, "out_records" -> j.outRecords,
      "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite,
      "spill" -> j.spill)).toSeq
  }
}

/** Minimal JSON writer for the maps, sequences and scalars above. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n"); case '\r' => sb.append("\\r"); case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case f: Float => go(f.toDouble)
      case n: Number => sb.append(n.toString)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.iterator.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb.append(','); str(k.toString); sb.append(':'); go(y) }
        sb.append('}')
      case s: Iterable[_] =>
        sb.append('[')
        s.iterator.zipWithIndex.foreach { case (y, i) => if (i > 0) sb.append(','); go(y) }
        sb.append(']')
      case a: Array[_] => go(a.toSeq)
      case o => str(o.toString)
    }
    go(v)
    sb.toString
  }
}

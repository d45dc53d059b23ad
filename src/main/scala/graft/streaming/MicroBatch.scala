package graft.streaming

import graft.QueryModule
import graft.ingest.{Landing, Tables}
import graft.util.Det._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured-Streaming leg (SURVEY.md §2.10 T1/T2/T4).
  *
  * The reference deliberately does micro-batch via a file buffer — a
  * consumer writes bounded JSONL batch files, Spark processes them as
  * batches (Stream_Analytics_Platform.md:11,21-24). The Spark-native
  * equivalent is a file-source stream with `Trigger.AvailableNow`:
  *
  *   - T1 (bounded micro-batches): AvailableNow drains exactly the files
  *     present, in file-batch increments, then stops.
  *   - T2 (at-least-once → effectively exactly-once): the checkpoint dir
  *     replaces the consumer group's committed offsets; a re-run
  *     reprocesses nothing, so the parquet sink stays stable — which the
  *     oracle check proves (same hash on every Verify run).
  *   - T4 (watermark + event-time window): not required for parity, but
  *     the windowed variant runs a 1-day tumbling event-time window with
  *     a watermark through the same trigger.
  *
  * At scale: the file source lists/partitions new files across executors
  * like any FileScan; state for the windowed agg is bounded by
  * (days × event types).
  */
object MicroBatch extends QueryModule {

  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Streaming queries keep one state-store instance PER shuffle
    * partition per stateful operator, and every micro-batch pays a
    * create/commit round-trip on each instance. With the session
    * default of 32 partitions and the bounded state these queries
    * carry (days×types windows, per-user sessions, watermark-horizon
    * dedup keys), that fixed cost dominates: q58 measured 1.55 s at
    * sf0.001 — almost entirely store bookkeeping, not rows (r6→r7
    * drift bisect). The streaming leg therefore plans its queries in a
    * derived session pinned to 8 state partitions — the same
    * session-level lever a production deployment sizes by expected
    * state volume, not a query rewrite. The partition count is locked
    * into each checkpoint's offset log on first start, so existing
    * checkpoints keep whatever they were created with and restarts
    * stay stable regardless of the session default. */
  private[graft] def streamSession(spark: SparkSession, partitions: Int = 8): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    s
  }

  private val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
  private val wireSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("ts_str", StringType)))

  /** Landing fixture shared with the batch ingest queries. */
  private def ensureLanding(spark: SparkSession, d: String): String = {
    import spark.implicits._
    val wire = Tables.events(spark, d).select(
      $"event_id", $"user_id", $"event_type", $"value",
      date_format($"ts", tsFmt).as("ts_str"))
    Landing.ensureJsonlFixture(wire, d, "events_jsonl")
  }

  /** T1+T2: file-buffer micro-batch stream → typed transform → parquet
    * sink with checkpoint → batch read-back aggregate. */
  def streamMicrobatch(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val landing = ensureLanding(spark, d)
    val sink = Landing.fixtureDir(d, "stream_sink_events")
    val ckpt = Landing.fixtureDir(d, "stream_ckpt_events")
    val q = spark.readStream.schema(wireSchema).json(landing)
      .withColumn("ts", to_timestamp($"ts_str", tsFmt))
      // no null-dropping here: the oracle groups nulls, so the engine
      // must too (a dead filter today, a silent divergence the day the
      // feed carries a null event_type — review r5)
      .select($"event_id", $"user_id", $"event_type", $"value", $"ts")
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(sink)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
           msum($"value").as("total_value"),
           count($"ts").as("n_ts"))
      .orderBy($"event_type")
  }

  /** T4: watermarked 1-day event-time tumbling window over the same
    * stream, complete-mode memory sink (bounded result). */
  def streamWindowed(spark0: SparkSession, d: String): DataFrame = {
    val landing = ensureLanding(spark0, d)
    val spark = streamSession(spark0)
    import spark.implicits._
    // unique per start: a memory-sink query name cannot be reused within
    // one JVM session (bench runs each query twice)
    val name = "stream_windowed_" + d.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + runSeq.incrementAndGet()
    val q = spark.readStream.schema(wireSchema).json(landing)
      .withColumn("ts", to_timestamp($"ts_str", tsFmt))
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 day").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"), msumDec($"value").as("total_dec"))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
      .select($"w.start".cast("date").as("day"), $"event_type",
        $"n_events", $"total_dec".cast("double").as("total_value"))
      .orderBy($"day", $"event_type")
  }

  /** T4+: watermarked stream-stream inner join — purchase events joined
    * to the same user's error events in the preceding hour (the
    * streaming twin of the batch time-proximity join q08). Both sides
    * carry watermarks so join state is bounded; with AvailableNow over
    * the bounded fixture the emitted matches equal the batch join, which
    * is exactly what the oracle checks. */
  /** Shared purchase/error watermarked stream pair + time-bound join
    * predicate for q68/q131: drains the landing feed, writes the joined
    * rows (join type supplied) to the named parquet sink, returns the
    * sink read back.
    *
    * The fixture's JSONL files are not time-ordered, so a multi-batch
    * drain could let the 1-hour watermark evict state holding
    * cross-batch matches. maxFilesPerTrigger far above the fixture's
    * file count guarantees AvailableNow drains it as ONE batch; at
    * production scale the landing feed is time-ordered per batch file
    * (the consumer writes them in arrival order), so the watermark
    * bound is the real state cap there. */
  private def purchaseErrorJoinSink(spark0: SparkSession, d: String,
                                    name: String, joinType: String,
                                    keepErrorKey: Boolean = false): DataFrame = {
    val landing = ensureLanding(spark0, d)
    val spark = streamSession(spark0)
    import spark.implicits._
    val sink = Landing.fixtureDir(d, s"${name}_sink")
    val ckpt = Landing.fixtureDir(d, s"${name}_ckpt")
    def src = spark.readStream.schema(wireSchema)
      .option("maxFilesPerTrigger", "1000000")
      .json(landing)
      .withColumn("ts", to_timestamp($"ts_str", tsFmt))
    val purchases = src.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val errors = src.filter($"event_type" === "error")
      .select($"user_id".as("e_user"), $"ts".as("e_ts"))
      .withWatermark("e_ts", "1 hour")
    // full outer emits error-only rows whose only key is e_user — keep
    // it for that join shape (a new column changes the sink schema, so
    // it is opt-in rather than retrofitted onto the q68/q131 sinks)
    val projection =
      if (keepErrorKey) Seq($"purchase_id", $"user_id", $"p_ts", $"e_user", $"e_ts")
      else Seq($"purchase_id", $"user_id", $"p_ts", $"e_ts")
    val q = purchases.join(errors,
        purchases("user_id") === errors("e_user") &&
          errors("e_ts") < purchases("p_ts") &&
          errors("e_ts") >= purchases("p_ts") - expr("INTERVAL 1 HOUR"),
        joinType)
      .select(projection: _*)
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(sink)
  }

  def streamStreamJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    purchaseErrorJoinSink(spark, d, "stream_join", "inner")
      .groupBy($"user_id")
      .agg(countDistinct($"purchase_id").as("n_purchases_with_errors"),
           count(lit(1)).as("n_pairs"))
      .orderBy($"user_id")
  }

  /** T4+: watermarked stream-stream LEFT OUTER join — q68's pairing,
    * but purchases with NO error in the preceding hour are kept as
    * null-extended rows. The engine can only emit an outer row once the
    * watermark PROVES no matching error can still arrive, so purchases
    * inside the final watermark delay of the feed are still sitting in
    * join state when an AvailableNow drain terminates — they are
    * neither matched nor null-extended yet. Both legs therefore
    * restrict to the certainty horizon: strictly below the final
    * GLOBAL watermark, so every kept purchase has a committed
    * outer/match verdict, and inside it streaming left-outer ≡ batch
    * left-outer, which is what the oracle checks.
    *
    * The global watermark is the MIN over both inputs' per-stream
    * watermarks — min(max p_ts, max e_ts) − 1 h — NOT "last event of
    * the feed minus 1 h" (review r5: deriving the horizon from the
    * all-events max silently under-shoots whenever the final stretch
    * of the feed happens to contain no error (or no purchase) event,
    * leaving in-horizon purchases stuck in state and the compare
    * corpus-timing-dependent). The extra hour of margin on top keeps
    * the bound strict. One scalar aggregate over the bounded fixture —
    * at production scale it is "now minus the delays", known without
    * any scan. */
  /** Certainty-horizon predicate for [[streamOuterJoin]]. Degenerate
    * corpus (no purchase or no error events at all): no global watermark
    * exists, so NOTHING is certain — the correct committed result is
    * empty, which is also what the batch oracle derives. Guarded here
    * rather than NPE-ing on a null Timestamp min. */
  private[graft] def outerHorizonCond(maxP: Option[java.sql.Timestamp],
                                      maxE: Option[java.sql.Timestamp]): Column =
    (maxP, maxE) match {
      case (Some(p), Some(e)) =>
        val horizon = if (p.getTime <= e.getTime) p else e
        col("p_ts") <= lit(horizon) - expr("INTERVAL 2 HOURS")
      case _ => lit(false)
    }

  /** T4+: watermarked stream-stream FULL OUTER join — the last member
    * of the outer family: matches, purchases with no preceding-hour
    * error, AND orphan errors no purchase followed within the hour. An
    * error-only verdict needs the watermark past e_ts + 1 h (a future
    * purchase up to an hour later could still match it), one hour later
    * than a purchase-only verdict needs — so the certainty horizon is
    * PER PERSPECTIVE: purchase-anchored rows (matched or clean) keep
    * q131's horizon − 2 h, error-only rows take horizon − 3 h. The mix
    * is exact, not an approximation: a kept purchase's candidate errors
    * all precede it (e < p ≤ H−2h), and a kept error's candidate
    * purchases all precede H−2h, so every kept row's verdict is
    * committed and decidable from the same event population the batch
    * oracle joins — restricting a SINGLE shared cutoff can never close
    * a full outer join (any boundary cuts matched pairs whose two
    * timestamps straddle it, turning one engine's match into the
    * other's two orphans). */
  def streamFullOuterJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val joined = purchaseErrorJoinSink(spark, d, "stream_full_outer", "fullOuter",
      keepErrorKey = true)
    val ev = graft.ingest.Tables.events(spark, d)
    val wmRow = ev.agg(
      max(when($"event_type" === "purchase", $"ts")).as("max_p"),
      max(when($"event_type" === "error", $"ts")).as("max_e")).first()
    val cond = (Option(wmRow.getTimestamp(0)), Option(wmRow.getTimestamp(1))) match {
      case (Some(p), Some(e)) =>
        val horizon = if (p.getTime <= e.getTime) p else e
        when($"p_ts".isNotNull, $"p_ts" <= lit(horizon) - expr("INTERVAL 2 HOURS"))
          .otherwise($"e_ts" <= lit(horizon) - expr("INTERVAL 3 HOURS"))
      case _ => lit(false) // no global watermark — nothing is certain
    }
    joined.filter(cond)
      .groupBy(coalesce($"user_id", $"e_user").as("user_key"))
      .agg(
        sum(when($"p_ts".isNotNull && $"e_ts".isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when($"p_ts".isNotNull && $"e_ts".isNull, 1L).otherwise(0L)).as("n_clean_purchases"),
        sum(when($"p_ts".isNull, 1L).otherwise(0L)).as("n_orphan_errors"))
      .orderBy($"user_key")
  }

  def streamOuterJoin(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val joined = purchaseErrorJoinSink(spark, d, "stream_outer", "leftOuter")
    val ev = graft.ingest.Tables.events(spark, d)
    val wmRow = ev.agg(
      max(when($"event_type" === "purchase", $"ts")).as("max_p"),
      max(when($"event_type" === "error", $"ts")).as("max_e")).first()
    joined
      .filter(outerHorizonCond(Option(wmRow.getTimestamp(0)), Option(wmRow.getTimestamp(1))))
      .groupBy($"user_id")
      .agg(countDistinct($"purchase_id").as("n_purchases"),
        sum(when($"e_ts".isNull, 1L).otherwise(0L)).as("n_clean"),
        sum(when($"e_ts".isNotNull, 1L).otherwise(0L)).as("n_pairs"))
      .orderBy($"user_id")
  }

  /** E1×T: streaming dedup — the landing feed re-delivers every event
    * twice (the at-least-once redelivery scenario);
    * `dropDuplicatesWithinWatermark` on the event key collapses them
    * with state bounded by the watermark horizon (plain streaming
    * `dropDuplicates` would hold ALL keys forever — the unbounded-state
    * trap at 100 TB). The oracle is the clean batch table: streaming
    * dedup must reconstruct it exactly. */
  def streamDedup(spark0: SparkSession, d: String): DataFrame = {
    val landing = {
      import spark0.implicits._
      val wire = Tables.events(spark0, d).select(
        $"event_id", $"user_id", $"event_type", $"value",
        date_format($"ts", tsFmt).as("ts_str"))
      Landing.ensureJsonlFixture(wire.union(wire), d, "events_dup_jsonl")
    }
    val spark = streamSession(spark0)
    import spark.implicits._
    val sink = Landing.fixtureDir(d, "stream_dedup_sink")
    val ckpt = Landing.fixtureDir(d, "stream_dedup_ckpt")
    // single AvailableNow batch for the unordered fixture (see q68 note)
    val q = spark.readStream.schema(wireSchema)
      .option("maxFilesPerTrigger", "1000000")
      .json(landing)
      .withColumn("ts", to_timestamp($"ts_str", tsFmt))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select($"event_id", $"user_id", $"event_type", $"value", $"ts")
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(sink)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
           countDistinct($"event_id").as("n_distinct"),
           msum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  /** T2 made explicit with `foreachBatch`: each micro-batch lands in a
    * batch-id-keyed directory with overwrite mode, so a replayed batch
    * (crash between sink write and checkpoint commit — the at-least-once
    * window) overwrites its own output instead of duplicating it. That
    * idempotent-sink + checkpoint pair is exactly-once end to end, which
    * the oracle observes: the read-back aggregate equals the clean batch
    * table on every re-run. */
  def streamForeachBatch(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val landing = ensureLanding(spark, d)
    val outRoot = Landing.fixtureDir(d, "febatch_out")
    val ckpt = Landing.fixtureDir(d, "febatch_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.schema(wireSchema).json(landing)
        .withColumn("ts", to_timestamp($"ts_str", tsFmt))
        .select($"event_id", $"user_id", $"event_type", $"value", $"ts")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$outRoot/batch_$batchId")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // Read back by LISTING the batch dirs, never by glob: an unmatched
    // glob throws PATH_NOT_FOUND whose stack trace polluted the r3 bench
    // stdout (VERDICT r3 "What's wrong" #3). Self-heal compares the
    // dirs on disk against the checkpoint's COMMITTED batch ids — a
    // PARTIAL loss (some batch dirs gone under a committed checkpoint)
    // must also replay, not just the all-gone case (review r5: the
    // nonEmpty-only check silently dropped the missing batch's rows).
    // The heal wipes checkpoint AND output and re-drains once — exactly
    // a backfill replay; the idempotent batch-id-keyed sink makes it
    // converge.
    def batchDirs(): Seq[String] = {
      val root = java.nio.file.Paths.get(outRoot)
      if (!java.nio.file.Files.isDirectory(root)) Nil
      else {
        val s = java.nio.file.Files.list(root)
        try s.toArray
          .map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.startsWith("batch_"))
          .map(_.toString).toSeq
        finally s.close()
      }
    }
    def committedIds(): Set[Long] = {
      val c = java.nio.file.Paths.get(ckpt, "commits")
      if (!java.nio.file.Files.isDirectory(c)) Set.empty
      else {
        val s = java.nio.file.Files.list(c)
        try s.toArray
          .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
          .filter(n => n.nonEmpty && n.forall(_.isDigit))
          .map(_.toLong).toSet
        finally s.close()
      }
    }
    def healthy(): Boolean = {
      val have = batchDirs()
        .map(_.split("batch_").last).filter(_.forall(_.isDigit))
        .map(_.toLong).toSet
      have.nonEmpty && committedIds().subsetOf(have)
    }
    drain()
    if (!healthy()) {
      graft.util.Fs.deleteRecursively(ckpt)
      graft.util.Fs.deleteRecursively(outRoot)
      drain()
    }
    val dirs = batchDirs()
    require(dirs.nonEmpty, s"foreachBatch produced no batch dirs under $outRoot")
    spark.read.parquet(dirs: _*)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
           countDistinct($"user_id").as("n_users"),
           msum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  /** T+: stream–static enrichment — the most common production
    * streaming join: a fact stream enriched against a dimension table.
    * The join is STATELESS (no watermark, no join state — each
    * micro-batch joins against the dim as-of that batch, so a dim
    * update is picked up by the next trigger), and the dim side is
    * broadcast: the stream side never shuffles, which is the only
    * shape that holds when the stream is the 100-TB leg. Sink +
    * checkpoint follow the q57 exactly-once contract. */
  def streamStaticEnrich(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val landing = ensureLanding(spark, d)
    val sink = Landing.fixtureDir(d, "stream_enrich_sink")
    val ckpt = Landing.fixtureDir(d, "stream_enrich_ckpt")
    val dim = Tables.customer(spark, d)
      .select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
    val q = spark.readStream.schema(wireSchema).json(landing)
      .withColumn("ts", to_timestamp($"ts_str", tsFmt))
      .select($"event_id", $"user_id", $"event_type", $"value")
      .join(broadcast(dim), Seq("user_id"), "left") // unknown users kept
      .writeStream
      .format("parquet")
      .option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(sink)
      .groupBy(coalesce($"segment", lit("UNKNOWN")).as("segment"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
           msum($"value").as("total_value"))
      .orderBy($"segment", $"event_type")
  }

  /** T4++: event-time SESSIONIZATION in the streaming engine — native
    * `session_window` (gap-merged state, MergingSessionsExec) under a
    * watermark, the streaming twin of the batch q66. Complete-mode
    * memory sink keeps every session (the fixture is bounded); in a
    * continuous deployment the same query runs in update/append mode
    * and the watermark is what bounds session state — sessions older
    * than the horizon are finalized and evicted, which is the only
    * shape that survives an unbounded stream. */
  def streamSessions(spark0: SparkSession, d: String): DataFrame = {
    val landing = ensureLanding(spark0, d)
    val spark = streamSession(spark0)
    import spark.implicits._
    val name = "stream_sessions_" + d.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + runSeq.incrementAndGet()
    val q = spark.readStream.schema(wireSchema)
      .option("maxFilesPerTrigger", "1000000") // unordered fixture: one batch
      .json(landing)
      .withColumn("ts", to_timestamp($"ts_str", tsFmt))
      .withWatermark("ts", "1 hour")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end"), $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  /** T4+++: the `transformWithState` sessionizer (Spark 4's
    * arbitrary-state API — named ValueState under the REQUIRED RocksDB
    * state-store provider) run as a real streaming query over the
    * landing buffer. Same per-user gap transition as q70's
    * mapGroupsWithState (the shared `StatefulSessions` state machine),
    * so the q70 oracle pins both APIs to the same sessions. The
    * provider swap is scoped to this query and restored — the other
    * streaming legs keep the default HDFS-backed store. */
  def streamTransformWithState(spark0: SparkSession, d: String): DataFrame = {
    val landing = ensureLanding(spark0, d)
    val spark = streamSession(spark0)
    import spark.implicits._
    val name = "stream_tws_" + d.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + runSeq.incrementAndGet()
    graft.util.Confs.withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val q = spark.readStream.schema(wireSchema)
        .option("maxFilesPerTrigger", "1000000") // unordered fixture: one batch
        .json(landing)
        .withColumn("ts", to_timestamp($"ts_str", tsFmt))
        .select($"user_id", unix_micros($"ts").as("ts_us"))
        .as[StatefulSessions.Ev]
        .groupByKey(_.user_id)
        .transformWithState(
          new StatefulSessions.SessionProcessor(StatefulSessions.defaultGapUs),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF()
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
      .select($"user_id", $"n_sessions", $"n_events")
      .orderBy($"user_id")
  }

  /** T4+++++ (q147): timer-closed sessions — `transformWithState` under
    * `TimeMode.EventTime` with a zero-delay watermark. Non-trailing
    * sessions close inline when the gap-breaking event arrives; each
    * user's TRAILING session closes only when its event-time timer
    * (last event + 30 min) falls at or below the final watermark, fired
    * by the engine's post-data no-data batch — emission with no
    * subsequent event for the key, which is the feature under test.
    * Trailing sessions still inside the gap at end-of-stream stay open
    * and are (correctly) absent. The batch oracle derives the same set:
    * gap-sessionize, then keep sessions whose ms-granular close horizon
    * (timers are ms-based) is ≤ the global max event time. */
  def streamTimerSessions(spark0: SparkSession, d: String): DataFrame = {
    val landing = ensureLanding(spark0, d)
    val spark = streamSession(spark0)
    import spark.implicits._
    val name = "stream_timer_sess_" + d.replaceAll("[^A-Za-z0-9]", "_") +
      "_" + runSeq.incrementAndGet()
    graft.util.Confs.withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val q = spark.readStream.schema(wireSchema)
        .option("maxFilesPerTrigger", "1000000") // one data batch; timers fire in the no-data batch
        .json(landing)
        .withColumn("ts", to_timestamp($"ts_str", tsFmt))
        .withWatermark("ts", "0 seconds")
        .select($"user_id", unix_micros($"ts").as("ts_us"), $"ts")
        .as[StatefulSessions.TimedEv]
        .groupByKey(_.user_id)
        .transformWithState(
          new StatefulSessions.TimerSessionProcessor(StatefulSessions.defaultGapUs),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF()
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
      .select($"user_id", $"session_start_us", $"session_end_us", $"n_events")
      .orderBy($"user_id", $"session_start_us")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q57_stream_microbatch" -> streamMicrobatch,
    "q147_stream_timer_sessions" -> streamTimerSessions,
    "q105_stream_static_enrich" -> streamStaticEnrich,
    "q109_stream_sessions" -> streamSessions,
    "q123_stream_transform_with_state" -> streamTransformWithState,
    "q58_stream_windowed"   -> streamWindowed,
    "q68_stream_stream_join" -> streamStreamJoin,
    "q131_stream_outer_join" -> streamOuterJoin,
    "q168_stream_full_outer_join" -> streamFullOuterJoin,
    "q77_stream_dedup"      -> streamDedup,
    "q81_stream_foreachbatch" -> streamForeachBatch,
  )

  val oracles = Map(
    // q70's oracle verbatim: mapGroupsWithState, transformWithState and
    // the SQL window derivation must all agree on the same sessions
    "q123_stream_transform_with_state" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |), flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id,
        |  CAST(SUM(new_session) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM flagged
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // q70's gap derivation, restricted to sessions CLOSED at the final
    // watermark: non-trailing sessions (a later event broke the gap) are
    // always closed; trailing ones only when last_event + 30 min — at the
    // TIMER's ms granularity — is at or below the global max event time
    // (delay 0 ⇒ final watermark = max ts). Non-trailing sessions satisfy
    // the horizon by construction (their gap-breaker is ≤ max ts), so one
    // WHERE covers both emission paths.
    "q147_stream_timer_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |), flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessioned AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM flagged
        |), sessions AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS session_start_us,
        |         MAX(epoch_us(ts)) AS session_end_us,
        |         COUNT(*) AS n_events
        |  FROM sessioned GROUP BY user_id, session_idx
        |)
        |SELECT user_id, session_start_us, session_end_us, n_events
        |FROM sessions
        |WHERE session_end_us // 1000 + 1800000 <= (SELECT MAX(epoch_us(ts)) // 1000 FROM e)
        |ORDER BY user_id, session_start_us""".stripMargin,
    // identical derivation to q66's batch oracle: the streaming engine
    // must produce the same sessions as the batch session_window
    "q109_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessioned AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(*) AS n_events
        |FROM sessioned
        |GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start""".stripMargin,
    "q105_stream_static_enrich" ->
      """SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
        |  e.event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY segment, e.event_type
        |ORDER BY segment, e.event_type""".stripMargin,
    "q57_stream_microbatch" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |  COUNT(ts) AS n_ts
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q68_stream_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT p.user_id,
        |  COUNT(DISTINCT p.event_id) AS n_purchases_with_errors,
        |  COUNT(*) AS n_pairs
        |FROM e p JOIN e err
        |  ON err.user_id = p.user_id AND err.event_type = 'error'
        | AND err.ts < p.ts AND err.ts >= p.ts - INTERVAL 1 HOUR
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.user_id
        |ORDER BY p.user_id""".stripMargin,
    "q131_stream_outer_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |h AS (SELECT LEAST(
        |    MAX(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END),
        |    MAX(CASE WHEN event_type = 'error' THEN CAST(ts AS TIMESTAMP) END))
        |  - INTERVAL 2 HOUR AS horizon FROM events)
        |SELECT p.user_id,
        |  COUNT(DISTINCT p.event_id) AS n_purchases,
        |  COUNT(*) FILTER (WHERE err.user_id IS NULL) AS n_clean,
        |  COUNT(err.user_id) AS n_pairs
        |FROM e p LEFT JOIN e err
        |  ON err.user_id = p.user_id AND err.event_type = 'error'
        | AND err.ts < p.ts AND err.ts >= p.ts - INTERVAL 1 HOUR
        |WHERE p.event_type = 'purchase' AND p.ts <= (SELECT horizon FROM h)
        |GROUP BY p.user_id
        |ORDER BY p.user_id""".stripMargin,
    "q168_stream_full_outer_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |h AS (SELECT LEAST(
        |    MAX(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END),
        |    MAX(CASE WHEN event_type = 'error' THEN CAST(ts AS TIMESTAMP) END))
        |  AS horizon FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, ts FROM e WHERE event_type = 'purchase'),
        |er AS (SELECT user_id, ts FROM e WHERE event_type = 'error'),
        |fo AS (
        |  SELECT p.user_id AS p_user, p.ts AS p_ts, er.user_id AS e_user, er.ts AS e_ts
        |  FROM p FULL JOIN er
        |    ON er.user_id = p.user_id
        |   AND er.ts < p.ts AND er.ts >= p.ts - INTERVAL 1 HOUR)
        |SELECT COALESCE(p_user, e_user) AS user_key,
        |  COUNT(*) FILTER (WHERE p_ts IS NOT NULL AND e_ts IS NOT NULL) AS n_matched,
        |  COUNT(*) FILTER (WHERE p_ts IS NOT NULL AND e_ts IS NULL) AS n_clean_purchases,
        |  COUNT(*) FILTER (WHERE p_ts IS NULL) AS n_orphan_errors
        |FROM fo, h
        |WHERE CASE WHEN p_ts IS NOT NULL THEN p_ts <= h.horizon - INTERVAL 2 HOUR
        |      ELSE e_ts <= h.horizon - INTERVAL 3 HOUR END
        |GROUP BY user_key
        |ORDER BY user_key""".stripMargin,
    "q81_stream_foreachbatch" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q77_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_id) AS n_distinct,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q58_stream_windowed" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,
  )
}

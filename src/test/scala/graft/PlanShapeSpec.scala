package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Executable scale-audit: the plan properties the 100-TB design rules
  * demand, asserted over the WHOLE registered query surface so a future
  * edit can't silently regress them (the runtime twin of `.explain`
  * eyeballing).
  */
class PlanShapeSpec extends SparkSpec {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def planNodes(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan).map(_.nodeName)
  }

  // Bounded-broadcast nested loops that are deliberate and documented:
  // q32 broadcasts the 1-row corpus count, q33 the 8-row query set,
  // q65 the K-row centroid/probe tables, q116 the 14-row day-offset
  // VALUES expansion of the level-batched recursive calendar (anchors ×
  // offsets — both sides calendar-sized, never data-sized), q121 the
  // 1-row absmax quantizer and the 8-row query-code set (the SQ8 scan
  // streams the code table past the broadcast query codes, O(N·|Q|)),
  // q149 the 1-row vocabulary-size scalar, q150 the 1-row (N, avgdl)
  // corpus-stats scalar (the constant-on-one join folds to a broadcast
  // loop over a single row — O(N), the intended scalar attach), q155
  // the 1-row calendar-span scalar crossed with the priority dictionary
  // (both sides bounded: dictionary × 1 row, never data-sized).
  // q183's semantic leg is q33's shape verbatim (5 broadcast probes
  // streamed past the candidates, O(N·|probes|)), plus q150's 1-row
  // corpus-stats scalar on the lexical leg. q193 attaches the 1-row
  // corpus-totals and vocabulary scalars to the |classes|-row constant
  // table, then streams docTok past the broadcast |classes|-row frame
  // (the NB score-every-class fan-out — O(N·|classes|), |classes| =
  // distinct langs, never data-sized); q194 attaches the 1-row
  // (ntok, btot) corpus-stats scalar to the PMI pair table; q199
  // streams the feature table past the broadcast 1-row weight frame
  // (the GD scoring pass — the model IS one row), and q209 the same
  // corpus past the G-row (G=3) config-weight grid; q206 attaches the
  // 1-row digit-total scalar to the 9-row digit table; q211 the 1-row
  // order-count scalar to the min-support-floored rule table. q195's
  // seeding/assign passes stream the corpus past the broadcast K-row
  // (K=4) centroid frame — q65's shape, model-sized never data-sized.
  // q202 attaches the 1-row corpus-count scalar to the d²-cell
  // covariance build and the 1-row max-norm scalar to each d-row power
  // iterate — every nested-loop side is model- or scalar-sized.
  private val allowedNestedLoop = Set(
    "q32_tfidf_top_terms", "q33_cosine_topk_exact", "q65_ann_centroid_probe",
    "q116_recursive_calendar", "q121_ann_sq8",
    "q149_perplexity_filter", "q150_bm25_topk", "q155_gap_fill_locf",
    "q183_hybrid_rrf", "q193_naive_bayes_lang", "q194_pmi_collocations",
    "q195_kmeans_train", "q199_gd_classifier", "q202_pca_power",
    "q206_benford_audit", "q209_gd_grid_search", "q211_association_rules",
    "q213_kneser_ney", // q213: 1-row bigram-type-count scalar, the q149/q150 shape
    "q270_connector_cosine_topk") // q33's shape verbatim, corpus read from the connector

  test("no registered query plans a cartesian product; nested-loop joins only where documented") {
    val offenders = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val ns = try planNodes(name) catch { case e: Throwable =>
        fail(s"$name failed to plan: ${e.getMessage}")
      }
      if (ns.exists(_.contains("CartesianProduct")))
        offenders += s"$name: CartesianProduct"
      if (ns.exists(_.contains("BroadcastNestedLoopJoin")) && !allowedNestedLoop(name))
        offenders += s"$name: undocumented BroadcastNestedLoopJoin"
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("column pruning reaches the scan: daily revenue reads only the two columns it needs") {
    val df = SparkEntry.queries("q02_daily_revenue")(spark, sfDir)
    val scans = nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val readCols = scans.head.requiredSchema.fieldNames.toSet
    assert(readCols === Set("o_orderdate", "o_totalprice"),
      s"scan reads $readCols — pruning regressed")
  }

  test("bounded dims broadcast: revenue_by_nation joins nation/region via broadcast hash") {
    val ns = planNodes("q03_revenue_by_nation")
    assert(ns.count(_.contains("BroadcastHashJoin")) >= 1, ns.mkString(","))
    assert(!ns.exists(_.contains("CartesianProduct")))
  }

  // AQE skew-join demonstration next to the manual salting (VERDICT r4
  // "Next round" #5): q82/q86 prove the MANUAL salted join; this case
  // proves that on the plain BATCH path the engine does not need it —
  // under spark.sql.adaptive.skewJoin, OptimizeSkewedJoin splits the hot
  // partition at runtime (the executed SortMergeJoin carries
  // isSkewJoin=true). Manual salting (util/Skew.scala) remains REQUIRED
  // where AQE cannot reach: stateful/streaming joins (AQE is disabled in
  // stateful workloads — see the ResolveWriteToStream warning), custom
  // partitioners whose placement must be preserved, and any join whose
  // skewed side feeds a node that must not be re-planned (e.g. the
  // bucketed zero-Exchange join of q64, where a runtime split would
  // reintroduce the shuffle the bucketing exists to avoid).
  test("AQE skew join: a hot-key join splits the skewed partition at runtime (no manual salt)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, when}
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // shrink the detection thresholds so the test corpus counts as
      // skewed (production defaults are 256 MB / factor 5)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // 95% of the left rows share key 0 — one reducer would own them all
      val left = spark.range(100000).select(
        when($"id" % 20 =!= 0, lit(0L)).otherwise($"id").as("k"),
        $"id".as("payload"))
      val right = spark.range(5000).select($"id".as("k"), ($"id" * 2).as("r"))
      val joined = left.join(right, "k")
      // collect() executes THIS dataset's QueryExecution (count() would
      // build a separate one and leave joined's adaptive plan unfinalized)
      assert(joined.collect().length > 0)
      val smjs = nodes(joined.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s }
      assert(smjs.nonEmpty, "expected a sort-merge join in the executed plan")
      assert(smjs.exists(_.isSkewJoin),
        "OptimizeSkewedJoin did not split the hot partition — AQE skew handling regressed")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // The other half of the AQE story: a shuffle whose static partition
  // count (spark.sql.shuffle.partitions) is far too high for the actual
  // data volume gets its reducers COALESCED at runtime — the knob that
  // makes one cluster-wide shuffle-partition setting survive both the
  // 100-TB fact shuffle and the KB-sized dim aggregate that shares the
  // session. Static over-partitioning is otherwise pure scheduler
  // overhead (1000s of empty reducers).
  test("AQE coalesce: a tiny shuffle runs with fewer reducers than the static setting") {
    import spark.implicits._
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // default true trades coalescing for cores-parallelism; turn it off
      // to exercise the size-targeted behavior the 100-TB setting uses
      spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "200") // cluster-wide default
      val agg = spark.range(1000).select(($"id" % 7).as("k"), $"id".as("v"))
        .groupBy($"k").agg(org.apache.spark.sql.functions.sum($"v").as("s"))
      assert(agg.collect().length === 7)
      val reads = nodes(agg.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r }
      assert(reads.nonEmpty, "expected an AQE shuffle read in the executed plan")
      val reducers = reads.map(_.partitionSpecs.length).min
      assert(reducers < 200,
        s"AQE did not coalesce: $reducers reducers for a 7-group KB-sized shuffle")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("exchange reuse: a diamond over one aggregate shuffles it once, not twice") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    // self-join of the same aggregate — the canonical diamond: without
    // reuse the aggregate's exchange (and the whole upstream scan+agg)
    // executes twice; Spark's ReuseExchange/stage-reuse collapses the
    // second occurrence into a reference to the first
    val agg = graft.ingest.Tables.events(spark, sfDir)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val diamond = agg.as("a").join(agg.as("b"), "user_id")
      .select($"user_id", col("a.n") + col("b.n") as "nn")
    diamond.collect()
    val plan = diamond.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")
        || plan.contains("TableCacheQueryStage"),
      s"no exchange reuse in the diamond plan:\n$plan")
  }

  /** The graft scans an executed plan ran: (table root, scan description). */
  private def graftScans(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] = {
    df.collect()
    nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description() }
      .filter(_.startsWith("graft-jsonl-stats root="))
      .map(d => (d.stripPrefix("graft-jsonl-stats root=").takeWhile(_ != ','), d))
  }

  /** Every scan reads the q210/q228 MV backing — none the raw table. */
  private def mvRouted(df: org.apache.spark.sql.DataFrame): Boolean = {
    val roots = graftScans(df).map(_._1)
    roots.nonEmpty && roots.forall(_.endsWith("_mv_mv_rw_day_type"))
  }

  private def onRawTable(df: org.apache.spark.sql.DataFrame): Boolean =
    graftScans(df).map(_._1).exists(_.endsWith("mvrw_events"))

  test("q210: MV rewrite substitutes the materialized view; unsupported shapes decline") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.util.Det.msum
    // the registered query scans ONLY the MV backing — the raw feed never
    val q = SparkEntry.queries("q210_mv_rewrite")(spark, sfDir)
    assert(mvRouted(q), s"MV rewrite did not substitute: scanned ${graftScans(q)}")
    // value identity: the same aggregate recomputed from the raw parquet
    val recomputed = graft.ingest.Tables.events(spark, sfDir).groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), msum($"value").as("revenue"))
      .orderBy($"event_type")
    assert(q.collect().toSeq === recomputed.collect().toSeq, "rewrite changed results")
    // negative shapes stay on the raw table while the MV is fresh
    val raw = graft.sources.JsonlFixtures.mvRewriteEvents(spark, sfDir)
    val distinctQ = raw.groupBy($"event_type").agg(countDistinct($"value").as("u"))
    assert(onRawTable(distinctQ) && !mvRouted(distinctQ),
      "countDistinct is not covered by the MV grain and must not rewrite")
    val filtered = raw.filter($"value" > 100).groupBy($"event_type")
      .agg(count(lit(1)).as("n"))
    assert(onRawTable(filtered) && !mvRouted(filtered),
      "a measure-filtered aggregate must not rewrite (the MV already merged those rows)")
    val global = raw.agg(count(lit(1)).as("n"))
    assert(onRawTable(global) && !mvRouted(global),
      "a global aggregate must not rewrite (empty-input count-vs-null)")
  }

  test("q228: grain-column filters commute into the MV scan; non-grain filters veto (r8)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.util.Det.msum
    // the registered filtered dashboard query reads ONLY the MV backing
    val q = SparkEntry.queries("q228_mv_rewrite_grain_filter")(spark, sfDir)
    assert(mvRouted(q), s"grain-filtered aggregate did not rewrite: scanned ${graftScans(q)}")
    // the date range reaches the backing scan's pushed (file-skipping)
    // filters as a range on its date column; the type exclusion — no
    // skipping predicate for the connector — rides in the Filter over
    // that scan (`event_date` exists only in the backing)
    val desc = graftScans(q).map(_._2).mkString("\n")
    assert(desc.contains("GreaterThanOrEqual(event_date,2024-01-08)") &&
      desc.contains("LessThan(event_date,2024-01-22)"),
      s"translated date range did not reach the MV scan:\n$desc")
    val filters = nodes(q.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FilterExec => f.condition.sql }
    assert(filters.exists(c => c.contains("event_type") && c.contains("view") &&
      c.contains("event_date")), s"grain filter not carried onto the MV scan: $filters")
    val raw = graft.sources.JsonlFixtures.mvRewriteEvents(spark, sfDir)
    // the literal-first spelling of the same day range routes too
    val flipped = raw.filter(lit("2024-01-08") <= to_date($"ts") && lit("2024-01-21") >= to_date($"ts"))
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    assert(mvRouted(flipped), s"literal-first day range did not rewrite: ${graftScans(flipped)}")
    // a raw-timestamp cut FINER than the MV grain must veto: the MV
    // already merged rows within each day
    val fineCut = raw.filter($"ts" >= lit("2024-01-08 12:00:00").cast("timestamp"))
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    assert(onRawTable(fineCut) && !mvRouted(fineCut),
      "a sub-day timestamp cut is not grain-functional and must not rewrite")
    // a non-grain measure predicate still vetoes
    val measureCut = raw.filter($"value" > 100)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
    assert(onRawTable(measureCut) && !mvRouted(measureCut),
      "a measure-column filter must not rewrite")
    // value identity: the same aggregate recomputed from the raw parquet
    val day = to_date($"ts")
    val recomputed = graft.ingest.Tables.events(spark, sfDir)
      .filter(day >= lit("2024-01-08") && day <= lit("2024-01-21") && $"event_type" =!= "view")
      .groupBy(day.as("event_date"))
      .agg(count(lit(1)).as("n_events"), msum($"value").as("revenue"))
      .orderBy($"event_date")
    assert(q.collect().toSeq === recomputed.collect().toSeq, "grain-filter rewrite changed results")
  }

  test("session hygiene: q73, q158, q210 and q228 install no session rule or " +
    "strategy, and an unrelated aggregate plans the same before and after them") {
    import org.apache.spark.sql.functions._
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    def unrelated = graft.ingest.Tables.customer(spark, sfDir)
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"), sum(col("c_acctbal")).as("bal"))
    def plan = unrelated.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.optimizedPlan.canonicalized
    val before = plan
    val rows = unrelated.collect().toSeq
    Seq("q73_topk_native", "q158_topk_rewrite", "q210_mv_rewrite",
      "q228_mv_rewrite_grain_filter").foreach { n =>
      assert(SparkEntry.queries(n)(spark, sfDir).collect().nonEmpty, n)
    }
    assert(exp.extraOptimizations.isEmpty, s"session rules installed: ${exp.extraOptimizations}")
    assert(exp.extraStrategies.isEmpty, s"session strategies installed: ${exp.extraStrategies}")
    assert(plan == before, "a query changed how the session plans an unrelated aggregate")
    assert(unrelated.collect().toSeq === rows)
  }

  /** `file:line: text` for every line under src/main/scala that `hit`
    * flags — the source-scan guards below share it. */
  private def mainSourceHits(hit: (java.nio.file.Path, String) => Boolean): List[String] = {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(main), s"no source tree at ${main.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(main)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if hit(f, line) => s"$f:${i + 1}: ${line.trim}"
      }
    }.toList
    finally walk.close()
  }

  test("session hygiene: no engine code reads a spark.graft.* conf key — " +
    "engine behaviour is not tuned by hidden session options") {
    val key = "\"spark\\.graft\\.".r
    val hits = mainSourceHits((_, line) => key.findFirstIn(line).isDefined)
    assert(hits.isEmpty, s"spark.graft.* conf keys read under src/main:\n${hits.mkString("\n")}")
  }

  test("session hygiene: conf.set only in Confs.derived and the fixture catalog " +
    "registration") {
    val hits = mainSourceHits((f, line) => line.contains("conf.set(") && !(
      f.getFileName.toString == "Confs.scala" ||
        line.contains("conf.set(s\"spark.sql.catalog.")))
    assert(hits.isEmpty,
      s"session confs set outside the session builder:\n${hits.mkString("\n")}")
  }

  test("one masking, lineage and stats derivation: only the connector's reader " +
    "opens deletion vectors, equality-delete masks and a lineage run cursor, and " +
    "only its sink tracks zone maps") {
    def only(file: String, definedIn: String, marker: String => Boolean) =
      mainSourceHits((f, line) => marker(line) &&
        !Set(file, definedIn).contains(f.getFileName.toString))
    val hits =
      only("JsonlStatsRead.scala", "JsonlDeleteVectors.scala", _.contains("readDvPositions(")) ++
        only("JsonlStatsRead.scala", "JsonlEqualityDeletes.scala", _.contains("readMasks(")) ++
        only("JsonlStatsRead.scala", "JsonlStats.scala", "\\blin\\.runs\\b".r.findFirstIn(_).isDefined) ++
        only("JsonlStatsWrite.scala", "JsonlStats.scala", _.contains("new JsonlStats.ZoneTracker"))
    assert(hits.isEmpty,
      s"a second copy of the reader's masking/lineage or the sink's stats:\n${hits.mkString("\n")}")
  }

  test("session hygiene: environment variables are read only by the Bench, Verify " +
    "and ScaleGen mains") {
    val harness = Set("Bench.scala", "Verify.scala", "ScaleGen.scala")
    val hits = mainSourceHits((f, line) =>
      (line.contains("sys.env") || line.contains("System.getenv")) &&
        !harness.contains(f.getFileName.toString))
    assert(hits.isEmpty, s"env knobs outside the harness mains:\n${hits.mkString("\n")}")
  }

  test("session hygiene: query order does not change rows, and no query leaves a " +
    "session conf behind but its catalog registration") {
    val sample = Seq("q169_dsv2_spj", "q177_catalog_ctas_partitioned", "q242_hidden_bucket_spj",
      "q244_bucket_reduced_spj", "q257_analyzed_star_join", "q261_histogram_skew_filter",
      "q170_catalog_sql", "q211_association_rules", "q03_revenue_by_nation")
    def confs(): Map[String, String] =
      spark.conf.getAll.filter { case (k, _) => !k.startsWith("spark.sql.catalog.graft_") }
    def runAll(order: Seq[String]): Map[String, Seq[org.apache.spark.sql.Row]] =
      order.map { name =>
        val before = confs()
        val rows = SparkEntry.queries(name)(spark, sfDir).collect().toSeq
        val after = confs()
        val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
        assert(changed.isEmpty, s"$name left session confs behind: " +
          changed.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString(", "))
        name -> rows
      }.toMap
    val forward = runAll(sample)
    val backward = runAll(sample.reverse)
    sample.foreach { name =>
      assert(forward(name) === backward(name), s"$name rows depend on query order")
    }
  }

  test("build-once fixtures: one marker convention — no _FIXTURE_OK outside Landing, " +
    "no sibling __<word>_ok markers") {
    val sibling = "\"__\\w+_ok\"".r
    val hits = mainSourceHits((f, line) =>
      (line.contains("_FIXTURE_OK") && f.getFileName.toString != "Landing.scala") ||
        sibling.findFirstIn(line).isDefined)
    assert(hits.isEmpty,
      s"hand-rolled build-once markers (use Landing.ensureBuilt):\n${hits.mkString("\n")}")
  }

  test("build-once fixtures: a fixture copied to another directory rebuilds there " +
    "exactly once") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("ensure_built")
    val (a, b) = (base.resolve("a"), base.resolve("b"))
    var builds = 0
    def build(dir: String): Unit = {
      builds += 1
      Files.createDirectories(Paths.get(dir))
      Files.write(Paths.get(dir, "data.txt"), Array[Byte](1))
    }
    graft.ingest.Landing.ensureBuilt(a.toString)(build)
    graft.ingest.Landing.ensureBuilt(a.toString)(build)
    assert(builds === 1, "a built fixture must not rebuild in place")
    // copy A (marker included) to B, as a checkout copied with its
    // target/ would: B's marker names A, so B rebuilds once, then holds
    val walk = Files.walk(a)
    try walk.forEach { p =>
      val q = b.resolve(a.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
    graft.ingest.Landing.ensureBuilt(b.toString)(build)
    graft.ingest.Landing.ensureBuilt(b.toString)(build)
    assert(builds === 2, "a copied fixture must rebuild exactly once at its new path")
    graft.ingest.Landing.ensureBuilt(a.toString)(build)
    assert(builds === 2, "the original must stay built")
    graft.util.Fs.deleteRecursively(base.toString)
  }

  test("one procedure table: one adapter implements the procedure API, one " +
    "LocalScan serves every in-memory result, and no match dispatches a procedure name") {
    val api = "(extends|with)\\s+(Unbound|Bound)Procedure\\b".r
    val adapters = mainSourceHits((_, line) => api.findFirstIn(line).isDefined)
    assert(adapters.size == 1 && adapters.head.contains("class ProcAdapter"),
      s"procedure API implemented outside the one adapter:\n${adapters.mkString("\n")}")
    val scans = mainSourceHits((_, line) => line.contains("new LocalScan"))
    assert(scans.size == 1, s"more than one LocalScan under src/main:\n${scans.mkString("\n")}")
    val names = graft.sources.GraftProcedures.all.keySet
    assert(names.nonEmpty)
    val dispatch = mainSourceHits((f, line) =>
      f.getFileName.toString == "GraftCatalog.scala" &&
        names.exists(n => line.contains("\"" + n + "\"")))
    assert(dispatch.isEmpty,
      s"procedure names dispatched outside GraftProcedures.all:\n${dispatch.mkString("\n")}")
  }

  test("one implementation of each view verb: only GraftCatalog and MvLifecycle " +
    "write, drop, move or probe stored views, and the view DDL parser holds no " +
    "regex and no CALL text") {
    val verbs = Seq("GraftViews.write(", "GraftViews.drop(", "GraftViews.moveMvBacking(",
      "GraftViews.referencingViews(")
    val owners = Set("GraftCatalog.scala", "MvLifecycle.scala")
    val copies = mainSourceHits((f, line) =>
      verbs.exists(line.contains) && !owners.contains(f.getFileName.toString))
    val regex = "\\.r\\b".r
    val text = mainSourceHits((f, line) => f.getFileName.toString == "GraftViewDdlParser.scala" &&
      (regex.findFirstIn(line).isDefined || line.contains("\"CALL")))
    assert(copies.isEmpty && text.isEmpty,
      s"a second implementation of a view verb:\n${(copies ++ text).mkString("\n")}")
  }

  test("q165 SQL UDFs are inlined: no eval barrier, plan stays in whole-stage codegen") {
    val df = graft.analytics.SqlSurface.sqlUdfTiers(spark, sfDir)
    df.collect()
    val executed = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.executedPlan
    val text = executed.toString
    // a Scala/Python UDF would surface as an eval node or a ScalaUDF
    // expression; SQL UDFs must leave no trace but their inlined body
    assert(!text.contains("ScalaUDF") && !text.contains("BatchEvalPython"),
      s"SQL UDF left an eval barrier:\n$text")
    // the inlined bodies are visible as plain CASE expressions INSIDE
    // the aggregate (composition expanded transitively), still codegen'd
    assert(text.contains("CASE WHEN"), s"UDF body not inlined:\n$text")
    assert(text.contains("*("), s"no whole-stage codegen span:\n$text")
  }
}

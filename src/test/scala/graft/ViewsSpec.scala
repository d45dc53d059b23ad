package graft

import graft.sources.{GraftCatalog, GraftViews}
import org.apache.spark.sql.connector.catalog.{Identifier, ViewChange, ViewInfo}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Persistent SQL views ([[graft.sources.GraftViews]] +
  * [[graft.plans.ResolveGraftViews]] + the view DDL procedures).
  *
  * The load-bearing laws:
  *   - a view is a MACRO: reading through it equals inlining its body,
  *     and pushdown/file-pruning reach the scan unchanged (planned
  *     input partitions through a view == direct);
  *   - the stored definition context governs: bodies resolve as the
  *     AUTHOR saw them, regardless of the reader's current catalog;
  *   - the output contract is definition-time: a table that gains
  *     columns leaks nothing through `SELECT *`, one that drops a
  *     referenced column fails naming it;
  *   - cycles (constructible only via REPLACE) fail loudly naming the
  *     chain, never an analyzer fixed-point overrun;
  *   - tables and views share one identifier space by mutual refusal.
  */
class ViewsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = Files.createTempDirectory("views_spec").toString
  private lazy val cat: GraftCatalog = {
    spark.conf.set("spark.sql.catalog.vspec", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.vspec.root", root)
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0))
      .toDF("id", "k", "v")
      .repartitionByRange(2, $"id")
      .writeTo("vspec.t1").create()
    spark.sessionState.catalogManager.catalog("vspec").asInstanceOf[GraftCatalog]
  }

  /** Author a view the way a real session does: current catalog =
    * vspec while the body is analyzed, so unqualified names (tables,
    * sibling views, catalog functions) resolve exactly as stored. */
  private def mkView(name: String, sql: String, ns: Array[String] = Array.empty): Unit = {
    val c = cat // force the fixture before analyzing the body
    val prev = spark.sessionState.catalogManager.currentCatalog.name()
    spark.sql("USE vspec")
    try {
      val schema = spark.sql(sql).schema
      c.createView(new ViewInfo(
        Identifier.of(ns, name), sql, "vspec", Array.empty[String],
        schema, schema.fieldNames, Array.empty[String], Array.empty[String],
        java.util.Map.of[String, String]()))
    } finally spark.sql(s"USE $prev")
  }

  test("a view resolves, through SQL and the DataFrame API, and its body " +
    "resolves in the STORED context (unqualified names, any reader catalog)") {
    mkView("v_sum", "SELECT k, sum(v) AS sv FROM t1 GROUP BY k")
    // reader session has spark_catalog current — the stored context wins
    val rows = spark.sql("SELECT * FROM vspec.v_sum ORDER BY k").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("a", "b", "c"))
    assert(rows(0).getDouble(1) === 40.0)
    assert(spark.table("vspec.v_sum").count() === 3)
  }

  test("CTE bodies substitute inside the view, nested views expand, and a " +
    "view is visible from another view's body") {
    mkView("v_cte",
      "WITH big AS (SELECT * FROM t1 WHERE v > 15) SELECT k, count(*) AS n FROM big GROUP BY k")
    assert(spark.sql("SELECT * FROM vspec.v_cte").count() === 3)
    mkView("v_nest", "SELECT k FROM v_sum WHERE sv > 35")
    assert(spark.sql("SELECT * FROM vspec.v_nest ORDER BY k").collect()
      .map(_.getString(0)).toSeq === Seq("a", "c"))
  }

  test("macro law: pushdown and file pruning through a view equal the " +
    "direct scan's — planned input partitions match") {
    mkView("v_raw", "SELECT id, k, v FROM t1")
    def plannedAndScan(df: org.apache.spark.sql.DataFrame) = {
      val scans = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      assert(scans.size === 1)
      (scans.head.scan.toBatch.planInputPartitions().length,
        scans.head.scan.readSchema().fieldNames.toSet)
    }
    val (viaView, viewCols) =
      plannedAndScan(spark.sql("SELECT v FROM vspec.v_raw WHERE id = 1"))
    val (direct, directCols) =
      plannedAndScan(spark.sql("SELECT v FROM vspec.t1 WHERE id = 1"))
    assert(viaView === direct, "view must not widen the planned file set")
    assert(viaView === 1, "point predicate should prune to one file")
    // column pruning THROUGH the view's projection too
    assert(viewCols === directCols)
    assert(viewCols === Set("id", "v"))
  }

  test("output contract is definition-time: gained table columns do not " +
    "leak, dropped referenced columns fail loudly") {
    spark.sql("ALTER TABLE vspec.t1 ADD COLUMN extra DOUBLE")
    assert(spark.table("vspec.v_raw").columns.toSeq === Seq("id", "k", "v"))
    mkView("v_doom", "SELECT extra FROM t1")
    spark.sql("ALTER TABLE vspec.t1 DROP COLUMN extra")
    val e = intercept[Exception] { spark.table("vspec.v_doom").collect() }
    assert(e.getMessage.contains("extra"), e.getMessage)
  }

  test("a REPLACE-constructed cycle fails naming the chain") {
    mkView("c1", "SELECT 1 AS x")
    mkView("c2", "SELECT x FROM c1")
    val schema = spark.table("vspec.c2").schema
    cat.replaceView(new ViewInfo(
      Identifier.of(Array.empty[String], "c1"), "SELECT x FROM c2", "vspec",
      Array.empty[String], schema, schema.fieldNames, Array.empty[String],
      Array.empty[String], java.util.Map.of[String, String]()), false)
    val e = intercept[Exception] { spark.table("vspec.c1").collect() }
    assert(e.getMessage.contains("cyclic") && e.getMessage.contains("vspec.c2"),
      e.getMessage)
  }

  test("one identifier space: createView refuses a table's name, " +
    "createTable refuses a view's, and names stay out of '_'") {
    val schema = spark.table("vspec.t1").schema
    val clash = intercept[Exception] {
      cat.createView(new ViewInfo(
        Identifier.of(Array.empty[String], "t1"), "SELECT 1 AS x", "vspec",
        Array.empty[String], schema, schema.fieldNames, Array.empty[String],
        Array.empty[String], java.util.Map.of[String, String]()))
    }
    assert(clash.getMessage.toLowerCase.contains("already exists"), clash.getMessage)
    val tclash = intercept[Exception] {
      Seq((1L, "z", 0.0, 0.0)).toDF("id", "k", "v", "w").writeTo("vspec.v_sum").create()
    }
    assert(tclash.getMessage.toLowerCase.contains("already exists"), tclash.getMessage)
    intercept[Exception] { GraftViews.requireValidName("_hidden") }
  }

  test("V2 ViewCatalog verbs round-trip: list, alter properties, rename " +
    "across namespaces, drop") {
    cat // force fixture
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vspec.lab")
    mkView("v_life", "SELECT k FROM t1")
    assert(cat.listViews().map(_.name()).contains("v_life"))
    cat.alterView(Identifier.of(Array.empty[String], "v_life"),
      ViewChange.setProperty("comment", "slice"))
    assert(cat.loadView(Identifier.of(Array.empty[String], "v_life"))
      .properties().get("comment") === "slice")
    cat.alterView(Identifier.of(Array.empty[String], "v_life"),
      ViewChange.removeProperty("comment"))
    assert(!cat.loadView(Identifier.of(Array.empty[String], "v_life"))
      .properties().containsKey("comment"))
    cat.renameView(Identifier.of(Array.empty[String], "v_life"),
      Identifier.of(Array("lab"), "v_life2"))
    assert(spark.table("vspec.lab.v_life2").count() === 4)
    assert(cat.listViews("lab").map(_.name()).toSeq === Seq("v_life2"))
    assert(cat.dropView(Identifier.of(Array("lab"), "v_life2")))
    assert(!cat.viewExists(Identifier.of(Array("lab"), "v_life2")))
  }

  test("CALL surface: create_view analyzes up front and refuses garbage, " +
    "or_replace redefines, list/describe/rename/drop round-trip") {
    cat // force fixture
    spark.sql("CALL vspec.create_view('v_call', " +
      "'SELECT k, count(*) AS n FROM vspec.t1 GROUP BY k', comment => 'by key')")
    assert(spark.sql("SELECT * FROM vspec.v_call").count() === 3)
    val listed = spark.sql("CALL vspec.list_views()").collect()
      .map(r => r.getString(1) -> Option(r.getString(2))).toMap
    assert(listed("v_call") === Some("by key"))
    val desc = spark.sql("CALL vspec.describe_view('v_call')").collect().head
    assert(desc.getString(1).contains("GROUP BY k"))
    assert(desc.getString(2) === "spark_catalog") // the defining session's catalog
    intercept[Exception] {
      spark.sql("CALL vspec.create_view('v_call', 'SELECT 1 AS x')")
    }
    spark.sql("CALL vspec.create_view('v_call', " +
      "'SELECT count(*) AS n FROM vspec.t1', or_replace => true)")
    assert(spark.sql("SELECT n FROM vspec.v_call").collect().head.getLong(0) === 4L)
    intercept[Exception] {
      spark.sql("CALL vspec.create_view('v_bad', 'SELECT * FROM no_such_table')")
    }
    assert(!spark.sql("CALL vspec.list_views()").collect().exists(_.getString(1) == "v_bad"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vspec.lab")
    spark.sql("CALL vspec.rename_view('v_call', 'lab.v_call2')")
    assert(spark.sql("SELECT * FROM vspec.lab.v_call2").collect().head.getLong(0) === 4L)
    spark.sql("CALL vspec.drop_view('lab.v_call2')")
    intercept[Exception] { spark.sql("CALL vspec.drop_view('lab.v_call2')") }
  }

  test("bare non-builtin functions in a body qualify to the defining " +
    "catalog; session-registered functions stay bare") {
    mkView("v_fn",
      "SELECT k, sqnorm(cast(array(v) AS array<float>)) AS n2, " +
        "graft_dot(cast(array(v) AS array<float>), cast(array(v) AS array<float>)) AS d " +
        "FROM t1")
    val r = spark.sql("SELECT * FROM vspec.v_fn WHERE k = 'b'").collect().head
    assert(r.getDouble(1) === 400.0) // sqnorm([20])
    assert(r.getDouble(2) === 400.0) // graft_dot([20],[20])
  }

  test("materialized views: fresh reads plan the backing table, stale " +
    "reads plan the body, refresh restores the fast path, drop removes " +
    "the backing — and every refusal is loud") {
    cat // force fixture
    import graft.sources.JsonlStatsScan
    spark.sql("DROP TABLE IF EXISTS vspec.mv_t")
    spark.sql("CREATE TABLE vspec.mv_t AS SELECT k, v FROM vspec.t1 WHERE id <= 2")
    spark.sql("CALL vspec.create_materialized_view('mv_agg', " +
      "'SELECT k, CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv " +
      "FROM vspec.mv_t GROUP BY k', or_replace => true)")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def scanRoots(sql: String): Seq[String] =
      nodes(spark.sql(sql)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.scan }
        .collect { case s: JsonlStatsScan => s.description() }
    // FRESH: the one scan reads the engine-managed backing table
    val freshScans = scanRoots("SELECT * FROM vspec.mv_agg")
    assert(freshScans.size === 1 && freshScans.head.contains("_mv_mv_agg"), freshScans)
    val freshRows = spark.sql("SELECT * FROM vspec.mv_agg ORDER BY k").collect()
    // the backing is engine-internal: invisible to SHOW TABLES, loadable
    assert(!spark.sql("SHOW TABLES IN vspec").collect()
      .exists(_.getString(1) == "_mv_mv_agg"))
    assert(spark.table("vspec.`_mv_mv_agg`").count() === freshRows.length)
    // STALE: a source commit flips the read to the body — which SEES it
    spark.sql("INSERT INTO vspec.mv_t VALUES ('z', 100.0)")
    val staleScans = scanRoots("SELECT * FROM vspec.mv_agg")
    assert(staleScans.size === 1 && staleScans.head.contains("mv_t") &&
      !staleScans.head.contains("_mv_"), staleScans)
    val staleRows = spark.sql("SELECT * FROM vspec.mv_agg ORDER BY k").collect()
    assert(staleRows.exists(_.getString(0) == "z"), "stale read must see the append")
    // REFRESH: atomic RTAS + re-recorded versions — fast path is back
    spark.sql("CALL vspec.refresh_materialized_view('mv_agg')")
    val refreshedScans = scanRoots("SELECT * FROM vspec.mv_agg")
    assert(refreshedScans.size === 1 && refreshedScans.head.contains("_mv_mv_agg"))
    assert(spark.sql("SELECT * FROM vspec.mv_agg ORDER BY k").collect().toSeq
      === staleRows.toSeq, "precomputed and recomputed rows must agree")
    // refusals: temp-view source, view source, plain-view refresh
    Seq((1L, 1.0)).toDF("a", "b").createOrReplaceTempView("mv_tmp")
    val e1 = intercept[Exception] {
      spark.sql("CALL vspec.create_materialized_view('mv_bad1', 'SELECT a FROM mv_tmp')")
    }
    assert(e1.getMessage.contains("trackable"), e1.getMessage)
    // a stored-view source FLATTENS (r15): versions track the view's
    // underlying tables (the dedicated arm covers the full lifecycle)
    mkView("v_mv_plain", "SELECT k FROM t1")
    spark.sql("CALL vspec.create_materialized_view('mv_overv', " +
      "'SELECT k, count(*) AS n FROM vspec.v_mv_plain GROUP BY k', or_replace => true)")
    assert(GraftViews.read(java.nio.file.Paths.get(root), "mv_overv").get
      .properties.get(GraftViews.MvSourcesProp).exists(_.contains("t1")),
      "the MV must record the view's underlying TABLE as its source")
    spark.sql("CALL vspec.drop_view('mv_overv')")
    val e3 = intercept[Exception] {
      spark.sql("CALL vspec.refresh_materialized_view('v_mv_plain')")
    }
    assert(e3.getMessage.contains("plain view"), e3.getMessage)
    // DROP removes the definition AND the backing table
    spark.sql("CALL vspec.drop_view('mv_agg')")
    intercept[Exception] { spark.table("vspec.mv_agg").collect() }
    intercept[Exception] { spark.table("vspec.`_mv_mv_agg`").collect() }
  }

  test("renaming a materialized view moves its backing table with it " +
    "(both DDL surfaces), and a fresh-looking sidecar whose backing is " +
    "gone degrades to body expansion, never a failed read") {
    cat // force fixture
    import graft.sources.JsonlStatsScan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def scanRoots(sql: String): Seq[String] =
      nodes(spark.sql(sql)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.scan }
        .collect { case s: JsonlStatsScan => s.description() }
    spark.sql("DROP TABLE IF EXISTS vspec.mvr_t")
    spark.sql("CREATE TABLE vspec.mvr_t AS SELECT k, v FROM vspec.t1")
    spark.sql("CALL vspec.create_materialized_view('mv_ren', " +
      "'SELECT k, count(*) AS n FROM vspec.mvr_t GROUP BY k', or_replace => true)")
    val expected = spark.sql("SELECT * FROM vspec.mv_ren ORDER BY k").collect().toSeq
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vspec.lab2")
    // CALL surface: cross-namespace rename carries the backing along
    spark.sql("CALL vspec.rename_view('mv_ren', 'lab2.mv_ren2')")
    assert(!Files.exists(java.nio.file.Paths.get(root, "_mv_mv_ren")),
      "old backing directory must move, not linger")
    assert(Files.exists(java.nio.file.Paths.get(root, "lab2", "_mv_mv_ren2", "_stats.jsonl")),
      "backing table must exist at the renamed address")
    val renScans = scanRoots("SELECT * FROM vspec.lab2.mv_ren2")
    assert(renScans.size === 1 && renScans.head.contains("_mv_mv_ren2"),
      s"fresh read after rename must plan the MOVED backing: $renScans")
    assert(spark.sql("SELECT * FROM vspec.lab2.mv_ren2 ORDER BY k").collect().toSeq === expected)
    // V2 catalog surface: rename back to root, same law
    cat.renameView(Identifier.of(Array("lab2"), "mv_ren2"),
      Identifier.of(Array.empty[String], "mv_ren3"))
    assert(!Files.exists(java.nio.file.Paths.get(root, "lab2", "_mv_mv_ren2")))
    assert(spark.sql("SELECT * FROM vspec.mv_ren3 ORDER BY k").collect().toSeq === expected)
    // a sidecar whose backing vanished (crash window / external cleanup)
    // reads through the BODY — correct rows, no _mv_ scan, no failure
    graft.util.Fs.deleteRecursively(
      java.nio.file.Paths.get(root, "_mv_mv_ren3").toString)
    val orphanScans = scanRoots("SELECT * FROM vspec.mv_ren3")
    assert(orphanScans.nonEmpty && orphanScans.forall(!_.contains("_mv_")),
      s"missing backing must expand the body: $orphanScans")
    assert(spark.sql("SELECT * FROM vspec.mv_ren3 ORDER BY k").collect().toSeq === expected)
    // drop after the fallback still succeeds (backing already gone)
    spark.sql("CALL vspec.drop_view('mv_ren3')")
  }

  test("single-part view names resolve current-namespace first, root " +
    "second; dotted NAMES are refused at definition") {
    cat // force fixture
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vspec.lab3")
    mkView("v_prec", "SELECT k FROM t1 WHERE k = 'a'") // root: 2 rows
    mkView("v_prec", "SELECT k FROM t1 WHERE k = 'b'", Array("lab3")) // lab3: 1 row
    val prev = spark.sessionState.catalogManager.currentCatalog.name()
    spark.sql("USE vspec.lab3")
    try {
      assert(spark.sql("SELECT * FROM v_prec").count() === 1,
        "bare name must read the CURRENT namespace's view, not root's")
      assert(spark.sql("SELECT * FROM vspec.v_prec").count() === 2,
        "the root view stays addressable by its qualified name")
    } finally spark.sql(s"USE $prev")
    // a dotted NAME could be stored but never addressed (the dotted CALL
    // surface and the analyzer both split on '.') — refuse at definition
    val e = intercept[Exception] {
      cat.createView(new ViewInfo(
        Identifier.of(Array.empty[String], "a.b"), "SELECT 1 AS x", "vspec",
        Array.empty[String],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.IntegerType))),
        Array("x"), Array.empty[String], Array.empty[String],
        java.util.Map.of[String, String]()))
    }
    assert(e.getMessage.contains("'.'"), e.getMessage)
  }

  test("transparent rewrite: a raw-table aggregate plans the FRESH covering " +
    "MV's backing; stale MVs, non-grain predicates and snapshot reads decline") {
    cat
    import graft.sources.JsonlStatsScan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.scan }
        .collect { case s: JsonlStatsScan => s.description() }
    spark.sql("DROP TABLE IF EXISTS vspec.rw_t")
    Seq(("a", 10.0, 1L), ("a", 20.0, 2L), ("b", 5.0, 3L), ("c", 7.0, 4L))
      .toDF("k", "v", "id").createOrReplaceTempView("rw_seed")
    spark.sql("CREATE TABLE vspec.rw_t AS SELECT * FROM rw_seed")
    spark.sql("CALL vspec.create_materialized_view('mv_rw', " +
      "'SELECT k, count(*) AS n, CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv " +
      "FROM vspec.rw_t GROUP BY k', or_replace => true)")
    val q = "SELECT k, count(*) AS n, " +
      "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv " +
      "FROM vspec.rw_t GROUP BY k ORDER BY k"
    val expect = spark.sql(q.replace("vspec.rw_t", "rw_seed")).collect().toSeq
    // FRESH: the raw-table aggregate reads the backing, never the raw
    val hit = spark.sql(q)
    assert(scans(hit).forall(_.contains("_mv_mv_rw")), scans(hit))
    assert(hit.collect().toSeq === expect)
    // a GRAIN predicate rides the rewrite, pushed to the backing scan
    val grained = spark.sql(
      "SELECT k, count(*) AS n FROM vspec.rw_t WHERE k <> 'a' GROUP BY k ORDER BY k")
    assert(scans(grained).forall(_.contains("_mv_mv_rw")), scans(grained))
    assert(grained.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("b", 1L), ("c", 1L)))
    // a NON-GRAIN predicate could cut rows the MV already merged: decline
    val nonGrain = spark.sql(
      "SELECT k, count(*) AS n FROM vspec.rw_t WHERE v > 6 GROUP BY k")
    assert(scans(nonGrain).forall(s => s.contains("rw_t") && !s.contains("_mv_")),
      scans(nonGrain))
    // DISTINCT declines (not derivable from the merged state)
    val distinct = spark.sql(
      "SELECT k, count(DISTINCT id) AS n FROM vspec.rw_t GROUP BY k")
    assert(scans(distinct).forall(s => s.contains("rw_t") && !s.contains("_mv_")))
    // STALE: a source commit flips the plan back to the raw table —
    // and the rows see the new data immediately
    spark.sql("INSERT INTO vspec.rw_t VALUES ('d', 1.0, 5)")
    val stale = spark.sql(q)
    assert(scans(stale).forall(s => s.contains("rw_t") && !s.contains("_mv_")),
      scans(stale))
    assert(stale.collect().exists(_.getString(0) == "d"))
    // REFRESH restores the rewrite
    spark.sql("CALL vspec.refresh_materialized_view('mv_rw')")
    val back = spark.sql(q)
    assert(scans(back).forall(_.contains("_mv_mv_rw")), scans(back))
    assert(back.collect().toSeq === spark.sql(q.replace("vspec.rw_t", "rw_seed"))
      .collect().toSeq ++ Seq(org.apache.spark.sql.Row("d", 1L, 1.0)))
    // a SNAPSHOT read of an OLD version must not see head-versioned
    // state, even while the MV is fresh
    val travel = spark.sql(
      "SELECT k, count(*) AS n FROM vspec.rw_t VERSION AS OF 1 GROUP BY k")
    assert(scans(travel).forall(s => !s.contains("_mv_")), scans(travel))
    assert(!travel.collect().exists(_.getString(0) == "d"),
      "the v1 snapshot must not contain the v2 append")
  }

  test("plain SQL view DDL: CREATE/DROP VIEW and SHOW VIEWS route to the " +
    "catalog; temp views and non-graft statements pass through untouched") {
    cat
    val prev = spark.sessionState.catalogManager.currentCatalog.name()
    // explicit catalog prefix, reader on a foreign current catalog
    spark.sql("CREATE VIEW vspec.v_ddl AS SELECT k, sum(v) AS sv FROM vspec.t1 GROUP BY k")
    assert(spark.sql("SELECT * FROM vspec.v_ddl").count() === 3)
    // OR REPLACE redefines; a second plain CREATE refuses
    spark.sql("CREATE OR REPLACE VIEW vspec.v_ddl AS SELECT k FROM vspec.t1")
    assert(spark.table("vspec.v_ddl").schema.fieldNames.toSeq === Seq("k"))
    intercept[Exception] {
      spark.sql("CREATE VIEW vspec.v_ddl AS SELECT k FROM vspec.t1")
    }
    // SHOW VIEWS lists it (IN <catalog> form and current-catalog form)
    assert(spark.sql("SHOW VIEWS IN vspec").collect().exists(_.getString(1) == "v_ddl"))
    spark.sql("USE vspec")
    try {
      assert(spark.sql("SHOW VIEWS").collect().exists(_.getString(1) == "v_ddl"))
      // single-part names resolve into the current namespace
      spark.sql("CREATE VIEW v_ddl2 AS SELECT k FROM t1 WHERE k = 'a'")
      assert(spark.sql("SELECT * FROM vspec.v_ddl2").count() === 2)
      spark.sql("DROP VIEW v_ddl2")
    } finally spark.sql(s"USE $prev")
    // DROP VIEW + IF EXISTS semantics
    spark.sql("DROP VIEW vspec.v_ddl")
    intercept[Exception] { spark.sql("DROP VIEW vspec.v_ddl") }
    spark.sql("DROP VIEW IF EXISTS vspec.v_ddl") // no-op, no error
    // TEMPORARY views are Spark's own — the parser must not intercept
    spark.sql("CREATE TEMPORARY VIEW v_ddl_tmp AS SELECT 1 AS x")
    assert(spark.sql("SELECT * FROM v_ddl_tmp").count() === 1)
    spark.sql("DROP VIEW v_ddl_tmp") // session temp view: Spark resolves it first
    // non-view statements are untouched
    assert(spark.sql("SELECT 1 AS one").collect().head.getInt(0) === 1)
    // an explicit FOREIGN catalog head delegates to Spark even from a
    // graft-current session: spark_catalog's own v1 persistent views
    // must keep working (and never land in the warehouse)
    spark.sql("USE vspec")
    try {
      spark.sql("CREATE VIEW spark_catalog.default.v_foreign AS SELECT 2 AS y")
      assert(spark.sql("SELECT * FROM spark_catalog.default.v_foreign")
        .collect().head.getInt(0) === 2)
      assert(!spark.sql("SHOW VIEWS IN vspec").collect()
        .exists(_.getString(1) == "v_foreign"), "foreign view must not land here")
      spark.sql("DROP VIEW spark_catalog.default.v_foreign")
    } finally spark.sql(s"USE $prev")
    // the statement is parsed, not pattern-matched: IF NOT EXISTS,
    // leading comments, backticked names with spaces, LIKE patterns and
    // trailing comments all reach the catalog
    spark.sql("CREATE VIEW IF NOT EXISTS vspec.v_ine AS SELECT k FROM vspec.t1")
    assert(spark.table("vspec.v_ine").columns.toSeq === Seq("k"))
    // the second is a no-op: the stored body stays
    spark.sql("CREATE VIEW IF NOT EXISTS vspec.v_ine AS SELECT v FROM vspec.t1")
    assert(spark.table("vspec.v_ine").columns.toSeq === Seq("k"))
    spark.sql("-- note\nCREATE VIEW vspec.v_lead AS SELECT k FROM vspec.t1 WHERE k = 'a'")
    assert(spark.sql("SELECT * FROM vspec.v_lead").count() === 2)
    spark.sql("/* note */ CREATE OR REPLACE VIEW vspec.v_lead AS SELECT k FROM vspec.t1")
    assert(spark.sql("SELECT * FROM vspec.v_lead").count() === 4)
    spark.sql("CREATE VIEW vspec.`v space` AS SELECT id FROM vspec.t1")
    assert(GraftViews.exists(java.nio.file.Paths.get(root), "v space"))
    assert(spark.sql("SELECT * FROM vspec.`v space`").count() === 4)
    assert(spark.sql("SHOW VIEWS IN vspec LIKE 'v_lea*'").collect().map(_.getString(1)).toSeq
      === Seq("v_lead"))
    spark.sql("DROP VIEW vspec.v_lead -- bye")
    assert(!GraftViews.exists(java.nio.file.Paths.get(root), "v_lead"))
    spark.sql("DROP VIEW vspec.`v space`")
    spark.sql("DROP VIEW vspec.v_ine")
  }

  test("dropping a view another view expands through fails loudly naming " +
    "the dependent, on both DDL surfaces") {
    cat
    spark.sql("CREATE OR REPLACE VIEW vspec.v_base AS SELECT k, v FROM vspec.t1")
    spark.sql("CREATE OR REPLACE VIEW vspec.v_over AS " +
      "SELECT k, sum(v) AS sv FROM vspec.v_base GROUP BY k")
    val e1 = intercept[Exception] { spark.sql("DROP VIEW vspec.v_base") }
    assert(e1.getMessage.contains("v_over"), e1.getMessage)
    val e2 = intercept[Exception] {
      cat.dropView(Identifier.of(Array.empty[String], "v_base"))
    }
    assert(e2.getMessage.contains("v_over"), e2.getMessage)
    // drop the dependent first, then the base — both succeed
    spark.sql("DROP VIEW vspec.v_over")
    spark.sql("DROP VIEW vspec.v_base")
    intercept[Exception] { spark.table("vspec.v_base").collect() }
  }

  test("TABLESAMPLE composes through a view: the declared block sample " +
    "pushes through the macro expansion — same rows, same planned files " +
    "as the direct statement — and both predicate-composition shapes " +
    "are exact, each pruning by the node that reaches the scan") {
    cat
    import graft.sources.JsonlStatsScan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.scan }
        .collect { case sc: JsonlStatsScan => sc.toBatch.planInputPartitions().length }.sum
    spark.sql("DROP TABLE IF EXISTS vspec.samp_t")
    Seq.tabulate(320)(i => (i.toLong, (i % 16).toString, i * 1.0))
      .toDF("id", "shard", "v").createOrReplaceTempView("samp_seed")
    spark.sql("CREATE TABLE vspec.samp_t USING `graft-jsonl-stats` " +
      "PARTITIONED BY (shard) AS SELECT * FROM samp_seed")
    spark.sql("ALTER TABLE vspec.samp_t SET TBLPROPERTIES ('sampleMode'='system')")
    spark.sql("CREATE OR REPLACE VIEW vspec.v_samp AS SELECT id, shard, v FROM vspec.samp_t")
    val q = " TABLESAMPLE (25 PERCENT) REPEATABLE (11) ORDER BY id"
    val direct = spark.sql(s"SELECT id, shard FROM vspec.samp_t$q")
    val throughView = spark.sql(s"SELECT id, shard FROM vspec.v_samp$q")
    val directRows = direct.collect().toSeq
    assert(directRows === throughView.collect().toSeq,
      "sampling through the view must equal sampling the expansion")
    val pfDirect = plannedFiles(direct)
    val pfView = plannedFiles(throughView)
    assert(pfDirect < 16, s"block sample must prune files (planned $pfDirect of 16)")
    assert(pfView === pfDirect,
      s"the view must not change the sample's planning ($pfView vs $pfDirect)")
    // sample ∘ filter — Spark's pushdown can delegate only the node
    // that sits DIRECTLY over the scan, and this engine keeps every
    // pushed filter residual (bounds prove irrelevance, never
    // all-rows-match), so a Filter node always separates Sample from
    // the scan on one side or the other. Both composition shapes are
    // therefore exact but prune differently, and BOTH are pinned:
    //
    // (a) predicate ABOVE the sample (`... TABLESAMPLE ... WHERE p`):
    //     the block sample pushes, files plan from the band, and the
    //     predicate filters the sampled rows — the statement's own
    //     written semantics
    val above = spark.sql(
      s"SELECT id, shard FROM vspec.v_samp TABLESAMPLE (25 PERCENT) REPEATABLE (11) " +
        "WHERE shard IN ('1','2','3') ORDER BY id")
    assert(above.collect().toSeq ===
      directRows.filter(r => Set("1", "2", "3")(r.getString(1))),
      "predicate-above must equal filtering the block-sampled rows")
    assert(plannedFiles(above) === pfDirect,
      "predicate-above plans the sample band (the filter rides above)")
    // (b) predicate BELOW the sample (subquery shape): the filter
    //     pushes and prunes to its shard set; the sample cannot reach
    //     the scan past the residual filter and DEGRADES to Spark's
    //     row-Bernoulli over the filtered rows — correct rows, file
    //     planning from the predicate, sampling at row granularity
    val below = spark.sql(
      "SELECT id, shard FROM (SELECT * FROM vspec.v_samp WHERE shard IN ('1','2','3')) " +
        "TABLESAMPLE (25 PERCENT) REPEATABLE (11)")
    val belowRows = below.collect().toSeq
    assert(belowRows.forall(r => Set("1", "2", "3")(r.getString(1))))
    assert(plannedFiles(below) === 3,
      "predicate-below plans the filter's shard set")
  }

  test("streaming reads are left untouched — a view is a batch macro") {
    cat // force fixture
    val e = intercept[Exception] {
      spark.readStream.table("vspec.v_sum")
    }
    // table-not-found (the rule skipped it), never a silent expansion
    assert(e.getMessage.contains("v_sum"))
  }

  test("CREATE VIEW clauses map onto the stored definition: column lists, " +
    "per-column and view COMMENT, TBLPROPERTIES; engine-reserved properties " +
    "are refused (r14)") {
    cat
    // column list renames the body's output positionally
    spark.sql("CREATE OR REPLACE VIEW vspec.v_cols (grp, total) AS " +
      "SELECT k, sum(v) AS sv FROM vspec.t1 GROUP BY k")
    assert(spark.table("vspec.v_cols").schema.fieldNames.toSeq === Seq("grp", "total"))
    assert(spark.sql("SELECT grp, total FROM vspec.v_cols WHERE grp = 'a'")
      .collect().head.getDouble(1) === 40.0)
    // the view COMMENT lands in the stored properties
    spark.sql("CREATE OR REPLACE VIEW vspec.v_com COMMENT 'it''s documented' AS " +
      "SELECT k FROM vspec.t1")
    val d = GraftViews.read(java.nio.file.Paths.get(root), "v_com").get
    assert(d.properties.get("comment").contains("it's documented"))
    // both forms together
    spark.sql("CREATE OR REPLACE VIEW vspec.v_both (kk) COMMENT 'both' AS " +
      "SELECT k FROM vspec.t1")
    assert(spark.table("vspec.v_both").schema.fieldNames.toSeq === Seq("kk"))
    // a count mismatch fails loudly at create
    val bad = intercept[Exception] {
      spark.sql("CREATE OR REPLACE VIEW vspec.v_badcols (a, b, c) AS SELECT k FROM vspec.t1")
    }
    assert(bad.getMessage.contains("column list"), bad.getMessage)
    // TBLPROPERTIES land in the stored properties
    spark.sql("CREATE VIEW vspec.v_props TBLPROPERTIES ('a'='b') AS SELECT 1 AS x")
    assert(GraftViews.read(java.nio.file.Paths.get(root), "v_props").get
      .properties.get("a").contains("b"))
    // a per-column COMMENT lands in the stored column comments
    spark.sql("CREATE VIEW vspec.v_colc (a COMMENT 'c') AS SELECT k FROM vspec.t1")
    assert(cat.loadView(Identifier.of(Array.empty[String], "v_colc"))
      .columnComments().toSeq === Seq("c"))
    assert(spark.table("vspec.v_colc").schema.fieldNames.toSeq === Seq("a"))
    // a backticked comma is ONE quoted identifier, not a separator: over a
    // two-column body it fails the arity check instead of silently
    // splitting into two names, over one column it is stored as written
    val tick = intercept[Exception] {
      spark.sql("CREATE OR REPLACE VIEW vspec.v_tick (`a,b`) AS SELECT k, v FROM vspec.t1")
    }
    assert(tick.getMessage.contains("column list has 1 names"), tick.getMessage)
    spark.sql("CREATE OR REPLACE VIEW vspec.v_tick (`a,b`) AS SELECT k FROM vspec.t1")
    assert(spark.table("vspec.v_tick").schema.fieldNames.toSeq === Seq("a,b"))
    // the engine's MV bookkeeping properties are not the caller's to write
    val eng = intercept[Exception] {
      spark.sql("CREATE VIEW vspec.v_eng TBLPROPERTIES ('graft.mv.pending'='x') AS SELECT 1 AS x")
    }
    assert(eng.getMessage.contains("reserved"), eng.getMessage)
    assert(!GraftViews.exists(java.nio.file.Paths.get(root), "v_eng"))
    Seq("v_cols", "v_com", "v_both", "v_props", "v_colc", "v_tick")
      .foreach(v => spark.sql(s"DROP VIEW vspec.$v"))
  }

  test("single-part DROP VIEW prefers a session TEMP view over the stored " +
    "one — Spark's documented precedence (ADVICE r13)") {
    cat
    val prev = spark.sessionState.catalogManager.currentCatalog.name()
    spark.sql("USE vspec")
    try {
      spark.sql("CREATE VIEW v_shadow AS SELECT k FROM t1")
      spark.sql("CREATE TEMPORARY VIEW v_shadow AS SELECT 42 AS x")
      // the temp view shadows reads AND single-part DROP
      spark.sql("DROP VIEW v_shadow")
      // the STORED view survived the drop
      assert(GraftViews.exists(java.nio.file.Paths.get(root), "v_shadow"))
      assert(spark.sql("SELECT * FROM v_shadow").columns.toSeq === Seq("k"))
      // with the temp view gone, the same statement now drops the stored one
      spark.sql("DROP VIEW v_shadow")
      assert(!GraftViews.exists(java.nio.file.Paths.get(root), "v_shadow"))
    } finally spark.sql(s"USE $prev")
  }

  test("AVG routes through the transparent rewrite from the stored " +
    "(sum, count) state — equal AND coarser grain, bit-equal to the raw " +
    "recompute (r14)") {
    cat
    import graft.sources.JsonlStatsScan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.scan }
        .collect { case s: JsonlStatsScan => s.description() }
    spark.sql("DROP TABLE IF EXISTS vspec.av_t")
    Seq(("a", "x", 10.5), ("a", "y", 20.25), ("a", "y", 0.1),
      ("b", "x", 7.0), ("b", "x", 0.2), ("c", "z", 99.5))
      .toDF("k", "b", "v").createOrReplaceTempView("av_seed")
    spark.sql("CREATE TABLE vspec.av_t AS SELECT * FROM av_seed")
    spark.sql("CALL vspec.create_materialized_view('mv_av', " +
      "'SELECT k, b, avg(CAST(v AS DECIMAL(18,6))) AS av, count(*) AS n " +
      "FROM vspec.av_t GROUP BY k, b', or_replace => true)")
    // equal grain
    val qe = "SELECT k, b, avg(CAST(v AS DECIMAL(18,6))) AS av " +
      "FROM vspec.av_t GROUP BY k, b ORDER BY k, b"
    val he = spark.sql(qe)
    assert(scans(he).forall(_.contains("_mv_mv_av")), scans(he))
    assert(he.collect().toSeq ===
      spark.sql(qe.replace("vspec.av_t", "av_seed")).collect().toSeq,
      "equal-grain routed AVG must be bit-identical to the raw recompute")
    // coarser grain: every output row re-derives from MERGED cell state
    val qc = "SELECT k, avg(CAST(v AS DECIMAL(18,6))) AS av, count(*) AS n " +
      "FROM vspec.av_t GROUP BY k ORDER BY k"
    val hc = spark.sql(qc)
    assert(scans(hc).forall(_.contains("_mv_mv_av")), scans(hc))
    assert(hc.collect().toSeq ===
      spark.sql(qc.replace("vspec.av_t", "av_seed")).collect().toSeq,
      "coarser-grain routed AVG must be bit-identical to the raw recompute")
    // float AVG (no decimal cast) must NOT route — its state is a double
    val qf = "SELECT k, avg(v) AS av FROM vspec.av_t GROUP BY k"
    assert(scans(spark.sql(qf)).forall(s => s.contains("av_t") && !s.contains("_mv_")),
      "float AVG must keep the raw scan")
    spark.sql("CALL vspec.drop_view('mv_av')")
    spark.sql("DROP TABLE vspec.av_t")
  }

  test("filtered-MV rewrite fires under predicate subsumption: exact and " +
    "conjunctively-strengthened queries route, weaker predicates and " +
    "non-grain residuals decline (r14)") {
    cat
    import graft.sources.JsonlStatsScan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.scan }
        .collect { case s: JsonlStatsScan => s.description() }
    spark.sql("DROP TABLE IF EXISTS vspec.fw_t")
    Seq(("a", 10.0, 1L), ("a", 20.0, 9L), ("b", 5.0, 3L), ("c", 7.0, 4L))
      .toDF("k", "v", "id").createOrReplaceTempView("fw_seed")
    spark.sql("CREATE TABLE vspec.fw_t AS SELECT * FROM fw_seed")
    spark.sql("CALL vspec.create_materialized_view('mv_fw', " +
      "'SELECT k, count(*) AS n, CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv " +
      "FROM vspec.fw_t WHERE id < 5 GROUP BY k', or_replace => true)")
    def q(where: String) = "SELECT k, count(*) AS n, " +
      s"CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv FROM vspec.fw_t $where " +
      "GROUP BY k ORDER BY k"
    // exact predicate: routed, rows equal the seed recompute
    val exact = spark.sql(q("WHERE id < 5"))
    assert(scans(exact).forall(_.contains("_mv_mv_fw")), scans(exact))
    assert(exact.collect().toSeq ===
      spark.sql(q("WHERE id < 5").replace("vspec.fw_t", "fw_seed")).collect().toSeq)
    // conjunctive strengthening: the residual (a grain conjunct) rides
    // onto the backing scan
    val strong = spark.sql(q("WHERE id < 5 AND k <> 'a'"))
    assert(scans(strong).forall(_.contains("_mv_mv_fw")), scans(strong))
    assert(strong.collect().toSeq ===
      spark.sql(q("WHERE id < 5 AND k <> 'a'").replace("vspec.fw_t", "fw_seed"))
        .collect().toSeq)
    // WEAKER predicate (missing the MV conjunct): the query needs rows
    // the MV never merged — raw scan
    val weak = spark.sql(q(""))
    assert(scans(weak).forall(s => s.contains("fw_t") && !s.contains("_mv_")), scans(weak))
    // a NON-GRAIN residual cuts rows the MV already merged — raw scan
    val nonGrain = spark.sql(q("WHERE id < 5 AND v > 6"))
    assert(scans(nonGrain).forall(s => s.contains("fw_t") && !s.contains("_mv_")),
      scans(nonGrain))
    spark.sql("CALL vspec.drop_view('mv_fw')")
    spark.sql("DROP TABLE vspec.fw_t")
  }

  test("MV over a stored view flattens (r15): versions track the underlying " +
    "tables, refresh is incremental through the expansion, and REDEFINING " +
    "the view makes the MV stale — reads take the body path, the next " +
    "refresh rebuilds under the new definition") {
    cat
    spark.sql("DROP TABLE IF EXISTS vspec.fl_t")
    Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("k", "v")
      .createOrReplaceTempView("fl_seed")
    spark.sql("CREATE TABLE vspec.fl_t AS SELECT * FROM fl_seed")
    spark.sql("CALL vspec.create_view('v_fl', " +
      "'SELECT k, v FROM vspec.fl_t WHERE v > 0', or_replace => true)")
    spark.sql("CALL vspec.create_materialized_view('mv_fl', " +
      "'SELECT k, count(*) AS n, " +
      "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS sv " +
      "FROM vspec.v_fl GROUP BY k', or_replace => true)")
    val d0 = GraftViews.read(java.nio.file.Paths.get(root), "mv_fl").get
    assert(d0.properties.get(GraftViews.MvSourcesProp).exists(_.contains("fl_t")))
    assert(d0.properties.get(GraftViews.MvViewDepsProp).exists(_.contains("v_fl")))
    def rows() = spark.sql("SELECT * FROM vspec.mv_fl ORDER BY k").collect().toSeq
    def mode() = spark.sql("CALL vspec.refresh_materialized_view('mv_fl')")
      .collect().head.getString(2)
    // a TABLE window refreshes INCREMENTALLY through the expansion
    spark.sql("INSERT INTO vspec.fl_t VALUES ('c', 5.0), ('a', -1.0)") // -1 filtered
    assert(mode() === "incremental")
    assert(rows().map(r => (r.getString(0), r.getLong(1))) ===
      Seq(("a", 2L), ("b", 1L), ("c", 1L)))
    // REDEFINE the view: no table version moved, but the MV is STALE
    // (definition-hash dependency) and reads expand the NEW body
    spark.sql("CALL vspec.create_view('v_fl', " +
      "'SELECT k, v FROM vspec.fl_t WHERE v > 2', or_replace => true)")
    assert(!GraftViews.mvFresh(root,
      GraftViews.read(java.nio.file.Paths.get(root), "mv_fl").get))
    assert(rows().map(_.getString(0)) === Seq("b", "c"),
      "a stale read must expand the redefined view's body")
    // the refresh notices (a noop would strand the backing) — full
    // rebuild under the new definition, fresh again after
    assert(mode() === "full")
    assert(GraftViews.mvFresh(root,
      GraftViews.read(java.nio.file.Paths.get(root), "mv_fl").get))
    assert(rows().map(_.getString(0)) === Seq("b", "c"))
    // and the next TABLE window is incremental again
    spark.sql("INSERT INTO vspec.fl_t VALUES ('d', 9.0)")
    assert(mode() === "incremental")
    assert(rows().map(_.getString(0)) === Seq("b", "c", "d"))
    spark.sql("CALL vspec.drop_view('mv_fl')")
    spark.sql("CALL vspec.drop_view('v_fl')")
    spark.sql("DROP TABLE vspec.fl_t")
  }

  test("HAVING bodies maintain incrementally (r15): the backing stores ALL " +
    "groups, reads re-apply the predicate, and groups CROSSING the boundary " +
    "appear/disappear after the incremental refresh; non-visible HAVING " +
    "aggregates decline") {
    cat
    spark.sql("DROP TABLE IF EXISTS vspec.hv_t")
    Seq(("a", 3.0), ("a", 4.0), ("b", 1.0), ("c", 9.0)).toDF("k", "v")
      .createOrReplaceTempView("hv_seed")
    spark.sql("CREATE TABLE vspec.hv_t AS SELECT * FROM hv_seed")
    val body = "SELECT k, count(*) AS n, " +
      "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS sv " +
      "FROM vspec.hv_t GROUP BY k HAVING sv > 5"
    spark.sql(s"CALL vspec.create_materialized_view('mv_hv', '$body', or_replace => true)")
    def rows() = spark.sql("SELECT * FROM vspec.mv_hv ORDER BY k").collect().toSeq
    def direct() = spark.sql(body + " ORDER BY k").collect().toSeq
    def mode() = spark.sql("CALL vspec.refresh_materialized_view('mv_hv')")
      .collect().head.getString(2)
    // fresh read filters: a (7) and c (9) pass, b (1) does not — while
    // the backing stores ALL three groups (state is HAVING-blind)
    assert(rows().map(_.getString(0)) === Seq("a", "c"))
    assert(rows() === direct())
    assert(spark.table("vspec.`_mv_mv_hv`").count() === 3,
      "the backing must store all groups, visible and filtered alike")
    // window: b crosses INTO the boundary, a crosses OUT of it
    spark.sql("INSERT INTO vspec.hv_t VALUES ('b', 10.0)")
    spark.sql("DELETE FROM vspec.hv_t WHERE k = 'a' AND v = 4.0")
    // the STALE read (body path) is already correct before the refresh
    assert(rows() === direct())
    assert(mode() === "incremental")
    assert(rows().map(_.getString(0)) === Seq("b", "c"))
    assert(rows() === direct())
    // a HAVING aggregate NOT in the SELECT list has no maintained
    // state — the refresh declines to the full rebuild and stays right
    spark.sql("CALL vspec.create_materialized_view('mv_hv2', " +
      "'SELECT k, count(*) AS n FROM vspec.hv_t GROUP BY k HAVING max(v) > 2', " +
      "or_replace => true)")
    spark.sql("INSERT INTO vspec.hv_t VALUES ('d', 8.0)")
    assert(spark.sql("CALL vspec.refresh_materialized_view('mv_hv2')")
      .collect().head.getString(2) === "full")
    assert(spark.sql("SELECT * FROM vspec.mv_hv2 ORDER BY k").collect().toSeq ===
      spark.sql("SELECT k, count(*) AS n FROM vspec.hv_t GROUP BY k HAVING max(v) > 2 " +
        "ORDER BY k").collect().toSeq)
    spark.sql("CALL vspec.drop_view('mv_hv')")
    spark.sql("CALL vspec.drop_view('mv_hv2')")
    spark.sql("DROP TABLE vspec.hv_t")
  }

  test("COUNT(DISTINCT) routes through the transparent rewrite at the " +
    "EXACT grain only (r15): the stored liveness count serves the " +
    "dashboard verbatim, a coarser grain re-aggregation declines to the " +
    "raw scan — correct rows either way") {
    cat
    import graft.sources.JsonlStatsScan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.scan }
        .collect { case s: JsonlStatsScan => s.description() }
    spark.sql("DROP TABLE IF EXISTS vspec.dv_t")
    Seq(("a", "u1"), ("a", "u1"), ("a", "u2"), ("b", "u1"), ("b", "u3"))
      .toDF("k", "u").createOrReplaceTempView("dv_seed")
    spark.sql("CREATE TABLE vspec.dv_t AS SELECT * FROM dv_seed")
    spark.sql("CALL vspec.create_materialized_view('mv_dv', " +
      "'SELECT k, count(DISTINCT u) AS du, count(*) AS n " +
      "FROM vspec.dv_t GROUP BY k', or_replace => true)")
    // EXACT grain: the raw-table dashboard query routes to the backing
    val exact = spark.sql(
      "SELECT k, count(DISTINCT u) AS du, count(*) AS n FROM vspec.dv_t GROUP BY k")
    assert(scans(exact).nonEmpty && scans(exact).forall(_.contains("_mv_mv_dv")),
      s"exact-grain COUNT(DISTINCT) must route: ${scans(exact)}")
    assert(exact.orderBy("k").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("a", 2L, 3L), ("b", 2L, 2L)))
    // COARSER grain (global): distinct counts do not merge — raw scan
    val coarse = spark.sql("SELECT count(DISTINCT u) AS du FROM vspec.dv_t")
    assert(scans(coarse).forall(s => s.contains("dv_t") && !s.contains("_mv_")),
      s"coarser-grain COUNT(DISTINCT) must not route: ${scans(coarse)}")
    assert(coarse.collect().head.getLong(0) === 3L)
    spark.sql("CALL vspec.drop_view('mv_dv')")
    spark.sql("DROP TABLE vspec.dv_t")
  }

  test("rewrite candidate identity is the sidecar's CONTENT: a replace " +
    "serving the same mtime still evicts the cached shape (ADVICE r13)") {
    cat
    import graft.sources.JsonlStatsScan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.scan }
        .collect { case s: JsonlStatsScan => s.description() }
    spark.sql("DROP TABLE IF EXISTS vspec.cc_t")
    Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v").createOrReplaceTempView("cc_seed")
    spark.sql("CREATE TABLE vspec.cc_t AS SELECT * FROM cc_seed")
    spark.sql("CALL vspec.create_materialized_view('mv_cc', " +
      "'SELECT k, count(*) AS n FROM vspec.cc_t GROUP BY k', or_replace => true)")
    val q = "SELECT k, count(*) AS n FROM vspec.cc_t GROUP BY k"
    assert(scans(spark.sql(q)).forall(_.contains("_mv_mv_cc")), "prime the cache")
    val sidecar = GraftViews.viewFile(java.nio.file.Paths.get(root), "mv_cc")
    val mtime = java.nio.file.Files.getLastModifiedTime(sidecar)
    // replace with a NON-rewritable body (float AVG — r15 made
    // COUNT(DISTINCT) maintainable, so it no longer serves here) and
    // pin the mtime back — only content identity can notice the change
    spark.sql("CALL vspec.create_materialized_view('mv_cc', " +
      "'SELECT k, avg(v) AS n FROM vspec.cc_t GROUP BY k', or_replace => true)")
    java.nio.file.Files.setLastModifiedTime(sidecar, mtime)
    val after = spark.sql(q)
    assert(scans(after).forall(s => s.contains("cc_t") && !s.contains("_mv_")),
      s"stale cached shape served after same-mtime replace: ${scans(after)}")
    spark.sql("CALL vspec.drop_view('mv_cc')")
  }

  test("rewrite placement contract: an MV in a SIBLING namespace over the " +
    "source never fires the transparent rewrite; reads through its own " +
    "name still serve the backing (r14)") {
    cat
    import graft.sources.JsonlStatsScan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def scans(df: org.apache.spark.sql.DataFrame): Seq[String] =
      nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b.scan }
        .collect { case s: JsonlStatsScan => s.description() }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vspec.nsa")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vspec.nsb")
    spark.sql("DROP TABLE IF EXISTS vspec.nsa.pc_t")
    Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v").createOrReplaceTempView("pc_seed")
    spark.sql("CREATE TABLE vspec.nsa.pc_t AS SELECT * FROM pc_seed")
    spark.sql("CALL vspec.create_materialized_view('nsb.mv_pc', " +
      "'SELECT k, count(*) AS n FROM vspec.nsa.pc_t GROUP BY k', or_replace => true)")
    // the sibling-namespace MV is invisible to the rewrite probe —
    // the raw aggregate keeps its raw scan (the documented contract:
    // MVs rewrite only from the source's namespace or the root)
    val agg = spark.sql("SELECT k, count(*) AS n FROM vspec.nsa.pc_t GROUP BY k")
    assert(scans(agg).forall(s => s.contains("pc_t") && !s.contains("_mv_")), scans(agg))
    // reading through the MV's own name serves the backing as usual
    val direct = spark.sql("SELECT * FROM vspec.nsb.mv_pc")
    assert(scans(direct).forall(_.contains("_mv_mv_pc")), scans(direct))
    spark.sql("CALL vspec.drop_view('nsb.mv_pc')")
  }


  test("replacing a COUNT(DISTINCT) MV by a plain view, or dropping one through " +
    "the catalog, removes its backing and liveness tables") {
    cat
    spark.sql("DROP TABLE IF EXISTS vspec.own_t")
    Seq(("a", "u1"), ("a", "u2"), ("b", "u1")).toDF("k", "u").createOrReplaceTempView("own_seed")
    spark.sql("CREATE TABLE vspec.own_t AS SELECT * FROM own_seed")
    def owned(v: String): Seq[String] = {
      val ls = Files.list(java.nio.file.Paths.get(root))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n == s"_mv_$v" || n.startsWith(s"_mvaux_${v}_")).toList
      finally ls.close()
    }
    Seq("mv_own_r", "mv_own_d").foreach { v =>
      spark.sql(s"CALL vspec.create_materialized_view('$v', " +
        "'SELECT k, count(DISTINCT u) AS du FROM vspec.own_t GROUP BY k')")
      assert(owned(v).contains(s"_mv_$v") && owned(v).exists(_.startsWith(s"_mvaux_${v}_")),
        s"the MV must own a backing and a liveness table: ${owned(v)}")
    }
    spark.sql("CALL vspec.create_view('mv_own_r', 'SELECT k FROM vspec.own_t', " +
      "or_replace => true)")
    assert(owned("mv_own_r").isEmpty, s"replaced MV left tables behind: ${owned("mv_own_r")}")
    assert(spark.sql("SELECT * FROM vspec.mv_own_r").count() === 3L)
    assert(cat.dropView(Identifier.of(Array.empty[String], "mv_own_d")))
    assert(owned("mv_own_d").isEmpty, s"dropped MV left tables behind: ${owned("mv_own_d")}")
    spark.sql("CALL vspec.drop_view('mv_own_r')")
    spark.sql("DROP TABLE vspec.own_t")
  }

  test("engine-reserved view properties are refused from callers: a failed " +
    "refresh's crash marker cannot be removed or forged through the catalog") {
    cat
    spark.sql("DROP TABLE IF EXISTS vspec.rsv_t")
    spark.sql("CREATE TABLE vspec.rsv_t AS SELECT k, v FROM vspec.t1")
    spark.sql("CALL vspec.create_materialized_view('mv_rsv', " +
      "'SELECT k, count(*) AS n FROM vspec.rsv_t GROUP BY k', or_replace => true)")
    val nsDir = java.nio.file.Paths.get(root)
    val d = GraftViews.read(nsDir, "mv_rsv").get
    // what a refresh that died mid-MERGE leaves behind
    GraftViews.write(nsDir, d.copy(properties = d.properties +
      (GraftViews.MvPendingProp -> "incremental")), replace = true)
    val ident = Identifier.of(Array.empty[String], "mv_rsv")
    val rm = intercept[Exception] {
      cat.alterView(ident, ViewChange.removeProperty(GraftViews.MvPendingProp))
    }
    assert(rm.getMessage.contains("reserved"), rm.getMessage)
    assert(GraftViews.read(nsDir, "mv_rsv").get.properties.contains(GraftViews.MvPendingProp),
      "the crash marker must survive a caller's removal")
    intercept[Exception] {
      cat.alterView(ident, ViewChange.setProperty(GraftViews.MvSourcesProp, "rsv_t@1"))
    }
    val schema = spark.table("vspec.t1").schema
    val forged = intercept[Exception] {
      cat.createView(new ViewInfo(
        Identifier.of(Array.empty[String], "v_forged"), "SELECT 1 AS x", "vspec",
        Array.empty[String], schema, schema.fieldNames, Array.empty[String],
        Array.empty[String], java.util.Map.of(GraftViews.MvTableProp, "_mv_mv_rsv")))
    }
    assert(forged.getMessage.contains("reserved"), forged.getMessage)
    // caller properties outside the prefix still alter freely
    cat.alterView(ident, ViewChange.setProperty("owner", "bi"))
    assert(cat.loadView(ident).properties().get("owner") === "bi")
    spark.sql("CALL vspec.drop_view('mv_rsv')")
    spark.sql("DROP TABLE vspec.rsv_t")
  }

  test("one path: a body defined through SQL, CALL create_view and " +
    "GraftCatalog.createView stores equal sidecars, and each drop surface " +
    "removes a materialized view's owned tables") {
    cat
    val namespaces = Seq("law_sql", "law_call", "law_api")
    namespaces.foreach(ns => spark.sql(s"CREATE NAMESPACE IF NOT EXISTS vspec.$ns"))
    val body = "SELECT k, sum(v) AS sv FROM vspec.t1 GROUP BY k"
    spark.sql(s"CREATE VIEW vspec.law_sql.v_law (grp, total) COMMENT 'law' AS $body")
    spark.sql(s"CALL vspec.create_view('law_call.v_law', '$body', comment => 'law', " +
      "columns => 'grp,total')")
    cat.createView(GraftCatalog.viewInfo(spark, Identifier.of(Array("law_api"), "v_law"),
      body, Seq(("grp", None), ("total", None)), Some("law"), Map.empty))
    val defs = namespaces.map(ns => GraftViews.read(java.nio.file.Paths.get(root, ns), "v_law").get)
    assert(defs.forall(_ == defs.head), s"the three surfaces stored different definitions: $defs")
    assert(defs.head.schema.fieldNames.toSeq === Seq("grp", "total") &&
      defs.head.queryColumnNames === Seq("k", "sv") &&
      defs.head.properties === Map("comment" -> "law"))
    // replace each by a COUNT(DISTINCT) MV (a backing and a liveness
    // table), then drop each through a different surface
    def owned(ns: String): Seq[String] = {
      val ls = Files.list(java.nio.file.Paths.get(root, ns))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n == "_mv_v_law" || n.startsWith("_mvaux_v_law_")).toList
      finally ls.close()
    }
    namespaces.foreach { ns =>
      spark.sql(s"CALL vspec.create_materialized_view('$ns.v_law', " +
        "'SELECT k, count(DISTINCT id) AS du FROM vspec.t1 GROUP BY k', or_replace => true)")
      assert(owned(ns).size === 2, s"$ns: ${owned(ns)}")
    }
    spark.sql("DROP VIEW vspec.law_sql.v_law")
    spark.sql("CALL vspec.drop_view('law_call.v_law')")
    assert(cat.dropView(Identifier.of(Array("law_api"), "v_law")))
    namespaces.foreach { ns =>
      assert(!GraftViews.exists(java.nio.file.Paths.get(root, ns), "v_law"), ns)
      assert(owned(ns).isEmpty, s"$ns kept owned tables: ${owned(ns)}")
    }
  }
}

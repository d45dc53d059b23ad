package graft

import graft.sources.{GraftCatalog, GraftViews}
import org.apache.spark.sql.DataFrame

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Incremental materialized-view refresh
  * ([[graft.plans.MvIncremental]] + the refresh procedure's delta-merge
  * path + [[graft.sources.ChangeFeed.signedChanges]]).
  *
  * The load-bearing laws:
  *   - equivalence: after ANY mix of appends, row-level deletes and
  *     copy-on-write rewrites, the incrementally-refreshed backing
  *     equals the full recompute BIT-EXACTLY (decimal raw state,
  *     wrappers re-applied to merged state);
  *   - the mode is observable: the refresh readout says which path ran,
  *     so a silent fallback can never masquerade as the fast path;
  *   - NULL-sum semantics survive: deleting every non-null contributor
  *     of a surviving group restores SQL's NULL, not 0;
  *   - group lifecycle: net-zero groups leave the backing, groups born
  *     in the window enter it, insert+delete-in-window phantoms don't;
  *   - ineligible shapes (float sums/averages, outer joins, global
  *     aggregates, ambiguous join names, WHERE subqueries) and suspect
  *     states (pending marker from a died refresh) fall back to the
  *     always-correct full rebuild; MIN/MAX under deleting windows
  *     repair group-scoped (r14) instead of rebuilding; multiple
  *     movers and self-joined movers TELESCOPE (r15) and stay
  *     incremental.
  */
class MvIncrementalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = Files.createTempDirectory("mvinc_spec").toString
  private lazy val cat: GraftCatalog = {
    spark.conf.set("spark.sql.catalog.mvinc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mvinc.root", root)
    spark.sessionState.catalogManager.catalog("mvinc").asInstanceOf[GraftCatalog]
  }

  private def refreshMode(view: String): String =
    spark.sql(s"CALL mvinc.refresh_materialized_view('$view')")
      .collect().head.getString(2)

  private def mvRows(view: String): Seq[org.apache.spark.sql.Row] =
    spark.sql(s"SELECT * FROM mvinc.$view ORDER BY 1").collect().toSeq

  private def direct(sql: String): Seq[org.apache.spark.sql.Row] =
    spark.sql(sql + " ORDER BY 1").collect().toSeq

  /** The queries `f` ran (nested ones included), on the caller's
    * session or on one cloned from it. Listener calls arrive
    * asynchronously, in order: a sentinel query run after `f` bounds
    * the wait. */
  private def queriesRun(f: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    val manager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
    val sentinel = s"mvinc_sentinel_${System.nanoTime()}"
    def sentinelSeen = seen.asScala.exists(_.logical.toString.contains(sentinel))
    manager.register(listener)
    try {
      f
      spark.range(1).selectExpr(s"'$sentinel' AS s").collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinelSeen, "listener never saw the sentinel")
    } finally manager.unregister(listener)
    seen.asScala.toSeq
  }

  /** Logical plans of the queries `f` ran whose text mentions `marker`. */
  private def plansMentioning(marker: String)(f: => Unit): Seq[String] =
    queriesRun(f).map(_.logical.toString).filter(_.contains(marker))

  test("delta-merge refresh equals the full recompute through appends, " +
    "deletes, group birth/death, and NULL-sum restoration") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.src1")
    Seq(("a", Some(10.0)), ("a", Some(20.0)), ("b", Some(5.0)),
      ("c", Some(7.0)), ("d", None), ("d", Some(3.0)))
      .toDF("k", "v").createOrReplaceTempView("mvinc_seed")
    spark.sql("CREATE TABLE mvinc.src1 AS SELECT * FROM mvinc_seed")
    val body = "SELECT k, count(*) AS n, count(v) AS nv, " +
      "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv FROM mvinc.src1 GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv1', '$body', or_replace => true)")
    // the backing carries the hidden state columns from birth
    val backingCols = spark.table("mvinc.`_mv_mv1`").schema.fieldNames.toSet
    assert(backingCols.contains("graft_ivm_n"), backingCols)
    assert(backingCols.exists(_.startsWith("graft_ivm_a")), backingCols)
    // window 1: new group e is born, group c dies, d loses its only
    // non-null contributor (sum must go NULL), a grows
    spark.sql("INSERT INTO mvinc.src1 VALUES ('e', 100.0), ('a', 30.0)")
    spark.sql("DELETE FROM mvinc.src1 WHERE k = 'c' OR (k = 'd' AND v IS NOT NULL)")
    assert(refreshMode("mv1") === "incremental")
    assert(mvRows("mv1") === direct(body))
    val d = mvRows("mv1").find(_.getString(0) == "d").get
    assert(d.getLong(1) === 1L && d.getLong(2) === 0L && d.isNullAt(3),
      s"NULL-sum restoration failed: $d")
    assert(!mvRows("mv1").exists(_.getString(0) == "c"), "dead group must leave")
    // window 2: insert+delete inside one window — no phantom group
    spark.sql("INSERT INTO mvinc.src1 VALUES ('ph', 1.0)")
    spark.sql("DELETE FROM mvinc.src1 WHERE k = 'ph'")
    assert(refreshMode("mv1") === "incremental")
    assert(!mvRows("mv1").exists(_.getString(0) == "ph"), "phantom group inserted")
    assert(mvRows("mv1") === direct(body))
    // the fresh path serves the backing (and hides the state columns)
    assert(spark.table("mvinc.mv1").schema.fieldNames.toSeq === Seq("k", "n", "nv", "sv"))
    // window 3: nothing moved
    assert(refreshMode("mv1") === "noop")
  }

  test("WHERE bodies maintain over the filtered delta; expression group " +
    "keys group the delta by the same expression") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.src2")
    Seq(("aa", 1L, 10.0), ("ab", 2L, 20.0), ("ba", 3L, 30.0), ("bb", 4L, 5.0))
      .toDF("k", "id", "v").createOrReplaceTempView("mvinc_seed2")
    spark.sql("CREATE TABLE mvinc.src2 AS SELECT * FROM mvinc_seed2")
    val body = "SELECT substring(k, 1, 1) AS fam, count(*) AS n, " +
      "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS sv " +
      "FROM mvinc.src2 WHERE id % 2 = 0 GROUP BY substring(k, 1, 1)"
    spark.sql(s"CALL mvinc.create_materialized_view('mv2', '$body', or_replace => true)")
    spark.sql("INSERT INTO mvinc.src2 VALUES ('ac', 6, 7.0), ('ad', 7, 9.0)") // 7 filtered out
    spark.sql("DELETE FROM mvinc.src2 WHERE id = 4")
    assert(refreshMode("mv2") === "incremental")
    assert(mvRows("mv2") === direct(body))
    // 'b' family: only id=4 passed the filter and it was deleted
    assert(!mvRows("mv2").exists(_.getString(0) == "b"))
  }

  test("ineligible shapes decline to the full rebuild and say so: AVG, " +
    "float sum, global aggregate") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.src3")
    spark.sql("DROP TABLE IF EXISTS mvinc.dim3")
    Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v").createOrReplaceTempView("mvinc_seed3")
    spark.sql("CREATE TABLE mvinc.src3 AS SELECT * FROM mvinc_seed3")
    spark.sql("CREATE TABLE mvinc.dim3 AS SELECT 'a' AS k, 'x' AS tag")
    def check(name: String, body: String): Unit = {
      spark.sql(s"CALL mvinc.create_materialized_view('$name', '$body', or_replace => true)")
      spark.sql("INSERT INTO mvinc.src3 VALUES ('a', 9.0)")
      assert(refreshMode(name) === "full", name)
      assert(mvRows(name) === direct(body), name)
    }
    check("mv_avg", "SELECT k, avg(v) AS av FROM mvinc.src3 GROUP BY k")
    check("mv_float", "SELECT k, sum(v) AS sv FROM mvinc.src3 GROUP BY k")
    check("mv_glob", "SELECT count(*) AS n FROM mvinc.src3")
  }

  test("a standing pending marker (died refresh) forces the full rebuild, " +
    "clears, and reads stay correct throughout") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.src4")
    Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v").createOrReplaceTempView("mvinc_seed4")
    spark.sql("CREATE TABLE mvinc.src4 AS SELECT * FROM mvinc_seed4")
    val body = "SELECT k, count(*) AS n, " +
      "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv FROM mvinc.src4 GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv4', '$body', or_replace => true)")
    spark.sql("INSERT INTO mvinc.src4 VALUES ('a', 5.0)")
    // simulate the crash window: marker down, backing suspect
    val nsDir = java.nio.file.Paths.get(root)
    val d0 = GraftViews.read(nsDir, "mv4").get
    GraftViews.write(nsDir, d0.copy(properties =
      d0.properties + (GraftViews.MvPendingProp -> "1->2")), replace = true)
    // pending alone makes the read STALE (body path) even if versions match
    assert(!GraftViews.mvFresh(root, GraftViews.read(nsDir, "mv4").get))
    assert(mvRows("mv4") === direct(body), "pending read must expand the body")
    // repair: refresh refuses the delta path, rebuilds, clears the marker
    assert(refreshMode("mv4") === "full")
    assert(!GraftViews.read(nsDir, "mv4").get.properties.contains(GraftViews.MvPendingProp))
    assert(mvRows("mv4") === direct(body))
    // and the NEXT window is incremental again
    spark.sql("INSERT INTO mvinc.src4 VALUES ('b', 7.0)")
    assert(refreshMode("mv4") === "incremental")
    assert(mvRows("mv4") === direct(body))
  }

  test("merge-on-read deletes (deletion vectors) flow through the signed " +
    "delta: a DV-grown file contributes its newly-masked rows at -1") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.src5")
    spark.sql("CREATE TABLE mvinc.src5 (k STRING, v DOUBLE) USING `graft-jsonl-stats`")
    spark.sql("ALTER TABLE mvinc.src5 SET TBLPROPERTIES ('deleteMode'='merge-on-read')")
    spark.sql("INSERT INTO mvinc.src5 VALUES ('a', 1.0), ('a', 2.0), ('b', 3.0)")
    val body = "SELECT k, count(*) AS n, " +
      "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv FROM mvinc.src5 GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv5', '$body', or_replace => true)")
    spark.sql("DELETE FROM mvinc.src5 WHERE v = 2.0")
    assert(refreshMode("mv5") === "incremental")
    assert(mvRows("mv5") === direct(body))
    // the feed reads a DV-grown file at delete cost: a k-row DELETE over
    // N rows yields exactly k signed rows (the retracted leg, read with
    // the mask inverted over only the new sidecar), not the whole file
    // re-imaged at -1 and +1 (about 2N rows)
    spark.sql("INSERT INTO mvinc.src5 SELECT CAST(id % 3 AS STRING), " +
      "CAST(id AS DOUBLE) FROM range(0, 400, 1, 1)")
    val root5 = java.nio.file.Paths.get(root, "src5").toString
    val v0 = graft.sources.JsonlStats.currentVersion(root5)
    spark.sql("DELETE FROM mvinc.src5 WHERE v >= 100 AND v < 107")
    val v1 = graft.sources.JsonlStats.currentVersion(root5)
    val signed = graft.sources.ChangeFeed.signedChanges(spark, root5, v0, v1, "spec")
    val rows = signed.select("v", "_sign").collect()
    assert(rows.length === 7, s"expected exactly the 7 deleted rows, got ${rows.length}")
    assert(rows.map(r => (r.getDouble(0), r.getInt(1))).toSet ===
      (100 until 107).map(i => (i.toDouble, -1)).toSet)
    val manifests = graft.sources.ChangeFeed.signedManifests(root5, v0, v1, "spec")
    val retracted = manifests.filter(_.getFileName.toString.endsWith("retracted.jsonl"))
    assert(retracted.size === 1 && Files.exists(retracted.head), manifests)
    assert(graft.sources.JsonlStats.readStats(root5, s"_cdf/${retracted.head.getFileName}")
      .forall(e => e.inv && e.dels === 7L), "the retracted leg's entry is inverted")
    manifests.foreach(Files.deleteIfExists)
    assert(refreshMode("mv5") === "incremental")
    assert(mvRows("mv5") === direct(body))
  }

  test("a source COMPACTION window cancels arithmetically: re-emitted rows " +
    "net zero in the signed delta, the merge only applies the true change") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.src6")
    spark.sql("CREATE TABLE mvinc.src6 (k STRING, v DOUBLE) USING `graft-jsonl-stats`")
    spark.sql("INSERT INTO mvinc.src6 VALUES ('a', 1.0), ('b', 2.0)")
    spark.sql("INSERT INTO mvinc.src6 VALUES ('a', 3.0), ('c', 4.0)")
    val body = "SELECT k, count(*) AS n, " +
      "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv FROM mvinc.src6 GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv6', '$body', or_replace => true)")
    // the window: one real append + a compaction that rewrites EVERY
    // file (each untouched row appears at -1 and +1 and must net zero)
    spark.sql("INSERT INTO mvinc.src6 VALUES ('b', 10.0)")
    val root6 = java.nio.file.Paths.get(root, "src6").toString
    graft.sources.GraftProcedures.compact(root6, targetBytes = Long.MaxValue)
    assert(refreshMode("mv6") === "incremental")
    assert(mvRows("mv6") === direct(body),
      "compaction noise must cancel inside the signed sums")
    // and a second no-change refresh is a noop
    assert(refreshMode("mv6") === "noop")
  }

  test("fact⋈dim bodies maintain incrementally when ONLY the fact moved: " +
    "append and row-level-delete windows apply the spliced signed delta, " +
    "group birth/death flows through the join, a moved dim rebuilds (r14)") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.jfact")
    spark.sql("DROP TABLE IF EXISTS mvinc.jdim")
    Seq((1L, "gold"), (2L, "iron"), (3L, "gold"), (4L, "salt"))
      .toDF("did", "seg").createOrReplaceTempView("mvinc_jdim_seed")
    spark.sql("CREATE TABLE mvinc.jdim AS SELECT * FROM mvinc_jdim_seed")
    Seq((1L, 10.0), (1L, 20.0), (2L, 5.0), (9L, 99.0)) // 9 has no dim row
      .toDF("fid", "v").createOrReplaceTempView("mvinc_jfact_seed")
    spark.sql("CREATE TABLE mvinc.jfact AS SELECT * FROM mvinc_jfact_seed")
    val body = "SELECT seg, count(*) AS n, " +
      "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv " +
      "FROM mvinc.jfact JOIN mvinc.jdim ON fid = did WHERE v > 0 GROUP BY seg"
    spark.sql(s"CALL mvinc.create_materialized_view('mvj', '$body', or_replace => true)")
    val backingCols = spark.table("mvinc.`_mv_mvj`").schema.fieldNames.toSet
    assert(backingCols.contains("graft_ivm_n"), backingCols)
    // fact APPEND window: group 'salt' is born through the join (fid 4),
    // 'gold' grows, an unmatched fid contributes nothing
    spark.sql("INSERT INTO mvinc.jfact VALUES (4, 7.0), (3, 1.0), (11, 3.0)")
    assert(refreshMode("mvj") === "incremental")
    assert(mvRows("mvj") === direct(body))
    // fact DELETE window: 'iron' loses its only row and must leave
    spark.sql("DELETE FROM mvinc.jfact WHERE fid = 2")
    assert(refreshMode("mvj") === "incremental")
    assert(mvRows("mvj") === direct(body))
    assert(!mvRows("mvj").exists(_.getString(0) == "iron"), "dead group must leave")
    // a moved DIM is the same single-mover case by symmetry: the inner
    // join is bilinear, so Δ(F⋈D) = F⋈ΔD when only D moved — the
    // spliced delta joins the dim's signed window against the LIVE
    // (unchanged) fact, and the new dim row's matches appear
    spark.sql("INSERT INTO mvinc.jdim VALUES (11, 'ash')")
    assert(refreshMode("mvj") === "incremental")
    assert(mvRows("mvj") === direct(body))
    assert(mvRows("mvj").exists(_.getString(0) == "ash"),
      "the dim delta must see the live fact's join matches")
    // BOTH sides moved inside one window (r15): the delta TELESCOPES —
    // ΔF ⋈ D_head + F_recorded ⋈ ΔD, the second term version-pinning
    // the fact at its recorded manifest — so the cross term is covered
    // and the refresh stays incremental; tin's matches (old fact rows
    // AND the new fact row via the first term) must all appear
    spark.sql("INSERT INTO mvinc.jfact VALUES (4, 2.0), (12, 6.0)")
    spark.sql("INSERT INTO mvinc.jdim VALUES (12, 'tin')")
    assert(refreshMode("mvj") === "incremental")
    assert(mvRows("mvj") === direct(body))
    assert(mvRows("mvj").exists(_.getString(0) == "tin"),
      "the cross term ΔF⋈ΔD must be covered by the telescoping")
    // and the NEXT fact-only window is incremental again
    spark.sql("INSERT INTO mvinc.jfact VALUES (11, 2.5)")
    assert(refreshMode("mvj") === "incremental")
    assert(mvRows("mvj") === direct(body))
  }

  test("a self-joined mover telescopes over its occurrences (r15): " +
    "Δ(F⋈F) = ΔF⋈F₀ + F₁⋈ΔF — appends AND deletes stay incremental") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.pairs")
    Seq((1L, "a", 2L), (2L, "b", 3L), (3L, "a", 1L), (4L, "c", 4L))
      .toDF("id", "k", "nxt").createOrReplaceTempView("mvinc_pairs_seed")
    spark.sql("CREATE TABLE mvinc.pairs AS SELECT * FROM mvinc_pairs_seed")
    // the second occurrence aliases its columns apart (same-table bare
    // names would be ambiguous in the delta SQL and decline)
    val body = "SELECT k, count(*) AS n, " +
      "CAST(SUM(CAST(nxt AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS s " +
      "FROM mvinc.pairs p JOIN " +
      "(SELECT id AS id2, k AS k2 FROM mvinc.pairs) q ON p.nxt = q.id2 GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv_pairs', '$body', " +
      "or_replace => true)")
    // append window: new rows join EXISTING rows in both directions
    // (5→1 hits the old table via occurrence 1; 4→5 via occurrence 2),
    // and the ΔF⋈ΔF cross term (5→5? no — 5 links itself via 6) rides
    spark.sql("INSERT INTO mvinc.pairs VALUES (5, 'd', 1), (6, 'a', 5)")
    assert(refreshMode("mv_pairs") === "incremental")
    assert(mvRows("mv_pairs") === direct(body))
    // delete window: removed rows retract from BOTH occurrences
    spark.sql("DELETE FROM mvinc.pairs WHERE id = 2")
    assert(refreshMode("mv_pairs") === "incremental")
    assert(mvRows("mv_pairs") === direct(body))
    // MIN/MAX over a self-join: a group NEW to the backing can carry a
    // wrong raw delta extremum. Inserting y and deleting x in one
    // window, y's rows in the two terms are (y, 100, +1) from
    // Δp⋈q₀, and (y, 5, +1), (y, 100, -1) from p₁⋈Δq — the 100s
    // cancel in the signed sums, but the raw MAX is still 100. The
    // inserted row must take the repaired extremum (5).
    spark.sql("DROP TABLE IF EXISTS mvinc.selfmm")
    Seq(("x", 1L, 100L)).toDF("k", "j", "v").createOrReplaceTempView("mvinc_selfmm_seed")
    spark.sql("CREATE TABLE mvinc.selfmm AS SELECT * FROM mvinc_selfmm_seed")
    val mmBody = "SELECT k, min(v2) AS mn, max(v2) AS mx, count(*) AS n " +
      "FROM mvinc.selfmm p JOIN (SELECT j AS j2, v AS v2 FROM mvinc.selfmm) q " +
      "ON p.j = q.j2 GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv_selfmm', '$mmBody', " +
      "or_replace => true)")
    spark.sql("INSERT INTO mvinc.selfmm VALUES ('y', 1, 5)")
    spark.sql("DELETE FROM mvinc.selfmm WHERE k = 'x'")
    assert(refreshMode("mv_selfmm") === "incremental-repair")
    assert(mvRows("mv_selfmm") === direct(mmBody))
  }

  test("join-shape declines stay loud: ambiguous output names, outer " +
    "joins, and WHERE subqueries rebuild (r14)") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.sfact")
    spark.sql("DROP TABLE IF EXISTS mvinc.sdim")
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "k", "v")
      .createOrReplaceTempView("mvinc_sj_seed")
    spark.sql("CREATE TABLE mvinc.sfact AS SELECT * FROM mvinc_sj_seed")
    spark.sql("CREATE TABLE mvinc.sdim AS SELECT id AS did, k AS dk FROM mvinc_sj_seed")
    def check(name: String, body: String): Unit = {
      spark.sql(s"CALL mvinc.create_materialized_view('$name', '$body', or_replace => true)")
      spark.sql("INSERT INTO mvinc.sfact VALUES (1, 'a', 9.0)")
      assert(refreshMode(name) === "full", name)
      assert(mvRows(name) === direct(body), name)
    }
    // duplicate bare names across the join (both sides carry `id`)
    spark.sql("DROP TABLE IF EXISTS mvinc.sdup")
    spark.sql("CREATE TABLE mvinc.sdup AS SELECT id, k AS dk FROM mvinc_sj_seed")
    check("mv_dup", "SELECT dk, count(*) AS n FROM mvinc.sfact f " +
      "JOIN mvinc.sdup d ON f.id = d.id GROUP BY dk")
    // a self-joined mover TELESCOPES over its two occurrences (r15):
    // Δ(F⋈F) = ΔF⋈F_recorded + F_head⋈ΔF — incremental, not a rebuild.
    // (Its columns are ambiguous bare names here, so it lands in the
    // mv_dup decline below; the maintainable self-join arm lives in
    // the aliased-columns test.)
    // outer-right movers STAY frozen past the compensation's reach
    // (r16): a non-equi outer condition defeats the per-key reduction
    // the Griffin–Libkin flip needs (the equi single-leaf case now
    // maintains — pinned in the left-outer lifecycle test)
    check("mv_outer", "SELECT dk, count(*) AS n FROM mvinc.sdim " +
      "LEFT JOIN mvinc.sfact ON did < id GROUP BY dk")
    // ... and so does a multi-leaf outer right subtree (the old state
    // of a joined right side is not a single pinnable leaf)
    check("mv_outer2", "SELECT dk, count(*) AS n FROM mvinc.sdim " +
      "LEFT JOIN (SELECT f.id AS jid FROM mvinc.sfact f " +
      "JOIN mvinc.sdup d2 ON f.id = d2.id) j ON did = jid GROUP BY dk")
    // a WHERE subquery over the source mixes versions inside one delta
    check("mv_subq", "SELECT k, count(*) AS n FROM mvinc.sfact " +
      "WHERE v > (SELECT min(v) FROM mvinc.sfact) GROUP BY k")
  }

  test("AVG over DECIMAL maintains incrementally as derived (sum, count) " +
    "slots: bit-equal to the recompute through appends and deletes, NULL " +
    "when every non-null contributor leaves (r14)") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.srcavg")
    Seq(("a", Some(10.5)), ("a", Some(20.25)), ("b", Some(7.0)),
      ("d", None: Option[Double]), ("d", Some(3.0)))
      .toDF("k", "v").createOrReplaceTempView("mvinc_seedavg")
    spark.sql("CREATE TABLE mvinc.srcavg AS SELECT * FROM mvinc_seedavg")
    val body = "SELECT k, avg(CAST(v AS DECIMAL(18,6))) AS av, count(*) AS n " +
      "FROM mvinc.srcavg GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv_avgdec', '$body', " +
      "or_replace => true)")
    // the backing carries BOTH derived slots (sum state + count state)
    val backingCols = spark.table("mvinc.`_mv_mv_avgdec`").schema.fieldNames.toSet
    assert(backingCols.count(_.startsWith("graft_ivm_a")) >= 2, backingCols)
    // window: appends move two averages, a delete retracts a value,
    // and d loses its only NON-NULL contributor (average must go NULL)
    spark.sql("INSERT INTO mvinc.srcavg VALUES ('a', 1.0), ('c', 99.5)")
    spark.sql("DELETE FROM mvinc.srcavg WHERE k = 'b' AND v = 7.0 " +
      "OR (k = 'd' AND v IS NOT NULL)")
    assert(refreshMode("mv_avgdec") === "incremental")
    assert(mvRows("mv_avgdec") === direct(body),
      "incrementally-merged AVG must equal Spark's Average bit-for-bit")
    val d = mvRows("mv_avgdec").find(_.getString(0) == "d").get
    assert(d.isNullAt(1) && d.getLong(2) === 1L,
      s"all non-null contributors deleted: AVG must be NULL, not 0/0: $d")
    // averages with a remainder (non-terminating division) still match
    spark.sql("INSERT INTO mvinc.srcavg VALUES ('a', 0.1), ('a', 0.1), ('a', 0.1)")
    assert(refreshMode("mv_avgdec") === "incremental")
    assert(mvRows("mv_avgdec") === direct(body))
  }

  test("concurrent refreshes of one view serialize on the per-view claim: " +
    "the delta window applies exactly once (ADVICE r13)") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.src8")
    Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v").createOrReplaceTempView("mvinc_seed8")
    spark.sql("CREATE TABLE mvinc.src8 AS SELECT * FROM mvinc_seed8")
    val body = "SELECT k, count(*) AS n, " +
      "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv FROM mvinc.src8 GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv8', '$body', or_replace => true)")
    spark.sql("INSERT INTO mvinc.src8 VALUES ('a', 5.0), ('c', 9.0)")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val modes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val futures = (1 to 2).map(_ => pool.submit(new Runnable {
      override def run(): Unit = { barrier.await(); modes.add(refreshMode("mv8")) }
    }))
    futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    // the claim serializes: the winner applies the window, the loser
    // re-reads the sidecar and sees NOTHING left to do — never the same
    // window applied twice (doubled sums would fail the recompute check)
    assert(modes.asScala.toSeq.sorted === Seq("incremental", "noop").sorted
      || modes.asScala.toSeq.sorted === Seq("full", "noop").sorted, modes.asScala)
    assert(mvRows("mv8") === direct(body),
      "a doubled delta window would show here as doubled sums")
  }

  test("a source column named _sign declines the signed delta (the tag " +
    "would shadow it) and rebuilds fully — correct either way (ADVICE r13)") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.src9")
    Seq(("a", 1L), ("b", 2L)).toDF("k", "_sign").createOrReplaceTempView("mvinc_seed9")
    spark.sql("CREATE TABLE mvinc.src9 AS SELECT * FROM mvinc_seed9")
    val body = "SELECT k, sum(_sign) AS s9, count(*) AS n FROM mvinc.src9 GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv9', '$body', or_replace => true)")
    spark.sql("INSERT INTO mvinc.src9 VALUES ('a', 7)")
    assert(refreshMode("mv9") === "full",
      "a _sign source column must force the full rebuild, never replay the tag")
    assert(mvRows("mv9") === direct(body))
  }

  test("consumed signed-delta manifests are swept: an incremental refresh " +
    "leaves no _cdf ivm files behind (ADVICE r13)") {
    cat
    val gfKey = "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"
    // derived manifests a refresh writes under a table's _cdf: signed
    // window pairs (`..._ivm<nonce>...`) and version pins (`..._pin<nonce>`)
    def derivedCdf(table: String): Seq[String] = {
      val cdf = java.nio.file.Paths.get(root, table, "_cdf")
      if (!Files.isDirectory(cdf)) Seq.empty
      else {
        val s = Files.list(cdf)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.contains("ivm") || n.contains("_pin")).toSeq
        finally s.close()
      }
    }
    // each window refreshes under a different caller state of the
    // group-filter conf (unset, then set): the refresh may flip it for
    // its own MERGEs, but must hand back exactly what the caller had
    def check(view: String, src: String, body: String, mode: String,
        windows: Seq[String]): Unit = {
      spark.sql(s"CALL mvinc.create_materialized_view('$view', '$body', or_replace => true)")
      val liveness = Iterator.from(0).map(graft.plans.MvIncremental.auxTableName(view, _))
        .takeWhile(t => Files.isDirectory(java.nio.file.Paths.get(root, t))).toSeq
      windows.zipWithIndex.foreach { case (dml, i) =>
        spark.sql(dml)
        val callerValue = if (i % 2 == 0) None else Some("true")
        callerValue.fold(spark.conf.unset(gfKey))(spark.conf.set(gfKey, _))
        try {
          assert(refreshMode(view) === mode, s"$view window $i")
          assert(spark.conf.getAll.get(gfKey) === callerValue,
            s"$view window $i: the group-filter conf must come back as the caller left it")
        } finally spark.conf.unset(gfKey)
        assert(mvRows(view) === direct(body), s"$view window $i")
        (src +: liveness).foreach { t =>
          assert(derivedCdf(t).isEmpty,
            s"$view window $i: ivm manifests must be swept from $t: ${derivedCdf(t)}")
        }
        val leaked = spark.catalog.listTables().collect()
          .filter(t => t.isTemporary && t.name.startsWith("graft_ivm_")).map(_.name).toSeq
        assert(leaked.isEmpty, s"$view window $i: temp views must be dropped: $leaked")
      }
    }
    spark.sql("DROP TABLE IF EXISTS mvinc.src10")
    Seq(("a", 1.0)).toDF("k", "v").createOrReplaceTempView("mvinc_seed10")
    spark.sql("CREATE TABLE mvinc.src10 AS SELECT * FROM mvinc_seed10")
    check("mv10", "src10", "SELECT k, count(*) AS n FROM mvinc.src10 GROUP BY k", "incremental",
      Seq("INSERT INTO mvinc.src10 VALUES ('b', 2.0)", "INSERT INTO mvinc.src10 VALUES ('c', 3.0)"))
    // COUNT(DISTINCT): the liveness table's pinned read and MERGE too
    spark.sql("DROP TABLE IF EXISTS mvinc.src10d")
    Seq(("a", "u1"), ("a", "u2"), ("b", "u1")).toDF("k", "u")
      .createOrReplaceTempView("mvinc_seed10d")
    spark.sql("CREATE TABLE mvinc.src10d AS SELECT * FROM mvinc_seed10d")
    check("mv10d", "src10d",
      "SELECT k, count(DISTINCT u) AS du, count(*) AS n FROM mvinc.src10d GROUP BY k",
      "incremental", Seq("INSERT INTO mvinc.src10d VALUES ('a', 'u3'), ('c', 'u1')",
        "DELETE FROM mvinc.src10d WHERE u = 'u2'"))
    // MIN/MAX over deleting windows: the group-scoped repair's spool
    // and head-version pins too
    spark.sql("DROP TABLE IF EXISTS mvinc.src10m")
    Seq(("a", 1.0), ("a", 5.0), ("b", 2.0), ("b", 7.0)).toDF("k", "v")
      .createOrReplaceTempView("mvinc_seed10m")
    spark.sql("CREATE TABLE mvinc.src10m AS SELECT * FROM mvinc_seed10m")
    check("mv10m", "src10m",
      "SELECT k, min(v) AS mn, max(v) AS mx, count(*) AS n FROM mvinc.src10m GROUP BY k",
      "incremental-repair", Seq("DELETE FROM mvinc.src10m WHERE v = 1.0",
        "DELETE FROM mvinc.src10m WHERE v = 7.0"))
  }

  test("left-outer fact⋈dim bodies maintain incrementally on BOTH sides " +
    "(r15/r16): fact windows splice; dim windows compensate Griffin–Libkin " +
    "style — a dim insert re-homes null-extended facts, a dim delete flips " +
    "matched facts back to the null group, and a mixed fact+dim window " +
    "telescopes a spliced term with a compensated one") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.lofact")
    spark.sql("DROP TABLE IF EXISTS mvinc.lodim")
    Seq((1L, "gold"), (2L, "iron")).toDF("did", "seg")
      .createOrReplaceTempView("mvinc_lodim_seed")
    spark.sql("CREATE TABLE mvinc.lodim AS SELECT * FROM mvinc_lodim_seed")
    Seq((1L, 10.0), (1L, 20.0), (2L, 5.0), (9L, 99.0)) // 9 has no dim row
      .toDF("fid", "v").createOrReplaceTempView("mvinc_lofact_seed")
    spark.sql("CREATE TABLE mvinc.lofact AS SELECT * FROM mvinc_lofact_seed")
    val body = "SELECT seg, count(*) AS n, " +
      "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS sv " +
      "FROM mvinc.lofact LEFT JOIN mvinc.lodim ON fid = did GROUP BY seg"
    spark.sql(s"CALL mvinc.create_materialized_view('mv_lo', '$body', or_replace => true)")
    def nullSeg() = mvRows("mv_lo").find(_.isNullAt(0))
    assert(nullSeg().exists(_.getLong(1) == 1L), "fact 9 null-extends into the NULL group")
    // fact APPEND window: a matched row grows iron, an unmatched row
    // grows the null-extended group — both through the spliced delta
    spark.sql("INSERT INTO mvinc.lofact VALUES (2, 7.0), (11, 3.0)")
    assert(refreshMode("mv_lo") === "incremental")
    assert(mvRows("mv_lo").toString === direct(body).toString)
    assert(nullSeg().exists(_.getLong(1) == 2L))
    // fact DELETE window: iron loses every row and must leave
    spark.sql("DELETE FROM mvinc.lofact WHERE fid = 2")
    assert(refreshMode("mv_lo") === "incremental")
    assert(mvRows("mv_lo").toString === direct(body).toString)
    assert(!mvRows("mv_lo").exists(r => !r.isNullAt(0) && r.getString(0) == "iron"))
    // DIM INSERT window (r16): the lagging dim row arrives — the
    // Griffin–Libkin compensation re-homes fact 9 OUT of the
    // null-extended group (flip −1) and the inner term grows 'ash':
    // incremental now, where r15 declined to the rebuild
    spark.sql("INSERT INTO mvinc.lodim VALUES (9, 'ash')")
    assert(refreshMode("mv_lo") === "incremental")
    assert(mvRows("mv_lo").toString === direct(body).toString)
    assert(mvRows("mv_lo").exists(r => !r.isNullAt(0) && r.getString(0) == "ash"),
      "the compensated refresh must re-match the formerly null-extended fact")
    assert(nullSeg().exists(_.getLong(1) == 1L),
      "fact 9 must leave the NULL group (flip −1), fact 11 stays")
    // fact-only window stays incremental
    spark.sql("INSERT INTO mvinc.lofact VALUES (9, 1.0)")
    assert(refreshMode("mv_lo") === "incremental")
    assert(mvRows("mv_lo").toString === direct(body).toString)
    // DIM DELETE window (r16): gold's dim row dies — the inner term
    // retracts the matched pairings and the flip (+1) re-null-extends
    // gold's facts into the NULL group
    spark.sql("DELETE FROM mvinc.lodim WHERE did = 1")
    assert(refreshMode("mv_lo") === "incremental")
    assert(mvRows("mv_lo").toString === direct(body).toString)
    assert(!mvRows("mv_lo").exists(r => !r.isNullAt(0) && r.getString(0) == "gold"),
      "gold lost its dim row and every fact with it — the group leaves")
    assert(nullSeg().exists(_.getLong(1) == 3L),
      "facts 1,1 flip back to the NULL group beside fact 11")
    // MIXED window (r16): a fact insert AND a dim insert in one refresh
    // window — the delta telescopes a spliced fact term (dim pinned at
    // its recorded version) with a compensated dim term (fact at head)
    spark.sql("INSERT INTO mvinc.lofact VALUES (12, 4.0)")
    spark.sql("INSERT INTO mvinc.lodim VALUES (11, 'oak')")
    assert(refreshMode("mv_lo") === "incremental")
    assert(mvRows("mv_lo").toString === direct(body).toString)
    assert(mvRows("mv_lo").exists(r => !r.isNullAt(0) && r.getString(0) == "oak"))
    // a dim row whose key matches NOTHING: pure insert, no flip
    spark.sql("INSERT INTO mvinc.lodim VALUES (777, 'veil')")
    assert(refreshMode("mv_lo") === "incremental")
    assert(mvRows("mv_lo").toString === direct(body).toString)
    assert(!mvRows("mv_lo").exists(r => !r.isNullAt(0) && r.getString(0) == "veil"),
      "an unmatched dim row contributes no group to a fact-driven view")
  }

  test("COUNT(DISTINCT) maintains incrementally via the per-(group, value) " +
    "liveness table: duplicate appends don't inflate, deleting a non-last " +
    "occurrence doesn't decrement, deleting the LAST occurrence does, and a " +
    "re-inserted value counts exactly once again (r15)") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.srcd")
    Seq((1L, "a", "u1"), (2L, "a", "u1"), (3L, "a", "u2"), (4L, "b", "u1"),
      (5L, "d", null: String))
      .toDF("id", "k", "u").createOrReplaceTempView("mvinc_seedd")
    spark.sql("CREATE TABLE mvinc.srcd AS SELECT * FROM mvinc_seedd")
    val body = "SELECT k, count(DISTINCT u) AS du, count(*) AS n, " +
      "CAST(SUM(CAST(id AS DECIMAL(18,0))) AS DECIMAL(28,0)) AS s FROM mvinc.srcd GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mvd', '$body', or_replace => true)")
    // the liveness table exists alongside the backing and holds one row
    // per (group, non-null value)
    val auxRoot = java.nio.file.Paths.get(root, "_mvaux_mvd_d0")
    assert(java.nio.file.Files.exists(auxRoot.resolve("_stats.jsonl")))
    def auxRows(): Seq[(String, String, Long)] =
      spark.read.format("graft-jsonl-stats").option("path", auxRoot.toString).load()
        .orderBy("k", "graft_ivm_v").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(auxRows() === Seq(("a", "u1", 2L), ("a", "u2", 1L), ("b", "u1", 1L)))
    def du(k: String): Long =
      mvRows("mvd").find(_.getString(0) == k).map(_.getLong(1)).getOrElse(-1L)
    // window 1: a DUPLICATE value, a NEW value, a new group, a null
    spark.sql("INSERT INTO mvinc.srcd VALUES (6, 'a', 'u1'), (7, 'a', 'u3'), " +
      "(8, 'c', 'u9'), (9, 'd', NULL)")
    assert(refreshMode("mvd") === "incremental")
    assert(mvRows("mvd") === direct(body))
    assert(du("a") === 3L && du("c") === 1L && du("d") === 0L)
    // window 2: delete ONE of a's three u1 occurrences — no decrement
    spark.sql("DELETE FROM mvinc.srcd WHERE id = 1")
    assert(refreshMode("mvd") === "incremental")
    assert(mvRows("mvd") === direct(body))
    assert(du("a") === 3L)
    // window 3: delete the LAST u1 occurrences of a — du drops to 2
    spark.sql("DELETE FROM mvinc.srcd WHERE id IN (2, 6)")
    assert(refreshMode("mvd") === "incremental")
    assert(mvRows("mvd") === direct(body))
    assert(du("a") === 2L)
    // window 4: RE-INSERT the deleted value — counts exactly once again
    spark.sql("INSERT INTO mvinc.srcd VALUES (10, 'a', 'u1')")
    assert(refreshMode("mvd") === "incremental")
    assert(mvRows("mvd") === direct(body))
    assert(du("a") === 3L)
    // window 5: group b dies — its liveness rows leave with it
    spark.sql("DELETE FROM mvinc.srcd WHERE k = 'b'")
    assert(refreshMode("mvd") === "incremental")
    assert(mvRows("mvd") === direct(body))
    assert(!mvRows("mvd").exists(_.getString(0) == "b"))
    assert(!auxRows().exists(_._1 == "b"),
      "a dead group's liveness rows must leave the aux table")
    // dropping the MV drops the liveness table with the backing
    spark.sql("CALL mvinc.drop_view('mvd')")
    assert(!java.nio.file.Files.exists(auxRoot),
      "the liveness table is engine-managed and drops with the view")
  }

  test("DISTINCT shapes beyond single-arg COUNT decline to the full " +
    "rebuild: SUM(DISTINCT) and multi-arg COUNT(DISTINCT) (r15)") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.srcdd")
    Seq(("a", 1L, 2L), ("b", 2L, 3L)).toDF("k", "x", "y")
      .createOrReplaceTempView("mvinc_seeddd")
    spark.sql("CREATE TABLE mvinc.srcdd AS SELECT * FROM mvinc_seeddd")
    def check(name: String, body: String): Unit = {
      spark.sql(s"CALL mvinc.create_materialized_view('$name', '$body', or_replace => true)")
      spark.sql("INSERT INTO mvinc.srcdd VALUES ('a', 9, 9)")
      assert(refreshMode(name) === "full", name)
      assert(mvRows(name) === direct(body), name)
    }
    check("mv_sumd", "SELECT k, sum(DISTINCT x) AS sx FROM mvinc.srcdd GROUP BY k")
    check("mv_cd2", "SELECT k, count(DISTINCT x, y) AS c2 FROM mvinc.srcdd GROUP BY k")
  }

  test("continuous refresh of a JOIN MV (r15): one trigger stream per " +
    "source, both drains land through the per-view lock, manual refresh " +
    "says noop after, and a checkpoint-wiped replay no-ops by version " +
    "idempotence") {
    cat
    spark.sql("DROP VIEW IF EXISTS mvinc.mv_cj")
    spark.sql("DROP TABLE IF EXISTS mvinc.cjf")
    spark.sql("DROP TABLE IF EXISTS mvinc.cjd")
    Seq((1L, "gold"), (2L, "iron")).toDF("did", "seg")
      .createOrReplaceTempView("mvinc_cjd_seed")
    spark.sql("CREATE TABLE mvinc.cjd AS SELECT * FROM mvinc_cjd_seed")
    Seq((1L, 10.0), (2L, 5.0)).toDF("fid", "v").createOrReplaceTempView("mvinc_cjf_seed")
    spark.sql("CREATE TABLE mvinc.cjf AS SELECT * FROM mvinc_cjf_seed")
    val body = "SELECT seg, count(*) AS n, " +
      "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS sv " +
      "FROM mvinc.cjf JOIN mvinc.cjd ON fid = did GROUP BY seg"
    spark.sql(s"CALL mvinc.create_materialized_view('mv_cj', '$body', or_replace => true)")
    val ckpt = java.nio.file.Files.createTempDirectory("mvinc_cj_ckpt").toString
    def drain(): Unit = graft.streaming.MvAutoRefresh.startAll(spark, "mvinc", "mv_cj",
      Seq(java.nio.file.Paths.get(root, "cjf").toString,
        java.nio.file.Paths.get(root, "cjd").toString), ckpt)
      .foreach(_.awaitTermination())
    // BOTH sources commit inside one window: the fact grows gold, the
    // new dim row re-homes fact 9 — the refresh consumes both movers
    spark.sql("INSERT INTO mvinc.cjf VALUES (1, 2.0), (9, 4.0)")
    spark.sql("INSERT INTO mvinc.cjd VALUES (9, 'ash')")
    drain()
    assert(refreshMode("mv_cj") === "noop",
      "the drains must have consumed every mover's window")
    assert(mvRows("mv_cj") === direct(body))
    assert(mvRows("mv_cj").exists(_.getString(0) == "ash"))
    // replay with a WIPED checkpoint: every batch no-ops, rows unchanged
    graft.util.Fs.deleteRecursively(ckpt)
    drain()
    assert(refreshMode("mv_cj") === "noop")
    assert(mvRows("mv_cj") === direct(body))
    // one trigger stream on the FACT alone (a static dim, q235's
    // shape): each generation's drain leaves a manual refresh nothing
    val factCkpt = java.nio.file.Files.createTempDirectory("mvinc_cjf_ckpt").toString
    Seq("(2, 1.5)", "(1, 8.0), (9, 0.5)").foreach { rows =>
      spark.sql(s"INSERT INTO mvinc.cjf VALUES $rows")
      graft.streaming.MvAutoRefresh.start(spark, "mvinc", "mv_cj",
        java.nio.file.Paths.get(root, "cjf").toString, factCkpt).awaitTermination()
      assert(refreshMode("mv_cj") === "noop", s"the drain of $rows left work behind")
      assert(mvRows("mv_cj") === direct(body))
    }
    graft.util.Fs.deleteRecursively(factCkpt)
  }

  test("pinnedScan freezes a version: a commit racing the refresh cannot " +
    "advance the scanned file set — every IVM leaf occurrence version-pins " +
    "on this, so the executed delta matches the recorded versions (ADVICE r14)") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.pinsrc")
    Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v").createOrReplaceTempView("mvinc_pin_seed")
    spark.sql("CREATE TABLE mvinc.pinsrc AS SELECT * FROM mvinc_pin_seed")
    val troot = java.nio.file.Paths.get(root, "pinsrc").toString
    val v = graft.sources.JsonlStats.currentVersion(troot)
    val pinned = graft.sources.ChangeFeed.pinnedScan(spark, troot, v, "spec")
    try {
      // the race: a commit lands AFTER the pin was taken but BEFORE the
      // pinned plan executes — a live read would see three rows
      spark.sql("INSERT INTO mvinc.pinsrc VALUES ('c', 3.0)")
      assert(spark.table("mvinc.pinsrc").count() === 3)
      assert(pinned.count() === 2, "a pinned scan must not see the racing commit")
      assert(pinned.orderBy("k").collect().map(_.getString(0)).toSeq === Seq("a", "b"))
    } finally java.nio.file.Files.deleteIfExists(
      graft.sources.ChangeFeed.pinnedManifest(troot, v, "spec"))
  }

  test("the past-the-cap repair path (broadcast semi-join + parquet spool) " +
    "still drops every graft_ivm_* temp view and sweeps every derived " +
    "_cdf manifest — signed pairs and version pins alike (ADVICE r14/r15)") {
    cat
    // two rows per group, more groups than twice the cap: each window
    // below touches more groups than the IN-list restriction takes, so
    // the repair restricts by the SEMI-JOIN (r15) and stays incremental
    val groups = 2L * (graft.sources.MvLifecycle.RepairMaxGroups + 2)
    spark.sql("DROP TABLE IF EXISTS mvinc.capsrc")
    spark.range(2 * groups).selectExpr("id DIV 2 AS k", "id AS v")
      .createOrReplaceTempView("mvinc_cap_seed")
    spark.sql("CREATE TABLE mvinc.capsrc AS SELECT * FROM mvinc_cap_seed")
    val body = "SELECT k, min(v) AS mn, max(v) AS mx, count(*) AS n " +
      "FROM mvinc.capsrc GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv_cap', '$body', or_replace => true)")
    // a deleting window past the cap: half the groups die
    spark.sql("DELETE FROM mvinc.capsrc WHERE k % 2 = 0")
    assert(refreshMode("mv_cap") === "incremental-repair")
    assert(mvRows("mv_cap") === direct(body))
    // and one that retracts every surviving group's MIN
    spark.sql("DELETE FROM mvinc.capsrc WHERE v % 2 = 0")
    assert(refreshMode("mv_cap") === "incremental-repair")
    assert(mvRows("mv_cap") === direct(body))
    val leaked = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_ivm_")).map(_.name).toSeq
    assert(leaked.isEmpty, s"decline paths must drop their temp views: $leaked")
    val cdf = java.nio.file.Paths.get(root, "capsrc", "_cdf")
    val leftover =
      if (!java.nio.file.Files.isDirectory(cdf)) Seq.empty
      else {
        val s = java.nio.file.Files.list(cdf)
        try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
      }
    assert(leftover.isEmpty, s"_cdf manifests must be swept on decline: $leftover")
  }

  test("MIN/MAX maintain over INSERT-ONLY windows (least/greatest merge, " +
    "null-skipping); a deleting window repairs GROUP-SCOPED, only the " +
    "affected groups' extrema recompute from source (r14)") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.src7")
    Seq(("a", Some(5.0)), ("a", Some(9.0)), ("b", None: Option[Double]))
      .toDF("k", "v").createOrReplaceTempView("mvinc_seed7")
    spark.sql("CREATE TABLE mvinc.src7 AS SELECT * FROM mvinc_seed7")
    val body = "SELECT k, min(v) AS mn, max(v) AS mx, count(*) AS n " +
      "FROM mvinc.src7 GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv7', '$body', or_replace => true)")
    // append window: new extremum for a, first non-null for b, new group c
    spark.sql("INSERT INTO mvinc.src7 VALUES ('a', 1.0), ('b', 7.0), ('c', 3.0)")
    assert(refreshMode("mv7") === "incremental")
    assert(mvRows("mv7") === direct(body))
    // a second append that does NOT move the extrema still merges right
    spark.sql("INSERT INTO mvinc.src7 VALUES ('a', 4.0)")
    assert(refreshMode("mv7") === "incremental")
    assert(mvRows("mv7") === direct(body))
    // a DELETE that misses every stored extremum (a keeps 1.0 and
    // 9.0) repairs nothing: no recompute, no spool — the copy-on-write
    // rewrite re-images 9.0, which nets zero
    val spools = plansMentioning("graft_ivm_repair") {
      spark.sql("DELETE FROM mvinc.src7 WHERE v = 5.0")
      assert(refreshMode("mv7") === "incremental")
    }
    assert(spools.isEmpty, s"a non-extremal DELETE must write no repair spool: $spools")
    assert(mvRows("mv7") === direct(body))
    // a compaction window re-images every row at -1 and +1: the rows
    // holding the extrema net zero, so nothing was lost
    graft.sources.GraftProcedures.compact(java.nio.file.Paths.get(root, "src7").toString,
      targetBytes = Long.MaxValue)
    assert(refreshMode("mv7") === "incremental")
    assert(mvRows("mv7") === direct(body))
    // a DELETE retracts group a's stored MIN (1.0): the window is not
    // insert-only, so the refresh repairs the AFFECTED groups' extrema
    // from source (and says so) — sums/counts still merge signed
    spark.sql("DELETE FROM mvinc.src7 WHERE v = 1.0")
    // the repaired extrema ride the one maintenance MERGE: the backing
    // takes exactly one commit
    val backing = java.nio.file.Paths.get(root, "_mv_mv7").toString
    val v0 = graft.sources.JsonlStats.currentVersion(backing)
    val repairSpools = plansMentioning("graft_ivm_repair") {
      assert(refreshMode("mv7") === "incremental-repair")
    }
    assert(repairSpools.nonEmpty, "a retracted extremum recomputes through the spool")
    assert(graft.sources.JsonlStats.currentVersion(backing) === v0 + 1)
    assert(mvRows("mv7") === direct(body))
    val a = mvRows("mv7").find(_.getString(0) == "a").get
    assert(a.getDouble(1) === 4.0, s"retracted MIN must re-derive from source: $a")
    // deleting a group's last NON-NULL value: the repaired extrema go
    // NULL while the group survives
    spark.sql("DELETE FROM mvinc.src7 WHERE k = 'b' AND v IS NOT NULL")
    assert(refreshMode("mv7") === "incremental-repair")
    assert(mvRows("mv7") === direct(body))
    val b = mvRows("mv7").find(_.getString(0) == "b").get
    assert(b.isNullAt(1) && b.isNullAt(2) && b.getLong(3) === 1L, b.toString)
    // (a deleting window past the affected-group cap: see the
    // past-the-cap repair path test)
    // and the NEXT pure-append window is incremental again
    spark.sql("INSERT INTO mvinc.src7 VALUES ('c', -2.0)")
    assert(refreshMode("mv7") === "incremental")
    assert(mvRows("mv7") === direct(body))
  }

  test("session hygiene: concurrent refreshes of two views leave the caller's " +
    "confs and temp views exactly as they were") {
    cat
    Seq("h1", "h2").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS mvinc.src_$t")
      Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("k", "v").createOrReplaceTempView("mvinc_seed_h")
      spark.sql(s"CREATE TABLE mvinc.src_$t AS SELECT * FROM mvinc_seed_h")
    }
    spark.catalog.dropTempView("mvinc_seed_h")
    val bodies = Map(
      "h1" -> ("SELECT k, count(*) AS n, CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv " +
        "FROM mvinc.src_h1 GROUP BY k"),
      "h2" -> "SELECT k, min(v) AS mn, max(v) AS mx, count(*) AS n FROM mvinc.src_h2 GROUP BY k")
    bodies.foreach { case (t, b) =>
      spark.sql(s"CALL mvinc.create_materialized_view('mv_$t', '$b', or_replace => true)")
    }
    def tempViews(): Seq[String] = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getTempViewNames().sorted
    val confsBefore = spark.conf.getAll
    val viewsBefore = tempViews()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val modes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = bodies.keys.toSeq.map(t => pool.submit(new Runnable {
      override def run(): Unit = {
        barrier.await()
        (1 to 4).foreach { i =>
          spark.sql(s"INSERT INTO mvinc.src_$t VALUES ('k$i', ${i * 10}.0), ('a', $i.5)")
          // the MIN/MAX view's windows delete too: its probe runs
          if (t == "h2") spark.sql(s"DELETE FROM mvinc.src_h2 WHERE k = 'k${i - 1}'")
          modes.add(refreshMode(s"mv_$t"))
        }
      }
    }))
    try futures.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    finally pool.shutdown()
    assert(modes.asScala.forall(_.startsWith("incremental")), modes.asScala)
    bodies.foreach { case (t, b) => assert(mvRows(s"mv_$t") === direct(b), t) }
    val confsAfter = spark.conf.getAll
    val moved = (confsBefore.keySet ++ confsAfter.keySet)
      .filter(k => confsBefore.get(k) != confsAfter.get(k))
    assert(moved.isEmpty, "refreshes left session confs behind: " +
      moved.map(k => s"$k: ${confsBefore.get(k)} -> ${confsAfter.get(k)}").mkString(", "))
    assert(tempViews() === viewsBefore)
  }

  test("session hygiene: no graft_ivm_* temp view is ever registered on the " +
    "caller's session — every query over one runs on a private session") {
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.src_h3")
    Seq(("a", 1.0), ("a", 5.0), ("b", 2.0)).toDF("k", "v").createOrReplaceTempView("mvinc_seed_h3")
    spark.sql("CREATE TABLE mvinc.src_h3 AS SELECT * FROM mvinc_seed_h3")
    val body = "SELECT k, min(v) AS mn, max(v) AS mx, count(*) AS n FROM mvinc.src_h3 GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv_h3', '$body', or_replace => true)")
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // a DELETE of a stored extremum: the window runs the signed feed,
    // the probe, the repair and the MERGE
    spark.sql("INSERT INTO mvinc.src_h3 VALUES ('c', 4.0)")
    spark.sql("DELETE FROM mvinc.src_h3 WHERE v = 5.0")
    val seenOnCaller = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var refreshing = true
    val poller = new Thread(() => while (refreshing) {
      classic.sessionState.catalog.getTempViewNames().filter(_.startsWith("graft_ivm_"))
        .foreach(seenOnCaller.add)
    })
    poller.start()
    val queries = try queriesRun(assert(refreshMode("mv_h3") === "incremental-repair"))
    finally { refreshing = false; poller.join() }
    assert(mvRows("mv_h3") === direct(body))
    val overViews = queries.filter(_.logical.toString.contains("graft_ivm_delta"))
    assert(overViews.nonEmpty, "the refresh ran no query over its delta view")
    assert(overViews.forall(_.sparkSession ne spark),
      "a query over a graft_ivm_* view ran on the caller's session")
    assert(seenOnCaller.isEmpty, seenOnCaller.asScala)
  }

  test("a warm small refresh compiles next to nothing, however many classes " +
    "the codegen cache has seen since the last one") {
    import org.apache.spark.metrics.source.CodegenMetrics
    cat
    spark.sql("DROP TABLE IF EXISTS mvinc.src_cg")
    Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v").createOrReplaceTempView("mvinc_seed_cg")
    spark.sql("CREATE TABLE mvinc.src_cg AS SELECT * FROM mvinc_seed_cg")
    val body = "SELECT k, count(*) AS n, CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv " +
      "FROM mvinc.src_cg GROUP BY k"
    spark.sql(s"CALL mvinc.create_materialized_view('mv_cg', '$body', or_replace => true)")
    spark.sql("INSERT INTO mvinc.src_cg VALUES ('a', 3.0), ('c', 4.0)")
    assert(refreshMode("mv_cg") === "incremental")
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // more distinct generated classes than Spark's codegen cache keeps
    // (100): whatever the refresh compiled before is evicted
    val churnFrom = compiles
    (1 to 120).foreach(i => spark.range(4).selectExpr(s"id * ${i + 7} + $i AS x")
      .filter(s"x % ${i + 2} >= 0").collect())
    assert(compiles - churnFrom > 100, "the churn compiled too few classes to evict anything")
    spark.sql("INSERT INTO mvinc.src_cg VALUES ('a', 5.0), ('d', 6.0)")
    val from = compiles
    assert(refreshMode("mv_cg") === "incremental")
    val compiled = compiles - from
    // the few left are Spark generators with no interpreted path: the
    // MERGE's row predicates (MergeRowsExec) and the partial
    // aggregate's row joiner; compiled, this refresh makes about 34
    val maxCompiles = 12
    assert(compiled <= maxCompiles,
      s"the refresh compiled $compiled classes (at most $maxCompiles expected)")
    // the next refresh finds them all cached: its tasks run under the
    // same executor class loader as the previous refresh's (the codegen
    // cache is keyed by loader and source)
    spark.sql("INSERT INTO mvinc.src_cg VALUES ('b', 7.0)")
    val warmFrom = compiles
    assert(refreshMode("mv_cg") === "incremental")
    assert(compiles - warmFrom <= 2,
      s"a refresh right after another compiled ${compiles - warmFrom} classes (at most 2 expected)")
    assert(mvRows("mv_cg") === direct(body))
  }

  test("the interpreted gate: a refresh reading at most InterpretMaxRows rows plans " +
    "no whole-stage codegen; one reading more keeps it") {
    cat
    val stage = """\*\(\d+\) """.r
    def codegenPlans(view: String): Seq[String] =
      queriesRun(assert(refreshMode(view) === "incremental"))
        .filter(_.sparkSession ne spark)
        .map(qe => scala.util.Try(qe.executedPlan.toString).getOrElse(""))
        .filter(stage.findFirstIn(_).isDefined)
    def sumMv(name: String, rows: Long): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS mvinc.src_$name")
      spark.sql(s"CREATE TABLE mvinc.src_$name AS SELECT id AS k, CAST(id % 7 AS DOUBLE) AS v " +
        s"FROM range($rows)")
      val body = "SELECT k, count(*) AS n, CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv " +
        s"FROM mvinc.src_$name GROUP BY k"
      spark.sql(s"CALL mvinc.create_materialized_view('mv_$name', '$body', or_replace => true)")
      spark.sql(s"INSERT INTO mvinc.src_$name VALUES (0, 1.0), (${rows + 1}, 2.0)")
    }
    // a one-row-per-key MV: the backing alone holds the source's rows
    sumMv("gate_small", 50)
    val small = codegenPlans("mv_gate_small")
    assert(small.isEmpty, s"a small refresh planned whole-stage codegen:\n${small.mkString("\n")}")
    sumMv("gate_big", graft.sources.MvLifecycle.InterpretMaxRows + 1)
    assert(codegenPlans("mv_gate_big").nonEmpty,
      "a refresh past InterpretMaxRows planned no whole-stage codegen")
  }
}

package graft

import graft.gold.Incremental
import graft.ingest.{Landing, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The batch ledger is what makes additive refresh exactly-once; prove
  * both directions. */
class IncrementalSpec extends SparkSpec {

  test("additive refresh: replayed batch id is a no-op, new batch id adds") {
    val gold = {
      val t = Files.createTempDirectory("graft_gold_inc").toString
      graft.util.Fs.deleteRecursively(t); t
    }
    val delta = Incremental.toGoldGrain(
      Tables.events(spark, sfDir).filter(dayofmonth(col("ts")) <= 7))
    def total(): Long =
      spark.read.parquet(gold).agg(sum("n_events")).head.getLong(0)
    Incremental.refreshAdditive(gold, delta, "b1")
    val once = total()
    // at-least-once delivery: the SAME batch replayed must not double-count
    Incremental.refreshAdditive(gold, delta, "b1")
    assert(total() === once, "replay of an applied batch must be a no-op")
    // but a genuinely new batch (new id) does add — the batch stamp is
    // the guard, not accidental idempotence of the data
    Incremental.refreshAdditive(gold, delta, "b2")
    assert(total() === 2 * once)
  }

  test("crash between table swap and ledger marker: replay does not double-count") {
    val gold = {
      val t = Files.createTempDirectory("graft_gold_crash").toString
      graft.util.Fs.deleteRecursively(t); t
    }
    val delta = Incremental.toGoldGrain(
      Tables.events(spark, sfDir).filter(dayofmonth(col("ts")) <= 7))
    def total(): Long =
      spark.read.parquet(gold).agg(sum("n_events")).head.getLong(0)
    Incremental.refreshAdditive(gold, delta, "hist")
    val once = total()
    // apply b1 fully, then simulate the crash window: the table swap
    // committed but the process died before the ledger marker landed
    Incremental.refreshAdditive(gold, delta, "b1")
    val applied = total()
    assert(applied === 2 * once)
    Files.delete(java.nio.file.Paths.get(gold + "__applied_b1"))
    // restart replays the batch — the in-row batch stamp must absorb it
    Incremental.refreshAdditive(gold, delta, "b1")
    assert(total() === applied, "crash-window replay must not double-count")
    // and the replay re-commits the marker, so the ledger heals
    assert(Files.exists(java.nio.file.Paths.get(gold + "__applied_b1")))
  }

  test("torn data phase: other batches' files untouched byte-for-byte; replay converges") {
    val gold = {
      val t = Files.createTempDirectory("graft_gold_torn").toString
      graft.util.Fs.deleteRecursively(t); t
    }
    val ev = Tables.events(spark, sfDir)
    val delta = Incremental.toGoldGrain(ev.filter(dayofmonth(col("ts")) <= 7))
    def total(): Long =
      spark.read.parquet(gold).agg(sum("n_events")).head.getLong(0)
    def filesOf(batch: String): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(gold)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.contains(s"batch_id=$batch"))
        .map(p => p.toString -> Files.size(p)).toMap
    }
    Incremental.refreshAdditive(gold, delta, "hist")
    val once = total()
    val histFiles = filesOf("hist")
    Incremental.refreshAdditive(gold, delta, "b1")
    val applied = total()
    assert(applied === 2 * once)
    // per-batch partitioning: applying b1 must not have rewritten a
    // single hist file (the crash-isolation property — the old
    // base-union design rewrote whole date partitions)
    assert(filesOf("hist") === histFiles,
      "applying b1 touched hist's files — batch isolation broken")
    // simulate a crash that tore b1's own data phase: one of ITS leaf
    // dirs vanishes, the marker never landed
    import spark.implicits._
    val someDate = spark.read.parquet(gold)
      .filter($"batch_id" === "b1")
      .select($"event_date").distinct().orderBy($"event_date").head.get(0)
    graft.util.Fs.deleteRecursively(gold + s"/event_date=$someDate/batch_id=b1")
    Files.delete(java.nio.file.Paths.get(gold + "__applied_b1"))
    assert(total() < applied, "tear must have removed some of b1")
    // restart replays b1: its partitions are rewritten in full, hist
    // stays byte-identical — exactly once
    Incremental.refreshAdditive(gold, delta, "b1")
    assert(total() === applied, "torn-phase replay must converge to exactly-once")
    assert(filesOf("hist") === histFiles,
      "replaying b1 touched hist's files — batch isolation broken")
  }

  test("unpublished batch is invisible to the published (ledger-filtered) read") {
    val gold = {
      val t = Files.createTempDirectory("graft_gold_pub").toString
      graft.util.Fs.deleteRecursively(t); t
    }
    val delta = Incremental.toGoldGrain(
      Tables.events(spark, sfDir).filter(dayofmonth(col("ts")) <= 7))
    def publishedTotal(): Long = {
      import spark.implicits._
      spark.read.parquet(gold)
        .filter($"batch_id".isin(Incremental.appliedBatches(gold): _*))
        .agg(sum("n_events")).head.getLong(0)
    }
    Incremental.refreshAdditive(gold, delta, "hist")
    val once = publishedTotal()
    // b1's data phase lands but the publish phase does not (crash
    // between the two): readers must not see b1
    Incremental.refreshAdditive(gold, delta, "b1")
    Files.delete(java.nio.file.Paths.get(gold + "__applied_b1"))
    assert(Incremental.appliedBatches(gold) === Seq("hist"))
    assert(publishedTotal() === once,
      "an unpublished batch leaked into the published read")
    // replay publishes; now it counts
    Incremental.refreshAdditive(gold, delta, "b1")
    assert(publishedTotal() === 2 * once)
  }

  test("cross-table txn: a torn pair write is invisible in BOTH tables; replay completes atomically") {
    import spark.implicits._
    import graft.sources.{JsonlFixtures, Refs}
    // q141's pair: two connector rollups published together by
    // fast_forward_all, in a build-once directory that is their own
    // catalog root
    def snapshot() = SparkEntry.queries("q141_multi_table_snapshot")(spark, sfDir).collect().toSeq
    val before = snapshot()
    assert(before.nonEmpty && before.forall(_.getAs[Boolean]("consistent")),
      "published snapshot violates the cross-table invariant")
    val root = Landing.fixtureDir(sfDir, "jsonl_gold_pair")
    val cat = JsonlFixtures.catalogAt(spark, root)
    val b2 = Tables.events(spark, sfDir).filter(dayofmonth($"ts") === 8)
    // try/finally: wiping the pair's root takes its b2 branches, rows
    // and any stranded marker with it; the next q141 run rebuilds
    try {
      // torn transaction: b2 stages on the per-type rollup's branch
      // only and is never published
      spark.sql(s"CALL $cat.create_branch('bytype', 'b2')")
      Incremental.toGoldGrain(b2).writeTo(s"$cat.bytype.branch_b2").append()
      assert(snapshot() === before,
        "a torn cross-table transaction leaked into the consistent read")
      // crash mid-publish: both legs staged, leg 1 fast-forwarded, the
      // marker written, then the publisher died before leg 2
      spark.sql(s"CALL $cat.create_branch('byuser', 'b2')")
      b2.groupBy(to_date($"ts").as("event_date"), $"user_id").agg(count(lit(1)).as("n_events"))
        .writeTo(s"$cat.byuser.branch_b2").append()
      val legs = Seq("bytype", "byuser").map { t =>
        val fork = Refs.readRef(s"$root/$t", Refs.branchManifest("b2")).baseHash.get
        s"""{"table":"$t","branch":"b2","fork_hash":"$fork"}"""
      }
      spark.sql(s"CALL $cat.fast_forward('bytype', 'b2')")
      val marker = Paths.get(root, Refs.Wtxn.Marker)
      Files.write(marker, java.util.List.of(legs.mkString("""{"id":"torn-pair","legs":[""", ",", "]}")))
      // the next catalog access rolls leg 2 forward before serving
      val after = snapshot()
      assert(!Files.exists(marker), "recovery settles the marker")
      assert(after.forall(_.getAs[Boolean]("consistent")))
      assert(after.map(_.getAs[Long]("n_events_types")).sum >
        before.map(_.getAs[Long]("n_events_types")).sum,
        "the completed transaction added no rows")
    } finally graft.util.Fs.deleteRecursively(root)
  }

  test("q201 join IVM: the four delta-algebra terms partition the full join exactly") {
    import spark.implicits._
    import graft.sources.{GraftViews, JsonlFixtures, JsonlStats}
    val o = graft.ingest.Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val c = graft.ingest.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_nationkey")
    val full = o.join(c, $"o_custkey" === $"c_custkey")
    val oBase = o.filter($"o_orderkey" % 10 =!= 7)
    val oDelta = o.filter($"o_orderkey" % 10 === 7)
    val cBase = c.filter($"c_custkey" % 10 =!= 3)
    val cDelta = c.filter($"c_custkey" % 10 === 3)
    val terms = Seq(
      oBase.join(cBase, $"o_custkey" === $"c_custkey"),
      oDelta.join(cBase, $"o_custkey" === $"c_custkey"),
      oBase.join(cDelta, $"o_custkey" === $"c_custkey"),
      oDelta.join(cDelta, $"o_custkey" === $"c_custkey"))
    // disjoint terms whose union is the full join, row-exactly — the
    // identity that makes the delta refresh EQUAL the recompute, not
    // approximate it
    val counts = terms.map(_.count())
    assert(counts.sum === full.count(), s"terms must partition the join: $counts")
    val union = terms.map(_.select($"o_orderkey", $"c_custkey")).reduce(_ unionByName _)
    assert(union.exceptAll(full.select($"o_orderkey", $"c_custkey")).isEmpty &&
      full.select($"o_orderkey", $"c_custkey").exceptAll(union).isEmpty)
    // each incremental term is delta-sized and non-empty: the fixture's
    // residues exercise every term, the cross term included
    assert(counts.tail.forall(n => n > 0 && n < counts.head),
      s"incremental terms must be delta-sized: $counts")
    // force the build: its one refresh must say 'incremental' (the build
    // throws otherwise) with BOTH sides moved in that window
    Seq("jmv_orders", "jmv_customer").foreach(t =>
      graft.util.Fs.deleteRecursively(graft.ingest.Landing.fixtureDir(sfDir, t)))
    val ivm = SparkEntry.queries("q201_join_ivm")(spark, sfDir)
    val (_, oDir, cDir) = JsonlFixtures.ensureJoinMv(spark, sfDir, "jmv",
      Seq(Seq("jmv_orders", "jmv_customer")))
    assert(JsonlStats.currentVersion(oDir) === 2 && JsonlStats.currentVersion(cDir) === 2,
      "both sides must have moved past the recorded v1")
    val root = java.nio.file.Paths.get(oDir).getParent
    val mv = GraftViews.read(root, "mv_jmv").get
    assert(GraftViews.mvFresh(root.toString, mv), "the one refresh must have consumed both windows")
    // the registered read equals the monolithic aggregate
    val mono = full.groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        graft.util.Det.msum($"o_totalprice").as("revenue"))
      .orderBy($"c_nationkey")
    assert(ivm.schema === mono.schema)
    assert(ivm.collect().toSeq === mono.collect().toSeq)
  }

  test("q229 CDF->IVM: deltas are change-feed rows and the refresh reads only changed files (r8)") {
    import spark.implicits._
    import graft.sources.{ChangeFeed, JsonlStats}
    val got = SparkEntry.queries("q229_cdf_join_ivm")(spark, sfDir)
    val (_, oDir, cDir) = graft.sources.JsonlFixtures.ensureJoinMv(spark, sfDir, "jcdf",
      Seq(Seq("jcdf_orders"), Seq("jcdf_customer")))
    // the file-level law: v2 strictly extends v1 (append-only delta),
    // and the CDF's derived manifests name EXACTLY the difference -
    // nothing removed, nothing re-imaged
    for ((root, key) <- Seq((oDir, "o_orderkey"), (cDir, "c_custkey"))) {
      val v1 = JsonlStats.readStats(root, s"${JsonlStats.HistoryDir}/v1.jsonl").map(_.file).toSet
      val v2 = JsonlStats.readStats(root).map(_.file).toSet
      assert(v1.subsetOf(v2) && (v2 -- v1).nonEmpty, s"$root: v2 must extend v1")
      ChangeFeed.tableChanges(spark, root, 1, 2, Seq(key)).collect() // materializes _cdf
      val added = JsonlStats.readStats(root, "_cdf/v1_v2_added.jsonl").map(_.file).toSet
      val removed = JsonlStats.readStats(root, "_cdf/v1_v2_removed.jsonl").map(_.file).toSet
      assert(added === (v2 -- v1), s"$root: CDF added-set must be exactly the new files")
      assert(removed.isEmpty, s"$root: an append-only delta removes nothing")
      // the refresh's delta-scan cost IS the added files' rows: the CDF
      // row count equals the rows of the added manifest alone
      val addedRows = JsonlStats.readStats(root, "_cdf/v1_v2_added.jsonl").map(_.rows).sum
      val cdfRows = ChangeFeed.tableChanges(spark, root, 1, 2, Seq(key)).count()
      assert(cdfRows === addedRows,
        s"$root: CDF must surface exactly the changed-file rows ($cdfRows vs $addedRows)")
    }
    // every CDF row is an insert image (no DV/update noise in this feed)
    val oCdf = ChangeFeed.tableChanges(spark, oDir, 1, 2, Seq("o_orderkey"))
    assert(oCdf.filter($"change_type" =!= "insert").isEmpty)
    // end to end: the CDF-driven refreshes equal the monolithic recompute
    val o = graft.ingest.Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val c = graft.ingest.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_nationkey".cast("long").as("c_nationkey"))
    val mono = o.join(c, $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        graft.util.Det.msum($"o_totalprice").as("revenue"))
      .orderBy($"c_nationkey")
    assert(got.exceptAll(mono).isEmpty && mono.exceptAll(got).isEmpty)
  }
}

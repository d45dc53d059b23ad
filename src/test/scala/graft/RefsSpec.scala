package graft

import graft.sources.{GraftCatalog, JsonlStats, Refs}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Laws of the REFS tier (r9 — tags, branches, write-audit-publish,
  * metadata tables; [[graft.sources.Refs]] / [[graft.sources.MetaTables]]). */
class RefsSpec extends SparkSpec {
  import spark.implicits._

  /** Fresh connector table (4 value-ranged files) + its own catalog.
    * Returns (catalog, tableName, tableDir). */
  private def scratch(tag: String): (String, String, String) = {
    val dir = Files.createTempDirectory(s"refs_$tag").toString
    graft.ingest.Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", $"event_type", $"value")
      .repartitionByRange(4, $"value")
      .write.format("graft-jsonl-stats").option("path", dir).mode("overwrite").save()
    val cat = s"graft_refs_${tag}_" + java.lang.Integer.toHexString(dir.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", Paths.get(dir).getParent.toString)
    (cat, Paths.get(dir).getFileName.toString, dir)
  }

  test("tag pins content across append/DELETE; resolvable by VERSION AS OF and tag_ ident") {
    val (cat, t, dir) = scratch("tagpin")
    val n0 = spark.table(s"$cat.`$t`").count()
    spark.sql(s"CALL $cat.create_tag('$t', 'v1')")
    spark.sql(s"INSERT INTO $cat.`$t` VALUES (900001, 7, 'tagged_extra', 42.5)")
    val cut = JsonlStats.readStats(dir).map(_.max).min
    spark.sql(s"DELETE FROM $cat.`$t` WHERE value <= $cut")
    assert(spark.table(s"$cat.`$t`").count() !== n0, "mutations must have changed main")
    val viaTravel = spark.sql(s"SELECT count(*) AS n FROM $cat.`$t` VERSION AS OF 'v1'")
      .head().getLong(0)
    val viaIdent = spark.table(s"$cat.`$t`.tag_v1").count()
    assert(viaTravel === n0 && viaIdent === n0,
      s"tag must pin the fork-time content: $viaTravel/$viaIdent vs $n0")
    // tags are immutable and exclusive: re-creating the name refuses
    val dup = intercept[Exception](spark.sql(s"CALL $cat.create_tag('$t', 'v1')"))
    assert(dup.getMessage.contains("already exists"))
    // a tag write path does not exist: the snapshot table refuses writes
    val wr = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.`$t`.tag_v1 VALUES (1, 1, 'x', 1.0)"))
    assert(wr.getMessage.toLowerCase.contains("snapshot") ||
      wr.getMessage.toLowerCase.contains("unsupported"))
  }

  test("tag retention is refcounting: vacuum spares tag-pinned files until drop_tag") {
    val (cat, t, dir) = scratch("tagvac")
    val pinned = JsonlStats.readStats(dir).map(_.file)
    spark.sql(s"CALL $cat.create_tag('$t', 'keep')")
    // TRUNCATE: every original file leaves the live manifest
    spark.sql(s"INSERT OVERWRITE $cat.`$t` VALUES (1, 1, 'fresh', 1.0)")
    spark.sql(s"CALL $cat.vacuum('$t', retain_last => 1, orphan_grace_ms => 0)")
    pinned.foreach(f => assert(Files.exists(Paths.get(dir, f)),
      s"vacuum deleted tag-pinned file $f — refs must be live roots"))
    val tagged = spark.sql(s"SELECT count(*) FROM $cat.`$t` VERSION AS OF 'keep'")
      .head().getLong(0)
    assert(tagged > 1, "tag must still read its full pinned snapshot after vacuum")
    // drop the tag: the pins lift, the next vacuum sweeps the files
    spark.sql(s"CALL $cat.drop_tag('$t', 'keep')")
    spark.sql(s"CALL $cat.vacuum('$t', retain_last => 1, orphan_grace_ms => 0)")
    assert(pinned.forall(f => !Files.exists(Paths.get(dir, f))),
      "dropped-tag files must be vacuumable")
    val gone = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.`$t` VERSION AS OF 'keep'").collect())
    assert(gone.getMessage.contains("no ref 'keep'"))
  }

  test("branch isolation + WAP: staged writes invisible on main until fast_forward") {
    val (cat, t, dir) = scratch("wap")
    val base = spark.table(s"$cat.`$t`").count()
    spark.sql(s"CALL $cat.create_branch('$t', 'audit')")
    spark.sql(s"INSERT INTO $cat.`$t`.branch_audit VALUES " +
      "(910001, 3, 'staged', 10.0), (910002, 4, 'staged', 20.0)")
    // isolation, both directions visible pre-publish
    assert(spark.table(s"$cat.`$t`").count() === base, "main must not see staged rows")
    assert(spark.table(s"$cat.`$t`.branch_audit").count() === base + 2)
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$t` VERSION AS OF 'audit'")
      .head().getLong(0) === base + 2, "VERSION AS OF branch reads the head")
    // the audit: staged rows pass the gate, then publish
    val bad = spark.table(s"$cat.`$t`.branch_audit").filter($"value" < 0).count()
    assert(bad === 0)
    val preVersion = JsonlStats.currentVersion(dir)
    spark.sql(s"CALL $cat.fast_forward('$t', 'audit')")
    assert(spark.table(s"$cat.`$t`").count() === base + 2, "publish = branch head on main")
    // history is append-only through the publish: the pre-publish
    // generation still time-travels to the unaudited-free state
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$t` VERSION AS OF $preVersion")
      .head().getLong(0) === base)
    spark.sql(s"CALL $cat.drop_branch('$t', 'audit')")
    assert(Refs.listRefs(dir).isEmpty)
  }

  test("fast_forward conflicts when main diverged since the fork; branch stays intact") {
    val (cat, t, dir) = scratch("ffc")
    spark.sql(s"CALL $cat.create_branch('$t', 'stage')")
    spark.sql(s"INSERT INTO $cat.`$t`.branch_stage VALUES (920001, 5, 'staged', 5.0)")
    spark.sql(s"INSERT INTO $cat.`$t` VALUES (920002, 6, 'mainline', 6.0)")
    val mainN = spark.table(s"$cat.`$t`").count()
    val ex = intercept[Exception](spark.sql(s"CALL $cat.fast_forward('$t', 'stage')"))
    def chain(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(ex).exists(_.getMessage.contains("diverged")),
      s"divergence must conflict loudly, got: ${ex.getMessage}")
    assert(spark.table(s"$cat.`$t`").count() === mainN, "failed publish must not touch main")
    val branchN = spark.table(s"$cat.`$t`.branch_stage").count()
    assert(branchN === mainN, s"branch head must survive the failed publish intact")
  }

  test("branch TRUNCATE restages; abandoned staged files are vacuumable orphans") {
    val (cat, t, dir) = scratch("bvrb")
    spark.sql(s"CALL $cat.create_branch('$t', 'b')")
    spark.sql(s"INSERT OVERWRITE $cat.`$t`.branch_b VALUES (930001, 1, 'only', 1.0)")
    assert(spark.table(s"$cat.`$t`.branch_b").count() === 1, "TRUNCATE restages the head")
    assert(spark.table(s"$cat.`$t`").count() > 1, "main untouched by branch truncate")
    // staged-then-abandoned files are ordinary age-gated orphans
    spark.sql(s"CALL $cat.drop_branch('$t', 'b')")
    spark.sql(s"CALL $cat.vacuum('$t', retain_last => 1, orphan_grace_ms => 0)")
    assert(JsonlStats.readStats(dir).nonEmpty)
  }

  test("branch-head DML, COW: stage -> audit -> fix ON the branch -> publish (r11)") {
    val (cat, t, dir) = scratch("bdml")
    val base = spark.table(s"$cat.`$t`").count()
    val mainLines = JsonlStats.readStats(dir).map(JsonlStats.statsLine).sorted
    spark.sql(s"CALL $cat.create_branch('$t', 'load')")
    // stage a load carrying two rows the audit will reject
    spark.sql(s"INSERT INTO $cat.`$t`.branch_load VALUES " +
      "(940001, 1, 'good', 10.0), (940002, 2, 'quarantine', 11.0), " +
      "(940003, 3, 'quarantine', 12.0), (940004, 4, 'typo_fix_me', 13.0)")
    // the audit FINDS something: fix it with row-level ops on the branch
    spark.sql(s"DELETE FROM $cat.`$t`.branch_load WHERE event_type = 'quarantine'")
    spark.sql(
      s"UPDATE $cat.`$t`.branch_load SET event_type = 'fixed' WHERE event_id = 940004")
    assert(spark.table(s"$cat.`$t`.branch_load").count() === base + 2)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.`$t`.branch_load WHERE event_type = 'fixed'")
      .head().getLong(0) === 1L)
    // main untouched by every branch mutation — entries byte-identical
    assert(spark.table(s"$cat.`$t`").count() === base)
    assert(JsonlStats.readStats(dir).map(JsonlStats.statsLine).sorted === mainLines,
      "branch DML must not edit a single main manifest line")
    spark.sql(s"CALL $cat.fast_forward('$t', 'load')")
    val pub = spark.sql(
      s"SELECT event_id, event_type FROM $cat.`$t` WHERE event_id >= 940001 ORDER BY event_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(pub === Seq((940001L, "good"), (940004L, "fixed")),
      s"published image must be the audited-and-fixed one: $pub")
    assert(spark.table(s"$cat.`$t`").count() === base + 2)
  }

  test("branch-head DML, MoR: DVs attach to branch entries only; publish carries masks + lineage (r11)") {
    val (cat, t, dir) = scratch("bmor")
    val m0 = JsonlStats.readTableMeta(dir)
    JsonlStats.writeTableMeta(dir, m0.copy(deleteMode = Some("merge-on-read")))
    val base = spark.table(s"$cat.`$t`").count()
    val preIds = spark.sql(s"SELECT event_id, _row_id FROM $cat.`$t`")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sql(s"CALL $cat.create_branch('$t', 'mor')")
    val victim = spark.table(s"$cat.`$t`").agg(min($"event_id")).head().getLong(0)
    // needle delete against a FORK-SHARED file: a DV lands on the
    // branch's copy of the entry, main's stays clean
    spark.sql(s"DELETE FROM $cat.`$t`.branch_mor WHERE event_id = $victim")
    assert(spark.table(s"$cat.`$t`.branch_mor").count() === base - 1)
    assert(spark.table(s"$cat.`$t`").count() === base, "main must still serve the row")
    assert(JsonlStats.readStats(dir).forall(_.dvs.isEmpty),
      "main's entries must carry no branch-staged DV")
    assert(JsonlStats.parseStatsLines(
      Refs.readRef(dir, Refs.branchManifest("mor")).entries).exists(_.dvs.nonEmpty),
      "the branch entry must carry the DV")
    spark.sql(s"CALL $cat.fast_forward('$t', 'mor')")
    val after = spark.sql(s"SELECT event_id, _row_id FROM $cat.`$t`")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size.toLong === base - 1 && !after.contains(victim))
    after.foreach { case (k, id) =>
      assert(preIds(k) === id, s"survivor $k must keep its fork-time id through the publish") }
  }

  test("fast_forward_all publishes two tables atomically; a crash between legs rolls forward (r11)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = Files.createTempDirectory("refs_ffp").toString
    val schema = StructType(Seq(StructField("k", LongType, nullable = false)))
    def writeRows(t: String, ks: Seq[Long], mode: String): Unit = {
      Files.createDirectories(Paths.get(parent, t))
      spark.createDataFrame(
        spark.sparkContext.parallelize(ks.map(Row(_)), 1), schema)
        .write.format("graft-jsonl-stats")
        .option("path", Paths.get(parent, t).toString)
        .option("statsColumn", "k").mode(mode).save()
    }
    writeRows("fact", Seq(1L, 2L), "overwrite")
    writeRows("agg", Seq(10L), "overwrite")
    val cat = "graft_ffp_" + java.lang.Integer.toHexString(parent.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", parent)
    def ks(t: String): Seq[Long] =
      spark.table(s"$cat.$t").collect().map(_.getLong(0)).toSeq.sorted
    spark.sql(s"CALL $cat.create_branch('fact', 'load')")
    spark.sql(s"CALL $cat.create_branch('agg', 'load')")
    spark.sql(s"INSERT INTO $cat.fact.branch_load VALUES (3)")
    spark.sql(s"INSERT INTO $cat.agg.branch_load VALUES (30)")
    assert(ks("fact") === Seq(1L, 2L) && ks("agg") === Seq(10L), "staged rows invisible")
    spark.sql(s"CALL $cat.fast_forward_all('fact:load,agg:load')")
    assert(ks("fact") === Seq(1L, 2L, 3L) && ks("agg") === Seq(10L, 30L),
      "both tables must publish in one transaction")
    assert(!Files.exists(Paths.get(parent, Refs.Wtxn.Marker)), "marker settles")
    // CRASH INJECTION: stage a second load on both, apply ONLY the fact
    // leg, then write the marker by hand — the torn middle a crash
    // between the two legs leaves behind. The next catalog access must
    // roll the agg leg forward before serving.
    spark.sql(s"CALL $cat.drop_branch('fact', 'load')")
    spark.sql(s"CALL $cat.drop_branch('agg', 'load')")
    spark.sql(s"CALL $cat.create_branch('fact', 'load')")
    spark.sql(s"CALL $cat.create_branch('agg', 'load')")
    spark.sql(s"INSERT INTO $cat.fact.branch_load VALUES (4)")
    spark.sql(s"INSERT INTO $cat.agg.branch_load VALUES (40)")
    val factRef = Refs.readRef(Paths.get(parent, "fact").toString, Refs.branchManifest("load"))
    val aggRef = Refs.readRef(Paths.get(parent, "agg").toString, Refs.branchManifest("load"))
    spark.sql(s"CALL $cat.fast_forward('fact', 'load')") // leg 1 landed...
    val marker = s"""{"id":"crash-test","legs":[
      |{"table":"fact","branch":"load","fork_hash":"${factRef.baseHash.get}"},
      |{"table":"agg","branch":"load","fork_hash":"${aggRef.baseHash.get}"}]}"""
      .stripMargin.replace("\n", "")
    Files.write(Paths.get(parent, Refs.Wtxn.Marker),
      java.util.List.of(marker)) // ...then the publisher died
    assert(ks("agg") === Seq(10L, 30L, 40L),
      "catalog access must roll the unapplied leg forward before serving")
    assert(ks("fact") === Seq(1L, 2L, 3L, 4L), "the applied leg is a no-op on recovery")
    assert(!Files.exists(Paths.get(parent, Refs.Wtxn.Marker)), "recovery settles the marker")
    // the same torn marker over NAMESPACED legs: recovery must not put
    // the leg's path separator into a commit temp-file name
    writeRows("ns/fact", Seq(1L), "overwrite")
    writeRows("ns/agg", Seq(10L), "overwrite")
    spark.sql(s"CALL $cat.create_branch('ns/fact', 'load')")
    spark.sql(s"CALL $cat.create_branch('ns/agg', 'load')")
    spark.sql(s"INSERT INTO $cat.ns.fact.branch_load VALUES (2)")
    spark.sql(s"INSERT INTO $cat.ns.agg.branch_load VALUES (20)")
    val nsFactRef = Refs.readRef(Paths.get(parent, "ns/fact").toString, Refs.branchManifest("load"))
    val nsAggRef = Refs.readRef(Paths.get(parent, "ns/agg").toString, Refs.branchManifest("load"))
    spark.sql(s"CALL $cat.fast_forward('ns/fact', 'load')")
    Files.write(Paths.get(parent, Refs.Wtxn.Marker), java.util.List.of(
      s"""{"id":"crash-test-ns","legs":[""" +
        s"""{"table":"ns/fact","branch":"load","fork_hash":"${nsFactRef.baseHash.get}"},""" +
        s"""{"table":"ns/agg","branch":"load","fork_hash":"${nsAggRef.baseHash.get}"}]}"""))
    assert(ks("ns.agg") === Seq(10L, 20L), "namespaced unapplied leg rolls forward")
    assert(ks("ns.fact") === Seq(1L, 2L))
    assert(!Files.exists(Paths.get(parent, Refs.Wtxn.Marker)), "recovery settles the namespaced marker")
    // a diverged table fails the WHOLE publish with nothing applied
    spark.sql(s"CALL $cat.drop_branch('agg', 'load')")
    spark.sql(s"CALL $cat.create_branch('agg', 'load')")
    spark.sql(s"INSERT INTO $cat.agg.branch_load VALUES (50)")
    spark.sql(s"INSERT INTO $cat.agg VALUES (99)") // main diverges
    val before = (ks("fact"), ks("agg"))
    val ex = intercept[Exception](
      spark.sql(s"CALL $cat.fast_forward_all('fact:load,agg:load')"))
    assert(ex.getMessage.contains("diverged"), ex.getMessage)
    assert((ks("fact"), ks("agg")) === before, "a failed pair publish applies NOTHING")
    assert(!Files.exists(Paths.get(parent, Refs.Wtxn.Marker)))
  }

  test("fast_forward_all publishes N branch heads atomically (r11)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = Files.createTempDirectory("refs_ffa").toString
    val schema = StructType(Seq(StructField("k", LongType, nullable = false)))
    def writeRows(t: String, ks: Seq[Long]): Unit = {
      Files.createDirectories(Paths.get(parent, t))
      spark.createDataFrame(
        spark.sparkContext.parallelize(ks.map(Row(_)), 1), schema)
        .write.format("graft-jsonl-stats")
        .option("path", Paths.get(parent, t).toString)
        .option("statsColumn", "k").mode("overwrite").save()
    }
    val cat = "graft_ffa_" + java.lang.Integer.toHexString(parent.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", parent)
    Seq("fa", "fb", "fc").zipWithIndex.foreach { case (t, i) =>
      writeRows(t, Seq(i * 10L))
      spark.sql(s"CALL $cat.create_branch('$t', 'ld')")
      spark.sql(s"INSERT INTO $cat.$t.branch_ld VALUES (${i * 10L + 1})")
    }
    def ks(t: String): Seq[Long] =
      spark.table(s"$cat.$t").collect().map(_.getLong(0)).toSeq.sorted
    assert(Seq("fa", "fb", "fc").forall(t => ks(t).size == 1), "staged rows invisible")
    val res = spark.sql(s"CALL $cat.fast_forward_all('fa:ld, fb:ld, fc:ld')").head()
    assert(res.getInt(1) === 3, s"three legs applied: $res")
    assert(ks("fa") === Seq(0L, 1L) && ks("fb") === Seq(10L, 11L) && ks("fc") === Seq(20L, 21L))
    assert(!Files.exists(Paths.get(parent, Refs.Wtxn.Marker)))
    // malformed legs refuse loudly, nothing applied
    val bad = intercept[Exception](spark.sql(s"CALL $cat.fast_forward_all('fa;ld')"))
    assert(bad.getMessage.contains("table:branch"), bad.getMessage)
  }

  test("racing Wtxn recoverers: the OCC loser re-checks, never spuriously wedges (r12, ADVICE r11 medium)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = Files.createTempDirectory("refs_race").toString
    val schema = StructType(Seq(StructField("k", LongType, nullable = false)))
    Seq("ra", "rb").zipWithIndex.foreach { case (t, i) =>
      Files.createDirectories(Paths.get(parent, t))
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(i * 10L)), 1), schema)
        .write.format("graft-jsonl-stats")
        .option("path", Paths.get(parent, t).toString)
        .option("statsColumn", "k").mode("overwrite").save()
    }
    val cat = "graft_race_" + java.lang.Integer.toHexString(parent.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", parent)
    Seq("ra", "rb").zipWithIndex.foreach { case (t, i) =>
      spark.sql(s"CALL $cat.create_branch('$t', 'ld')")
      spark.sql(s"INSERT INTO $cat.$t.branch_ld VALUES (${i * 10L + 1})")
    }
    // the torn-middle marker, both legs UNAPPLIED — then eight
    // recoverers hit it simultaneously (every loadTable runs recover
    // while the marker exists, so this is the production shape, not an
    // edge case). Pre-fix, an OCC loser converted its
    // ConcurrentModificationException into a spurious wedge that
    // failed an unrelated user query.
    val legs = Seq("ra", "rb").map { t =>
      val ref = Refs.readRef(Paths.get(parent, t).toString, Refs.branchManifest("ld"))
      s"""{"table":"$t","branch":"ld","fork_hash":"${ref.baseHash.get}"}"""
    }
    Files.write(Paths.get(parent, Refs.Wtxn.Marker),
      java.util.List.of(s"""{"id":"race-test","legs":[${legs.mkString(",")}]}"""))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.CountDownLatch(8)
    (0 until 8).foreach { i =>
      pool.submit(new Runnable { def run(): Unit = {
        gate.await()
        try Refs.Wtxn.recover(parent, s"racer-$i")
        catch { case t: Throwable => errs.add(t) }
        finally done.countDown()
      }})
    }
    gate.countDown(); done.await(); pool.shutdown()
    assert(errs.isEmpty,
      s"a racer that lost the OCC swap to another recoverer must not wedge: ${errs.peek()}")
    def ks(t: String): Seq[Long] =
      spark.table(s"$cat.$t").collect().map(_.getLong(0)).toSeq.sorted
    assert(ks("ra") === Seq(0L, 1L) && ks("rb") === Seq(10L, 11L),
      "all legs settle exactly once whoever wins")
    assert(!Files.exists(Paths.get(parent, Refs.Wtxn.Marker)))
  }

  test("a marker leg naming a dropped branch wedges LOUDLY, names the remediation (r12, ADVICE r11 low)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = Files.createTempDirectory("refs_ghost").toString
    val schema = StructType(Seq(StructField("k", LongType, nullable = false)))
    Files.createDirectories(Paths.get(parent, "ga"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L)), 1), schema)
      .write.format("graft-jsonl-stats")
      .option("path", Paths.get(parent, "ga").toString)
      .option("statsColumn", "k").mode("overwrite").save()
    val cat = "graft_ghost_" + java.lang.Integer.toHexString(parent.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", parent)
    Files.write(Paths.get(parent, Refs.Wtxn.Marker), java.util.List.of(
      """{"id":"ghost-test","legs":[{"table":"ga","branch":"ghost","fork_hash":"x"}]}"""))
    val ex = intercept[Exception](spark.table(s"$cat.ga").collect())
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(ex).contains(Refs.Wtxn.Marker) && chain(ex).contains("abandon"),
      s"the error must name the marker and the delete-to-abandon remediation: ${chain(ex)}")
    // the remediation WORKS: delete the marker, the catalog serves again
    Files.delete(Paths.get(parent, Refs.Wtxn.Marker))
    assert(spark.table(s"$cat.ga").collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("hidden-partitioned branch writes derive pkeys; published files prune point lookups") {
    val (cat, t0, _) = scratch("hpb")
    // table name unique per run: CREATE OR REPLACE resets the manifest
    // but — like Iceberg's REPLACE — keeps `_refs`, so a fixed name
    // would collide with the previous run's branch under the shared
    // catalog root
    val t = s"hp_branch_$t0"
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.`$t`
         |PARTITIONED BY (bucket(4, user_id)) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.`$t0`""".stripMargin)
    val dir = Paths.get(Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.root")).toString,
      t).toString
    val forkFiles = JsonlStats.readStats(dir).map(_.file).toSet
    spark.sql(s"CALL $cat.create_branch('$t', 'load')")
    spark.sql(s"INSERT INTO $cat.`$t`.branch_load VALUES " +
      "(940001, 101, 'staged', 1.0), (940002, 202, 'staged', 2.0)")
    val head = Refs.readRef(dir, Refs.branchManifest("load"))
    val staged = JsonlStats.parseStatsLines(head.entries)
      .filterNot(s => forkFiles.contains(s.file))
    assert(staged.nonEmpty && staged.forall(_.pkey.isDefined),
      "branch writes on a hidden layout must derive pkeys through the transform")
    assert(staged.exists(_.pspec.exists(_.startsWith("bucket("))),
      "staged entries must stamp their spec")
    spark.sql(s"CALL $cat.fast_forward('$t', 'load')")
    val probe = spark.table(s"$cat.`$t`").filter($"user_id" === 101L)
    assert(probe.count() === 1, "published staged row must be readable")
  }

  test("metadata tables: files/partitions/history/refs are manifest arithmetic as SQL") {
    val (cat, t, dir) = scratch("meta")
    spark.sql(s"CALL $cat.create_tag('$t', 'm1')")
    spark.sql(s"CALL $cat.create_branch('$t', 'mb')")
    val stats = JsonlStats.readStats(dir)
    // files: one row per live manifest entry, physical row arithmetic
    val files = spark.table(s"$cat.`$t`.files")
    assert(files.count() === stats.size)
    assert(files.agg(sum($"live_rows")).head().getLong(0) ===
      spark.table(s"$cat.`$t`").count())
    assert(files.filter($"bytes" <= 0).count() === 0)
    // partitions: unkeyed table = one NULL-pkey group
    val parts = spark.table(s"$cat.`$t`.partitions").collect()
    assert(parts.length === 1 && parts.head.isNullAt(0) &&
      parts.head.getLong(1) === stats.size.toLong)
    // history: live generation present with NULL superseded_ms
    val hist = spark.table(s"$cat.`$t`.history").orderBy($"version").collect()
    assert(hist.last.getInt(0) === JsonlStats.currentVersion(dir) &&
      hist.last.isNullAt(3))
    // refs: both refs, with fork arithmetic
    val refs = spark.table(s"$cat.`$t`.refs").orderBy($"type", $"name").collect()
    assert(refs.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("mb", "branch"), ("m1", "tag")))
    assert(refs.forall(_.getLong(5) === spark.table(s"$cat.`$t`").count()))
    // a real table always shadows a selector: no phantom resolution for
    // tables that do not exist
    val nosuch = intercept[Exception](spark.table(s"$cat.`$t`.snapshots").collect())
    assert(nosuch.getMessage.toLowerCase.contains("not") ||
      nosuch.getMessage.toLowerCase.contains("no"))
  }

  test("keyed partitions metadata groups by pkey with live-row counts") {
    val (cat, t0, _) = scratch("metak")
    spark.sql(
      s"""CREATE OR REPLACE TABLE $cat.meta_keyed
         |PARTITIONED BY (event_type) AS
         |SELECT event_id, user_id, event_type, value FROM $cat.`$t0`""".stripMargin)
    val viaMeta = spark.table(s"$cat.meta_keyed.partitions")
      .select($"pkey", $"live_rows").orderBy($"pkey")
      .as[(String, Long)].collect().toSeq
    val viaData = spark.table(s"$cat.meta_keyed")
      .groupBy($"event_type").agg(count(lit(1)))
      .orderBy($"event_type").as[(String, Long)].collect().toSeq
    assert(viaMeta === viaData, "partitions metadata must equal the data-tier group-by")
  }

  test("rollback restores a tag or version as one metadata commit; history keeps the evidence") {
    val (cat, t, dir) = scratch("rbk")
    val n0 = spark.table(s"$cat.`$t`").count()
    spark.sql(s"CALL $cat.create_tag('$t', 'ok')")
    spark.sql(s"INSERT INTO $cat.`$t` VALUES (910001, 1, 'bad', 9.0), (910002, 2, 'bad', 9.0)")
    val vBad = JsonlStats.currentVersion(dir)
    val dataFiles = JsonlStats.readStats(dir).map(_.file).toSet
    spark.sql(s"CALL $cat.rollback('$t', 'ok')")
    assert(spark.table(s"$cat.`$t`").count() === n0, "tag rollback must restore the image")
    assert(spark.table(s"$cat.`$t`").filter($"event_type" === "bad").count() === 0)
    // the bad generation stays readable as history (evidence, until vacuum)
    assert(spark.sql(s"SELECT count(*) FROM $cat.`$t` VERSION AS OF $vBad")
      .head().getLong(0) === n0 + 2)
    // the bad files stay on disk — rollback is metadata, never a delete
    dataFiles.foreach(f => assert(Files.exists(Paths.get(dir, f)), s"$f deleted by rollback"))
    // numeric-version rollback: forward to the bad image again
    spark.sql(s"CALL $cat.rollback('$t', '$vBad')")
    assert(spark.table(s"$cat.`$t`").count() === n0 + 2,
      "version rollback must restore forward too (any surviving version)")
    // a branch is not a rollback target
    spark.sql(s"CALL $cat.create_branch('$t', 'wip')")
    val e = intercept[Exception](spark.sql(s"CALL $cat.rollback('$t', 'wip')"))
    assert(e.getMessage.contains("fast_forward"), s"branch target must redirect: ${e.getMessage}")
  }

  test("cherry_pick re-applies an append delta; refuses rewrites, double-picks, empty deltas") {
    val (cat, t, dir) = scratch("chp")
    val n0 = spark.table(s"$cat.`$t`").count()
    spark.sql(s"CALL $cat.create_tag('$t', 'base')")
    spark.sql(s"INSERT INTO $cat.`$t` VALUES (920001, 1, 'keep', 1.0), (920002, 2, 'keep', 2.0)")
    val vKeep = JsonlStats.currentVersion(dir)
    spark.sql(s"INSERT INTO $cat.`$t` VALUES (930001, 3, 'drop_me', 3.0)")
    spark.sql(s"CALL $cat.rollback('$t', 'base')")
    spark.sql(s"CALL $cat.cherry_pick('$t', $vKeep)")
    val after = spark.table(s"$cat.`$t`")
    assert(after.count() === n0 + 2, "cherry_pick must re-apply exactly the picked delta")
    assert(after.filter($"event_type" === "keep").count() === 2)
    assert(after.filter($"event_type" === "drop_me").count() === 0)
    // double-pick: the picked files are already live — loud conflict
    val dup = intercept[Exception](spark.sql(s"CALL $cat.cherry_pick('$t', $vKeep)"))
    assert(dup.getMessage.contains("already"), s"double-pick must conflict: ${dup.getMessage}")
    // a COW rewrite version is not append-shaped
    val cut = JsonlStats.readStats(dir).map(_.max).min
    spark.sql(s"DELETE FROM $cat.`$t` WHERE value <= $cut")
    val vDel = JsonlStats.currentVersion(dir)
    val rw = intercept[Exception](spark.sql(s"CALL $cat.cherry_pick('$t', $vDel)"))
    assert(rw.getMessage.contains("append-shaped"), s"rewrite pick must refuse: ${rw.getMessage}")
  }

  test("cherry_pick of an upsert re-applies retraction + inserts with a fresh sequence") {
    val (cat, t, dir) = scratch("chpu")
    // upsert: collapse user 7's rows to one summary row
    val img = spark.table(s"$cat.`$t`").filter($"user_id" === 7L)
    val n7 = img.count()
    assume(n7 > 0, "fixture has user 7")
    Seq((990007L, 7L, "summary", n7.toDouble)).toDF("event_id", "user_id", "event_type", "value")
      .write.format("graft-jsonl-stats").option("path", dir)
      .option("upsertKeys", "user_id").mode("append").save()
    val vUp = JsonlStats.currentVersion(dir)
    val afterUpsert = spark.table(s"$cat.`$t`").filter($"user_id" === 7L).collect()
    assert(afterUpsert.length === 1 && afterUpsert.head.getString(2) === "summary")
    // undo, then redo via cherry_pick: the retraction must re-apply too
    spark.sql(s"CALL $cat.rollback('$t', '${vUp - 1}')")
    assert(spark.table(s"$cat.`$t`").filter($"user_id" === 7L).count() === n7,
      "rollback must restore the pre-upsert image (masked rows reappear)")
    spark.sql(s"CALL $cat.cherry_pick('$t', $vUp)")
    val redone = spark.table(s"$cat.`$t`").filter($"user_id" === 7L).collect()
    assert(redone.length === 1 && redone.head.getString(2) === "summary",
      "picked upsert must retract the old rows AND land the summary")
  }

  test("ref names validate; unknown refs error with the candidate list") {
    val (cat, t, dir) = scratch("names")
    val bad = intercept[Exception](spark.sql(s"CALL $cat.create_tag('$t', '../evil')"))
    assert(bad.getMessage.contains("ref name"))
    spark.sql(s"CALL $cat.create_tag('$t', 'good')")
    val unknown = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.`$t` VERSION AS OF 'nope'").collect())
    assert(unknown.getMessage.contains("no ref 'nope'") &&
      unknown.getMessage.contains("tag 'good'"),
      s"unknown-ref error must name candidates: ${unknown.getMessage}")
  }

  test("missing tag/branch idents are table-not-found, not analysis-breaking IAEs (r9 review)") {
    val (cat, t, _) = scratch("noref")
    // the analyzer probes multipart names speculatively; a ref selector
    // that parses but does not exist must surface as the standard
    // TABLE_OR_VIEW_NOT_FOUND flow, never an IllegalArgumentException
    val e1 = intercept[org.apache.spark.sql.AnalysisException](
      spark.table(s"$cat.`$t`.tag_ghost").collect())
    assert(e1.getMessage.contains("tag_ghost"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      spark.table(s"$cat.`$t`.branch_ghost").collect())
    assert(e2.getMessage.contains("branch_ghost"), e2.getMessage)
    // an existing ref still resolves after the miss
    spark.sql(s"CALL $cat.create_tag('$t', 'pin')")
    assert(spark.table(s"$cat.`$t`.tag_pin").count() > 0)
  }

  test("procedure discovery inventories every loadable procedure (r9 review)") {
    val (cat, _, _) = scratch("procs")
    val plugin = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ProcedureCatalog]
    val table = graft.sources.GraftProcedures.all.keySet
    val listed = plugin.listProcedures(Array.empty).map(_.name()).toSet
    assert(listed === table,
      s"discovery must inventory the full procedure set; missing: ${table -- listed}")
    // every listed name round-trips through loadProcedure
    table.foreach { n =>
      val p = plugin.loadProcedure(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, n))
      assert(p.name() === n, s"procedure $n failed to load")
    }
    assert(listed.size >= 18)
    // `<table>.history` is the one generation report: no procedure shadows it
    intercept[Exception](plugin.loadProcedure(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "history")))
  }

  test("function discovery: every listed function loads, and every function the " +
    "catalog defines is listed") {
    import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier}
    import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
    val (cat, _, _) = scratch("fns")
    val plugin = spark.sessionState.catalogManager.catalog(cat).asInstanceOf[FunctionCatalog]
    val listed = plugin.listFunctions(Array.empty).map(_.name()).toSeq
    assert(listed.distinct.size === listed.size, s"duplicate listing: $listed")
    listed.foreach { n =>
      assert(plugin.loadFunction(Identifier.of(Array.empty, n)).name() === n,
        s"listed function $n does not load under its name")
    }
    // every UnboundFunction object the catalog companion declares must
    // load under its own name and be listed (bucket once loaded unlisted)
    val defined = classOf[GraftCatalog].getDeclaredClasses.toSeq
      .filter(c => classOf[UnboundFunction].isAssignableFrom(c))
      .map(c => c.getField("MODULE$").get(null).asInstanceOf[UnboundFunction])
    assert(defined.map(_.name()).contains("bucket"), s"found ${defined.map(_.name())}")
    defined.foreach { f =>
      assert(plugin.loadFunction(Identifier.of(Array.empty, f.name())) eq f,
        s"${f.name()} does not load")
      assert(listed.contains(f.name()), s"${f.name()} loads but is not listed")
    }
    assert(listed.toSet === defined.map(_.name()).toSet)
    intercept[org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException](
      plugin.loadFunction(Identifier.of(Array.empty, "no_such_fn")))
  }
}

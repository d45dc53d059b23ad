package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Change data feed over the manifest protocol — "what changed between
  * version F and version T" as a DataFrame, the Delta
  * `table_changes` / Iceberg incremental-read shape rebuilt on this
  * engine's commit primitives (motivation: the reference pipeline's
  * MERGE-refresh consumers, `dag_streamflow_warehouse.py:118-126`,
  * want deltas, not full re-reads).
  *
  * Why it scales: a generation diff at the FILE level is pure manifest
  * arithmetic (metadata-sized, on the driver — the same trust-the-
  * manifest stance as planning). Data files are immutable (every write
  * path publishes new names), so [[windowDiff]] splits a window into
  * three legs and the row-level work runs over ONLY their rows:
  *
  *   - REMOVED: a file that left the manifest, read under the FROM
  *     version's masks (its rows left);
  *   - ADDED: a file that entered it, read under the TO masks;
  *   - RETRACTED: a file on both sides whose deletion-vector list
  *     strictly GREW (a merge-on-read DELETE) while its applicable
  *     equality deletes stayed put — read ONCE with the mask inverted
  *     over only the new sidecars, which yields exactly the newly
  *     deleted rows. A 400-row DELETE over a 40,000-row file costs 400
  *     rows, not the whole file twice.
  *
  * Any other change to a surviving file — a DV list that shrank (a
  * rollback restores entries verbatim) or a moved equality-delete set
  * (an upsert) — RE-IMAGES it: the file joins both the removed and the
  * added leg, its untouched rows cancel (in [[tableChanges]]' image
  * join, or arithmetically in [[signedChanges]]). Copy-on-write noise
  * cancels the same way. The batch feed and the streaming one
  * ([[JsonlCdfStream]]) share this one diff.
  *
  * Each leg is materialized as a derived manifest under `_cdf/`
  * (deterministic names, overwritten per call) and read back through
  * the connector itself via its `manifest` option — so column pruning,
  * byte-range splits, bloom skips and residual filters all apply to
  * the change scan like any other. The retracted leg marks its entries
  * inverted ([[JsonlStats.FileStats.inv]]); every manifest-served
  * aggregate declines on such an entry, since its counts and bounds
  * describe the whole file. */
object ChangeFeed {

  /** Resolve version v of the table rooted at `root` to its manifest
    * path (relative to root), failing with the retention story when
    * the generation was vacuumed. */
  private[sources] def manifestOf(root: String, v: Int): String = {
    val current = JsonlStats.currentVersion(root)
    require(v >= 1 && v <= current, s"no version $v of $root (versions 1..$current)")
    if (v == current) "_stats.jsonl"
    else {
      val m = s"${JsonlStats.HistoryDir}/v$v.jsonl"
      if (!Files.exists(Paths.get(root, m)))
        throw new IllegalArgumentException(
          s"version $v of $root has been vacuumed (oldest available: " +
            s"${JsonlStats.readVacuumHorizon(root).map(_.minVersion).getOrElse(current)})")
      m
    }
  }

  /** Version v's manifest entries (file stats + equality-delete lines)
    * with a TOCTOU guard: when v resolves to the LIVE `_stats.jsonl`, a
    * commit racing the read can overwrite the file mid-read — so after
    * reading, re-check the current version; if the table advanced, v's
    * content is now frozen in its immutable `_history/vN.jsonl` and the
    * re-resolve reads that instead. One retry suffices: history files
    * never change after publication. Version 0 (before the first
    * commit — the change stream's initial offset) is empty. */
  private def statsAt(root: String, v: Int)
      : (Seq[JsonlStats.FileStats], Seq[JsonlEqualityDeletes.EqDelete]) = {
    if (v <= 0) return (Nil, Nil)
    val m = manifestOf(root, v)
    val stats = JsonlStats.readStats(root, m)
    val eqs = JsonlEqualityDeletes.readEqDeletes(root, m)
    if (m == "_stats.jsonl" && JsonlStats.currentVersion(root) != v) statsAt(root, v)
    else (stats, eqs)
  }

  /** Write `entries` and `eqs` as the derived manifest `name` (under
    * `_cdf/`, overwritten) and read it back through the connector. */
  private def derivedScan(spark: SparkSession, root: String, name: String,
                          entries: Seq[JsonlStats.FileStats],
                          eqs: Seq[JsonlEqualityDeletes.EqDelete]): DataFrame = {
    Files.createDirectories(Paths.get(root, "_cdf"))
    Files.write(Paths.get(root, name),
      scala.jdk.CollectionConverters.SeqHasAsJava(
        entries.map(JsonlStats.statsLine) ++ eqs.map(JsonlEqualityDeletes.line)).asJava,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    val schema = JsonlStats.readTableMeta(root).schema.getOrElse(JsonlStats.schema)
    spark.read.format("graft-jsonl-stats").schema(schema)
      .option("path", root).option("manifest", name).load()
  }

  /** Version `v` of the table as a DataFrame over a PRIVATE manifest
    * snapshot materialized under `_cdf/` (ADVICE r14): reading the live
    * `_stats.jsonl` cannot pin anything — a source commit racing the
    * caller advances the scanned file set between planning and
    * execution. This copy is immutable, so the incremental MV refresh
    * version-pins EVERY leaf occurrence on it and the executed delta
    * exactly matches the versions it records. Callers sweep the file
    * via [[pinnedManifest]] once the plan has been consumed. */
  def pinnedScan(spark: SparkSession, root: String, v: Int, nonce: String): DataFrame = {
    val (stats, eqs) = statsAt(root, v)
    derivedScan(spark, root, s"_cdf/v${v}_pin$nonce.jsonl", stats, eqs)
  }

  /** Live rows of version `v`, from its manifest (what a [[pinnedScan]]
    * of it reads, before equality deletes). */
  def liveRowsAt(root: String, v: Int): Long =
    statsAt(root, v)._1.iterator.map(_.live).sum

  /** The derived manifest a [[pinnedScan]] call with this (version,
    * nonce) wrote — callers delete it once the pinned plan is spent. */
  def pinnedManifest(root: String, v: Int, nonce: String): java.nio.file.Path =
    Paths.get(root, s"_cdf/v${v}_pin$nonce.jsonl")

  /** The file-level diff of the version window (fromV, toV]: the three
    * legs of the class doc, plus each side's equality-delete set. Each
    * side's manifest is read once. A retracted entry is the FROM entry
    * (its rows' lineage as of fromV) carrying only the NEW sidecars,
    * their position count, and the inverted-mask flag — DV sidecars
    * are disjoint by construction (a DELETE only sees surviving rows),
    * so the inverted read emits exactly the newly deleted rows. */
  final case class WindowDiff(root: String, fromV: Int, toV: Int,
                              removed: Seq[JsonlStats.FileStats],
                              added: Seq[JsonlStats.FileStats],
                              retracted: Seq[JsonlStats.FileStats],
                              eqFrom: Seq[JsonlEqualityDeletes.EqDelete],
                              eqTo: Seq[JsonlEqualityDeletes.EqDelete]) {
    /** No row left the table: MIN/MAX merge freely (an insert only ever
      * extends an extremum, a deletion can retract one). */
    def insertOnly: Boolean = removed.isEmpty && retracted.isEmpty

    /** Rows the signed feed of this window reads: each removed or added
      * entry's live rows, each retracted entry's newly deleted ones. */
    def rows: Long = (removed.iterator ++ retracted ++ added).map(_.live).sum
  }

  def windowDiff(root: String, fromV: Int, toV: Int): WindowDiff = {
    require(fromV < toV, s"fromV $fromV must precede toV $toV")
    val (fromStats, eqFrom) = statsAt(root, fromV)
    val (toStats, eqTo) = statsAt(root, toV)
    def applicable(eqs: Seq[JsonlEqualityDeletes.EqDelete])(s: JsonlStats.FileStats) =
      eqs.filter(_.seq > s.seq).map(_.file).sorted
    val toByName = toStats.map(s => s.file -> s).toMap
    val fromNames = fromStats.map(_.file).toSet
    val removed = Seq.newBuilder[JsonlStats.FileStats]
    val retracted = Seq.newBuilder[JsonlStats.FileStats]
    val reimaged = scala.collection.mutable.Set.empty[String]
    fromStats.foreach { was =>
      toByName.get(was.file) match {
        case None => removed += was
        case Some(now) if applicable(eqFrom)(was) != applicable(eqTo)(now) =>
          removed += was; reimaged += was.file
        case Some(now) if now.dvs == was.dvs => ()
        case Some(now) if now.dvs.size > was.dvs.size && was.dvs.forall(now.dvs.contains) =>
          retracted += was.copy(dvs = now.dvs.filterNot(was.dvs.contains),
            dels = now.dels - was.dels, inv = true)
        case Some(_) => removed += was; reimaged += was.file
      }
    }
    val added = toStats.filter(s => !fromNames.contains(s.file) || reimaged.contains(s.file))
    WindowDiff(root, fromV, toV, removed.result(), added, retracted.result(), eqFrom, eqTo)
  }

  /** The (removed, retracted, added) legs of a window, each a DataFrame
    * over its own derived manifest — shared by [[tableChanges]] and
    * [[signedChanges]]. */
  private def legs(spark: SparkSession, d: WindowDiff, tag: String)
      : (DataFrame, DataFrame, DataFrame) = {
    def leg(name: String, entries: Seq[JsonlStats.FileStats],
            eqs: Seq[JsonlEqualityDeletes.EqDelete]): DataFrame =
      derivedScan(spark, d.root, legManifest(d.fromV, d.toV, tag, name), entries, eqs)
    // a retracted file's applicable equality deletes are the same on
    // both sides (else it would have been re-imaged)
    (leg("removed", d.removed, d.eqFrom), leg("retracted", d.retracted, d.eqFrom),
      leg("added", d.added, d.eqTo))
  }

  private val Legs = Seq("removed", "retracted", "added")
  private def legManifest(fromV: Int, toV: Int, tag: String, leg: String): String =
    s"_cdf/v${fromV}_v${toV}_$tag$leg.jsonl"

  /** SIGNED multiset delta of a window — the change feed shape
    * incremental AGGREGATE maintenance wants (r13): the removed and
    * retracted legs' rows at `_sign` = -1, the added leg's at +1. No
    * unique key needed: distributive aggregates consume the delta
    * arithmetically, and a re-imaged file's untouched rows CANCEL
    * inside SUM/COUNT — each appears once at -1 and once at +1. That
    * is the cancellation [[tableChanges]] buys with its image join,
    * obtained for free from the algebra. Cost is proportional to the
    * changed files, and for a merge-on-read DELETE to the deleted rows
    * alone. */
  def signedChanges(spark: SparkSession, root: String,
                    fromV: Int, toV: Int, nonce: String = ""): DataFrame =
    signedChanges(spark, windowDiff(root, fromV, toV), nonce)

  def signedChanges(spark: SparkSession, d: WindowDiff, nonce: String): DataFrame = {
    // a source column literally named `_sign` would be silently REPLACED
    // by the tag below — the delta aggregate would then replay the tag
    // where the body meant the data column. Decline loudly; the IVM
    // caller catches and falls back to the always-correct full rebuild.
    val schema = JsonlStats.readTableMeta(d.root).schema.getOrElse(JsonlStats.schema)
    require(!schema.fieldNames.contains("_sign"),
      s"table at ${d.root} has a column named '_sign' — the signed change feed " +
        "reserves that name for its multiset tag")
    val (removed, retracted, added) = legs(spark, d, s"ivm$nonce")
    removed.unionByName(retracted).withColumn("_sign", lit(-1))
      .unionByName(added.withColumn("_sign", lit(1)))
  }

  /** The derived `_cdf` manifests a [[signedChanges]] call with this
    * (window, nonce) wrote — callers delete them once the delta has been
    * consumed (an incremental refresh would otherwise accrue three per
    * window that vacuum knows nothing about). */
  def signedManifests(root: String, fromV: Int, toV: Int,
                      nonce: String = ""): Seq[java.nio.file.Path] =
    Legs.map(leg => Paths.get(root, legManifest(fromV, toV, s"ivm$nonce", leg)))

  /** Row-level changes from version `fromV` (exclusive base) to
    * `toV`: one row per inserted, deleted or updated key, with the
    * before/after images side by side.
    *
    * Output: keyCols, `change_type` ('insert' | 'delete' | 'update'),
    * then `before_<c>` / `after_<c>` for every non-key column.
    * `keyCols` must be unique per row in both versions (the table's
    * logical key — for the event feed, `event_id`); a duplicated key
    * would cross-join its images. */
  def tableChanges(spark: SparkSession, root: String,
                   fromV: Int, toV: Int,
                   keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must name the table's unique key")
    // the before side is every row that left: the removed leg (under
    // the FROM masks) plus the retracted leg's newly deleted rows; a
    // re-imaged file's surviving rows cancel in the join, masked ones
    // surface as deletes/updates
    val (removed, retracted, post) = legs(spark, windowDiff(root, fromV, toV), tag = "")
    val pre = removed.unionByName(retracted)
    val schema = JsonlStats.readTableMeta(root).schema.getOrElse(JsonlStats.schema)
    val dataCols = schema.fieldNames.toSeq.filterNot(keyCols.contains)
    def tagged(df: DataFrame, prefix: String): DataFrame =
      dataCols.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"$prefix$c"))
        .withColumn(s"${prefix}present", lit(true))
    val joined = tagged(pre, "before_")
      .join(tagged(post, "after_"), keyCols, "full_outer")
    def img(prefix: String): Column =
      struct(dataCols.map(c => col(s"$prefix$c")): _*)
    joined
      .withColumn("change_type",
        when(col("before_present").isNull, lit("insert"))
          .when(col("after_present").isNull, lit("delete"))
          .when(img("before_") <=> img("after_"), lit("unchanged"))
          .otherwise(lit("update")))
      // copy-on-write noise: rewritten files re-emit untouched rows
      .filter(col("change_type") =!= "unchanged")
      .drop("before_present", "after_present")
      .select((keyCols.map(col) :+ col("change_type")) ++
        dataCols.flatMap(c => Seq(col(s"before_$c"), col(s"after_$c"))): _*)
  }
}

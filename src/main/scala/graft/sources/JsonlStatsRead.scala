package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.util.CaseInsensitiveStringMap

class JsonlStatsScanBuilder(root: String, full: StructType,
                            statsCol: String = JsonlStats.statsColumn,
                            partitionCol: Option[String] = None,
                            rewriteOp: Option[JsonlRowLevelOperation] = None,
                            splitBytes: Long = JsonlStats.DefaultSplitBytes,
                            manifest: String = "_stats.jsonl",
                            bloomCol: Option[String] = None,
                            columnMapping: Map[String, String] = Map.empty,
                            gramCol: Option[String] = None,
                            maxFilesPerTrigger: Option[Int] = None,
                            maxBytesPerTrigger: Option[Long] = None,
                            sampleMode: Option[String] = None) extends ScanBuilder
    // NOT SupportsPushDownFilters: Spark's PushDownUtils checks the v1
    // interface FIRST, so declaring both would route planning around
    // [[pushPredicates]] and lose every V2-only predicate (the
    // graft_cell/graft_norm function probes). pushFilters stays as a
    // plain method — the internal workhorse pushPredicates feeds.
    with SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownTableSample {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var bloomPushed: Array[Filter] = Array.empty
  private var gramNeedles: Array[String] = Array.empty
  private var aggSchema: Option[StructType] = None
  private var limitK: Option[Int] = None
  private var topN: Option[JsonlStatsScan.TopNPush] = None
  private var sample: Option[(Double, Double, Long)] = None
  private var pushedV2: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty
  // vector probe pruning, PREDICATE-DERIVED (r12): filled by
  // [[pushPredicates]] from pushed `graft_cell`/`graft_norm` V2
  // function predicates — never from a side-channel option, so the
  // prune can not under-cover the filter Spark evaluates
  private var vecCellProbes: Seq[(String, Seq[Int])] = Nil
  private var vecNormBands: Seq[(String, Double, Double)] = Nil
  // map-key interval constraints (r13), derived from pushed
  // graft_map_get predicates: ("<col>.<key>" logical, lo, hi)
  private var mapKeyBands: Seq[(String, Double, Double)] = Nil
  // STRING map-key constraints (r14): the same graft_map_get shapes
  // with string literals, kept as v1-style filters whose "column" is
  // the dotted "<col>.<key>" — pruning reuses the truncated
  // string-bounds laws (strIntervalMayMatch)
  private var mapKeyStrPreds: Seq[Filter] = Nil

  /** LIMIT pushdown (r9c, partial): the scan may serve ANY k rows, so
    * planning keeps only a file prefix whose GUARANTEED output rows
    * reach k, and (filter-free scans only) each task's reader stops
    * parsing after k emissions — `LIMIT 100` against a 100-TB table
    * costs a handful of early-terminated tasks, not a full scan.
    * Always partial: Spark's own GlobalLimit still applies. */
  override def pushLimit(limit: Int): Boolean = {
    if (rewriteOp.isDefined || limit <= 0) return false
    limitK = Some(limit)
    true
  }

  /** TABLESAMPLE pushdown (r12b): accepted ONLY when the table declares
    * `sampleMode = 'system'` (ALTER TABLE SET TBLPROPERTIES) — the
    * declaration that sampling this table means FILE-level (block)
    * sampling, the DuckDB/Trino `TABLESAMPLE SYSTEM` semantics. The
    * payoff is the 100-TB one: `TABLESAMPLE (1 PERCENT)` plans ~1% of
    * the FILES from the manifest alone — without the pushdown Spark
    * samples rows AFTER reading all of them. Kept files are decided by
    * [[JsonlStats.sampleU]] (deterministic, seed-keyed, pkey-anchored),
    * so the sample is reproducible and same-seed fractions nest.
    * Without the declaration the pushdown DECLINES and Spark's own
    * row-Bernoulli applies — a table must opt in to the semantic
    * shift, never discover it. Rewrites (DML must see every row),
    * with-replacement, and aggregate-pushed scans all decline. */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
                               withReplacement: Boolean, seed: Long): Boolean = {
    if (withReplacement || rewriteOp.isDefined || aggSchema.isDefined) return false
    if (!sampleMode.contains("system")) return false
    sample = Some((lowerBound, upperBound, seed))
    true
  }

  /** ORDER BY c [ASC|DESC] LIMIT k pushdown (r9c, partial): one plain
    * numeric sort column — planning drops every file that PROVABLY
    * cannot reach the top k (at least k rows elsewhere beat its best
    * bound; the exactness rules live in
    * [[JsonlStatsScan.topLimitPrune]]). On a layout range-ordered by
    * the sort column — the time-series shape — a recency query reads
    * one file of thousands. Spark re-sorts and re-limits the survivors,
    * so over-inclusion is never wrong. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, NullOrdering}
    if (rewriteOp.isDefined || limit <= 0 || orders.length != 1) return false
    val o = orders.head
    val col = o.expression() match {
      case n: NamedReference if n.fieldNames.length == 1 => n.fieldNames.head
      case _ => return false
    }
    val numeric = full.fields.find(_.name == col).map(_.dataType)
      .exists(t => t == LongType || t == DoubleType)
    if (!numeric) return false
    topN = Some(JsonlStatsScan.TopNPush(col,
      desc = o.direction() == SortDirection.DESCENDING,
      nullsFirst = o.nullOrdering() == NullOrdering.NULLS_FIRST, k = limit))
    true
  }

  override def isPartiallyPushed(): Boolean = true

  /** Logical → physical (column mapping, r7c): a renamed column's data
    * bytes and manifest stats keys keep the original name. Declared
    * layout columns (stats/partition/bloom) are never renamable, so
    * THEY need no translation. */
  private def phys(c: String): String = columnMapping.getOrElse(c, c)

  /** Accept skippable predicates for file pruning — numeric range/
    * equality on ANY column for planning-time manifest skips (r7b
    * multi-column stats: each entry's `cols` map carries per-column
    * bounds, with the legacy single-stats interval as the fallback for
    * `statsCol`; a column absent from a file's map simply never prunes
    * that file), and (when the table declares a `bloomColumn`)
    * equality/IN on that column for TASK-time bloom-sidecar skips
    * ([[Bloom]]). Return EVERY filter as a residual — bounds prove a
    * file irrelevant (never that all rows match) and blooms have false
    * positives. */
  def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // numeric range/equality AND (r8) string range/equality/startsWith —
    // string columns prune via truncated Iceberg-style bounds (`scols`)
    pushed = filters.filter(f =>
      JsonlStats.skipColumn(f).isDefined || JsonlStats.strSkipColumn(f).isDefined)
    bloomPushed = bloomCol match {
      case None => Array.empty
      case Some(bc) => filters.filter {
        case EqualTo(c, v) => c == bc && v != null
        case In(c, vs) => c == bc && vs.nonEmpty && vs.forall(_ != null)
        case _ => false
      }
    }
    // substring gram index (r9): a contains/prefix/suffix/equality
    // needle on the indexed text column prunes whole task ranges via
    // the per-file gram sidecar — `LIKE '%needle%'` arrives here as
    // StringContains. Only needles of >= GramLen chars can probe;
    // conjunctive filters make every needle's gram set required.
    gramNeedles = gramCol match {
      case None => Array.empty
      case Some(gc) => filters.collect {
        case StringContains(c, v) if c == gc && v != null && v.length >= Bloom.GramLen => v
        case StringStartsWith(c, v) if c == gc && v != null && v.length >= Bloom.GramLen => v
        case StringEndsWith(c, v) if c == gc && v != null && v.length >= Bloom.GramLen => v
        case EqualTo(c, v: String) if c == gc && v.length >= Bloom.GramLen => v
      }
    }
    filters
  }
  def pushedFilters(): Array[Filter] = pushed

  /** V2 predicate pushdown (r12) — the entry Spark actually calls (the
    * v1 [[pushFilters]] stays as the internal workhorse and the legacy
    * test surface). Standard predicates convert to v1 filters and flow
    * through the existing bounds/bloom/gram machinery; predicates over
    * the `graft_cell`/`graft_norm` V2 catalog functions arrive as
    * [[org.apache.spark.sql.connector.expressions.UserDefinedScalarFunc]]
    * and become planning-time vector probes — the probe set/band is
    * DERIVED from the very predicate Spark will evaluate over the
    * surviving rows, so pruning and filtering cannot disagree (the r11
    * `vecCells`/`vecNorm` trust-me scan options are gone). Every
    * predicate returns as residual: bounds prove a file irrelevant,
    * never that all its rows match. */
  override def pushPredicates(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = {
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expression,
      GeneralScalarExpression, Literal, NamedReference, UserDefinedScalarFunc}
    val v1 = predicates.flatMap(p =>
      org.apache.spark.sql.graft.PredicateBridge.toV1(p).toSeq)
    pushFilters(v1)
    // ---- vector probe derivation ----------------------------------
    // `<canonical fn>(<single column>)` on either side of a comparison
    def fnCol(e: V2Expression, canonical: String): Option[String] = e match {
      case u: UserDefinedScalarFunc
          if u.canonicalName() == canonical && u.children().length == 1 =>
        u.children()(0) match {
          case n: NamedReference if n.fieldNames().length == 1 => Some(n.fieldNames()(0))
          case _ => None
        }
      case _ => None
    }
    def numLit(e: V2Expression): Option[Double] = e match {
      case l: Literal[_] => JsonlStats.filterDouble(l.value)
      case _ => None
    }
    // graft_map_get(<map column>, '<key>') — the map-key stats probe
    // ([[graft.plans.MapKeyPushdown]] rewrites m['k'] into it)
    def mapGetKey(e: V2Expression): Option[String] = e match {
      case u: UserDefinedScalarFunc
          if u.canonicalName() == GraftCatalog.MapGetCanonical &&
            u.children().length == 2 =>
        (u.children()(0), u.children()(1)) match {
          case (n: NamedReference, l: Literal[_])
              if n.fieldNames().length == 1 && l.value != null =>
            Some(s"${n.fieldNames()(0)}.${l.value}")
          case _ => None
        }
      case _ => None
    }
    def intLit(e: V2Expression): Option[Int] = numLit(e).collect {
      case d if d.isWhole => d.toInt
    }
    val cells = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Int])]
    val bands = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    val mbands = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    predicates.foreach {
      case g: GeneralScalarExpression => (g.name(), g.children()) match {
        // graft_cell(col) IN (c1, c2, ...) / = c — the LSH probe shape
        case ("IN", ch) if ch.length >= 2 =>
          fnCol(ch(0), GraftCatalog.CellCanonical).foreach { c =>
            val ids = ch.drop(1).map(intLit)
            if (ids.forall(_.isDefined)) cells += ((c, ids.flatten.toSeq))
          }
          // graft_map_get(m,'k') IN (v1..vn) -> the covering interval
          // [min, max] (conservative: straddled files keep)
          mapGetKey(ch(0)).foreach { c =>
            val vs = ch.drop(1).map(numLit)
            if (vs.forall(_.isDefined))
              mbands += ((c, vs.flatten.min, vs.flatten.max))
          }
        case ("=", Array(a, b)) =>
          fnCol(a, GraftCatalog.CellCanonical).zip(intLit(b))
            .foreach { case (c, id) => cells += ((c, Seq(id))) }
          fnCol(b, GraftCatalog.CellCanonical).zip(intLit(a))
            .foreach { case (c, id) => cells += ((c, Seq(id))) }
          // graft_norm(col) = v is the degenerate band [v, v]
          fnCol(a, GraftCatalog.NormCanonical).zip(numLit(b))
            .foreach { case (c, v) => bands += ((c, v, v)) }
          fnCol(b, GraftCatalog.NormCanonical).zip(numLit(a))
            .foreach { case (c, v) => bands += ((c, v, v)) }
          mapGetKey(a).zip(numLit(b)).foreach { case (c, v) => mbands += ((c, v, v)) }
          mapGetKey(b).zip(numLit(a)).foreach { case (c, v) => mbands += ((c, v, v)) }
        // graft_norm(col) </<= v → upper bound; v </<= graft_norm(col)
        // → lower bound (BETWEEN arrives as two conjuncts; strictness
        // is immaterial against closed file bounds — conservative)
        case ("<" | "<=", Array(a, b)) =>
          fnCol(a, GraftCatalog.NormCanonical).zip(numLit(b))
            .foreach { case (c, v) => bands += ((c, Double.NegativeInfinity, v)) }
          fnCol(b, GraftCatalog.NormCanonical).zip(numLit(a))
            .foreach { case (c, v) => bands += ((c, v, Double.PositiveInfinity)) }
          mapGetKey(a).zip(numLit(b))
            .foreach { case (c, v) => mbands += ((c, Double.NegativeInfinity, v)) }
          mapGetKey(b).zip(numLit(a))
            .foreach { case (c, v) => mbands += ((c, v, Double.PositiveInfinity)) }
        case (">" | ">=", Array(a, b)) =>
          fnCol(a, GraftCatalog.NormCanonical).zip(numLit(b))
            .foreach { case (c, v) => bands += ((c, v, Double.PositiveInfinity)) }
          fnCol(b, GraftCatalog.NormCanonical).zip(numLit(a))
            .foreach { case (c, v) => bands += ((c, Double.NegativeInfinity, v)) }
          mapGetKey(a).zip(numLit(b))
            .foreach { case (c, v) => mbands += ((c, v, Double.PositiveInfinity)) }
          mapGetKey(b).zip(numLit(a))
            .foreach { case (c, v) => mbands += ((c, Double.NegativeInfinity, v)) }
        case _ => // OR/NOT/unknown shapes never prune — conservative
      }
      case _ =>
    }
    // conjuncts on the same column compose: probe sets intersect,
    // bands tighten — a file must satisfy EVERY derived constraint
    vecCellProbes = cells.groupBy(_._1).map { case (c, ps) =>
      c -> ps.map(_._2.toSet).reduce(_ intersect _).toSeq.sorted
    }.toSeq
    vecNormBands = bands.groupBy(_._1).map { case (c, bs) =>
      (c, bs.map(_._2).max, bs.map(_._3).min)
    }.toSeq
    mapKeyBands = mbands.groupBy(_._1).map { case (c, bs) =>
      (c, bs.map(_._2).max, bs.map(_._3).min)
    }.toSeq
    // string-valued map-key predicates (r14): the same graft_map_get
    // comparison shapes carrying STRING literals become v1-style
    // filters on the dotted key — conjuncts stack (forall at pruning)
    def strLit(e: V2Expression): Option[String] = e match {
      case l: Literal[_]
          if l.value.isInstanceOf[org.apache.spark.unsafe.types.UTF8String] =>
        Some(l.value.toString)
      case _ => None
    }
    val msp = scala.collection.mutable.ArrayBuffer.empty[Filter]
    predicates.foreach {
      case g: GeneralScalarExpression =>
        val ch = g.children()
        g.name() match {
          case "=" if ch.length == 2 =>
            mapGetKey(ch(0)).zip(strLit(ch(1))).foreach { case (c, v) => msp += EqualTo(c, v) }
            mapGetKey(ch(1)).zip(strLit(ch(0))).foreach { case (c, v) => msp += EqualTo(c, v) }
          case "<" if ch.length == 2 =>
            mapGetKey(ch(0)).zip(strLit(ch(1))).foreach { case (c, v) => msp += LessThan(c, v) }
            mapGetKey(ch(1)).zip(strLit(ch(0))).foreach { case (c, v) => msp += GreaterThan(c, v) }
          case "<=" if ch.length == 2 =>
            mapGetKey(ch(0)).zip(strLit(ch(1))).foreach { case (c, v) => msp += LessThanOrEqual(c, v) }
            mapGetKey(ch(1)).zip(strLit(ch(0))).foreach { case (c, v) => msp += GreaterThanOrEqual(c, v) }
          case ">" if ch.length == 2 =>
            mapGetKey(ch(0)).zip(strLit(ch(1))).foreach { case (c, v) => msp += GreaterThan(c, v) }
            mapGetKey(ch(1)).zip(strLit(ch(0))).foreach { case (c, v) => msp += LessThan(c, v) }
          case ">=" if ch.length == 2 =>
            mapGetKey(ch(0)).zip(strLit(ch(1))).foreach { case (c, v) => msp += GreaterThanOrEqual(c, v) }
            mapGetKey(ch(1)).zip(strLit(ch(0))).foreach { case (c, v) => msp += LessThanOrEqual(c, v) }
          case "IN" if ch.length >= 2 =>
            mapGetKey(ch(0)).foreach { c =>
              val vs = ch.drop(1).map(strLit)
              if (vs.forall(_.isDefined)) msp += In(c, vs.flatten.toArray[Any])
            }
          case _ =>
        }
      case _ =>
    }
    mapKeyStrPreds = msp.toSeq
    pushedV2 = predicates.filter { p =>
      org.apache.spark.sql.graft.PredicateBridge.toV1(p)
        .exists(f => pushed.contains(f) || bloomPushed.contains(f)) ||
      (p match {
        case g: GeneralScalarExpression =>
          def anyVecFn(e: V2Expression): Boolean =
            fnCol(e, GraftCatalog.CellCanonical).isDefined ||
              fnCol(e, GraftCatalog.NormCanonical).isDefined ||
              mapGetKey(e).isDefined
          g.children().exists(anyVecFn)
        case _ => false
      })
    }
    predicates
  }
  override def pushedPredicates()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = pushedV2

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** The third pushdown leg: a global COUNT(*)/MIN/MAX over the stats
    * column is answered FROM THE MANIFEST — zero data-file IO. Declined
    * whenever it would be wrong: any pushed filter (per-file bounds are
    * bounds over ALL rows of the file, not the filtered subset), any
    * grouping, or any aggregate the manifest doesn't carry. Partial
    * pushdown contract: the scan emits one partial row per file and
    * Spark's final aggregate merges (count→sum, min→min, max→max) —
    * Parquet's footer-stats pushdown shape. */
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    def refCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case n: NamedReference if n.fieldNames.length == 1 => Some(n.fieldNames.head)
      case _ => None
    }
    if (pushed.nonEmpty) return false
    // a pushed block sample keeps a file SUBSET: manifest-served
    // aggregates would answer for the whole table — decline
    if (sample.isDefined) return false
    val stats = JsonlStats.readStats(root, manifest)
    // a manifest without row counts cannot serve aggregates
    if (stats.exists(_.rows < 0)) return false
    // equality deletes (r9b) are KEY-scoped masks: how many rows they
    // remove from WHICH file is unknowable without reading, so every
    // manifest-served aggregate declines while any exist
    // (rewrite_deletes restores the pushdown)
    if (JsonlEqualityDeletes.readEqDeletes(root, manifest).nonEmpty) return false
    // GROUPED pushdown (r7b): servable ONLY when the single grouping
    // expression IS the table's partition column of a fully key-grouped
    // layout — every row of a file then carries that file's one `pkey`,
    // so one partial row per file is a correct per-group partial
    // aggregation (Spark's final aggregate merges count→sum, min→min,
    // max→max per key). Any other grouping has per-group state the
    // manifest doesn't carry — declined, the scan path answers it.
    val groupFields: Option[Seq[StructField]] = agg.groupByExpressions().toSeq match {
      case Seq() => Some(Seq.empty)
      case Seq(g) => (refCol(g), partitionCol) match {
        // partition evolution (r9 review): every file's pkey must
        // derive from the CURRENT identity spec, or the served group
        // values would be a stale transform's keys (bucket digits as
        // event types) — same uniformity gate as the SPJ reporting
        case (Some(c), Some(pc)) if c == pc && stats.nonEmpty &&
            stats.forall(_.pkey.isDefined) &&
            stats.forall(_.pspec.forall(_ == pc)) &&
            full.fields.exists(f => f.name == pc && f.dataType == StringType) =>
          Some(Seq(StructField(s"group:$pc", StringType, nullable = false)))
        case _ => None
      }
      case _ => None
    }
    if (groupFields.isEmpty) return false
    // MIN/MAX are served from manifest bounds — for ANY numeric column
    // (r7b multi-column stats), provided EVERY file has recorded bounds
    // for it: [[JsonlStats.colBounds]] resolves the per-column map with
    // the legacy single-stats interval as the statsCol fallback, and a
    // file with no bounds (all-null column, legacy manifest, sentinel)
    // makes the column unservable — serving a partial MIN/MAX would
    // return metadata as data. Long bounds round-trip exactly through
    // the manifest's doubles below 2^53 (every key column here). */
    def servable(col: String): Option[DataType] = {
      val t = full.fields.find(_.name == col).map(_.dataType)
      val typed = t.contains(DoubleType) || t.contains(LongType)
      val covered = stats.nonEmpty &&
        stats.forall(s => JsonlStats.colBounds(s, phys(col), statsCol).isDefined)
      // a file with deletion vectors declines MIN/MAX: bounds still
      // HOLD for the surviving rows but may no longer be attained (the
      // extreme row might be the deleted one) — COUNT stays exact
      val undeleted = stats.forall(_.dels == 0)
      if (typed && covered && undeleted) t else None
    }
    // COUNT(col) = Σ per-file non-null counts (r7c `colns`): servable
    // iff EVERY file recorded a count for the column and no file
    // carries deletion vectors (a masked row might be one of the
    // non-null ones — the same attainability argument as MIN/MAX)
    def countable(col: String): Boolean =
      stats.nonEmpty && stats.forall(_.dels == 0) &&
        stats.forall(_.colNonNull.contains(phys(col)))
    import org.apache.spark.sql.connector.expressions.aggregate.Count
    val fields = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(StructField("count_star", LongType, nullable = false))
      case m: Min => refCol(m.column).flatMap(c =>
        servable(c).map(t => StructField(s"min:$c", t)))
      case m: Max => refCol(m.column).flatMap(c =>
        servable(c).map(t => StructField(s"max:$c", t)))
      case cnt: Count if !cnt.isDistinct =>
        refCol(cnt.column).filter(countable)
          .map(c => StructField(s"cnt:$c", LongType, nullable = false))
      case _ => None
    }
    if (fields.contains(None)) false
    else { aggSchema = Some(StructType(groupFields.get ++ fields.flatten)); true }
  }

  override def build(): Scan = aggSchema match {
    case Some(s) => new JsonlManifestAggScan(root, s, manifest, statsCol, columnMapping)
    case None =>
      // bloom probes hashed ONCE at planning, by the column's declared
      // type (must mirror the writer's hashing in JsonlFileSink); each
      // pushed predicate becomes an any-of hash set the reader ANDs
      val bloomSets: Seq[Array[Long]] = bloomCol.toSeq.flatMap { bc =>
        val dt = full.fields.find(_.name == bc).map(_.dataType)
        def h(v: Any): Option[Long] = (dt, v) match {
          case (Some(LongType), n: Number)   => Some(Bloom.hashLong(n.longValue()))
          case (Some(DoubleType), n: Number) => Some(Bloom.hashDouble(n.doubleValue()))
          case (Some(StringType), s)         => Some(Bloom.hashString(String.valueOf(s)))
          case _ => None
        }
        bloomPushed.toSeq.flatMap {
          case EqualTo(_, v) => h(v).map(Array(_))
          case In(_, vs) =>
            val hs = vs.toSeq.map(h)
            if (hs.forall(_.isDefined)) Some(hs.flatten.toArray) else None
          case _ => None
        }
      }
      // every gram of every needle must be present in a file's sidecar
      // or its ranges are skipped (AND across conjunctive predicates)
      val gramRequired: Array[Long] =
        gramNeedles.flatMap(Bloom.gramHashes).distinct
      val scan = new JsonlStatsScan(root, required, pushed, statsCol, partitionCol,
        rewriteOp, splitBytes, manifest, bloomSets, columnMapping, gramRequired,
        limitK, topN, maxFilesPerTrigger, maxBytesPerTrigger, vecCellProbes, vecNormBands,
        sample, mapKeyBands, mapKeyStrPreds)
      // the operation's commit must know what this scan replaced
      rewriteOp.foreach(_.rewriteScan = Some(scan))
      scan
  }
}

/** Aggregate-pushdown scan: partial rows served from the manifest. One
  * input partition carrying the (file-count-bounded) stats list; the
  * reader never opens a data file. */
class JsonlManifestAggScan(root: String, aggSchema: StructType,
                           manifest: String = "_stats.jsonl",
                           statsCol: String = JsonlStats.statsColumn,
                           columnMapping: Map[String, String] = Map.empty) extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-jsonl-stats root=$root, aggregatePushdown=[${aggSchema.fieldNames.mkString(", ")}] (manifest-only, no data IO)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(JsonlManifestAggPartition(JsonlStats.readStats(root, manifest), aggSchema, statsCol,
      columnMapping))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val part = p.asInstanceOf[JsonlManifestAggPartition]
        new PartitionReader[InternalRow] {
          private val it = part.stats.iterator
          private var cur: JsonlStats.FileStats = _
          override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
          // field naming from pushAggregation: count_star | min:<col> |
          // max:<col>; per-column bounds resolved like pruning does
          // (pushAggregation proved coverage, so .get is safe). A LONG
          // column's bounds round-trip exactly through the manifest's
          // doubles below 2^53 (pushAggregation gates on type).
          override def get(): InternalRow = InternalRow.fromSeq(part.schema.fields.toSeq.map { f =>
            def bounds(col: String) = JsonlStats.colBounds(cur,
              part.columnMapping.getOrElse(col, col), part.statsCol).get
            (f.name, f.dataType) match {
              // live rows = physical rows minus DV-masked positions
              case ("count_star", _) => cur.rows - cur.dels
              // grouped pushdown: the file's single pkey IS its group
              // (pushAggregation proved every file carries one)
              case (n, _) if n.startsWith("group:") => UTF8String.fromString(cur.pkey.get)
              // COUNT(col): the file's recorded non-null count
              // (coverage proved at pushAggregation; physical name)
              case (n, _) if n.startsWith("cnt:") =>
                cur.colNonNull(part.columnMapping.getOrElse(
                  n.stripPrefix("cnt:"), n.stripPrefix("cnt:")))
              case (n, LongType) if n.startsWith("min:") => bounds(n.stripPrefix("min:"))._1.toLong
              case (n, LongType) if n.startsWith("max:") => bounds(n.stripPrefix("max:"))._2.toLong
              case (n, _) if n.startsWith("min:")        => bounds(n.stripPrefix("min:"))._1
              case (n, _) if n.startsWith("max:")        => bounds(n.stripPrefix("max:"))._2
            }
          })
          override def close(): Unit = ()
        }
      }
    }
}

final case class JsonlManifestAggPartition(stats: Seq[JsonlStats.FileStats],
                                           schema: StructType,
                                           statsCol: String = JsonlStats.statsColumn,
                                           columnMapping: Map[String, String] = Map.empty)
    extends InputPartition

class JsonlStatsScan(root: String, required: StructType, pushed: Array[Filter],
                     statsCol: String = JsonlStats.statsColumn,
                     partitionCol: Option[String] = None,
                     rewriteOp: Option[JsonlRowLevelOperation] = None,
                     splitBytes: Long = JsonlStats.DefaultSplitBytes,
                     manifest: String = "_stats.jsonl",
                     bloomSets: Seq[Array[Long]] = Seq.empty,
                     columnMapping: Map[String, String] = Map.empty,
                     gramRequired: Array[Long] = Array.empty,
                     limitK: Option[Int] = None,
                     topN: Option[JsonlStatsScan.TopNPush] = None,
                     maxFilesPerTrigger: Option[Int] = None,
                     maxBytesPerTrigger: Option[Long] = None,
                     vecCells: Seq[(String, Seq[Int])] = Nil,
                     vecNorm: Seq[(String, Double, Double)] = Nil,
                     sample: Option[(Double, Double, Long)] = None,
                     mapBands: Seq[(String, Double, Double)] = Nil,
                     mapStrPreds: Seq[Filter] = Nil)
    extends Scan with Batch
    with SupportsRuntimeV2Filtering with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsReportOrdering {
  import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  /** Value sets delivered by runtime filters (one entry per IN
    * predicate, conjunctive); files must cover at least one value of
    * EACH set to survive. Empty until [[filter]] is called. */
  @volatile private var runtimeKeep: Seq[Array[Double]] = Seq.empty

  /** Affected-group set delivered by the row-level rewrite's runtime
    * group filter: absolute `_file` paths of files containing matching
    * rows. None until (and unless) such a filter arrives. */
  @volatile private var runtimeFileKeep: Option[Set[String]] = None

  /** ONE manifest snapshot per scan: planning consults the stats several
    * times (partitioning, statistics, partition planning, post-runtime
    * re-planning), and the connector's own commit protocol swaps the
    * manifest atomically underneath — two reads inside one planning pass
    * could see different generations and plan an inconsistent scan. */
  private lazy val statsSnapshot: Seq[JsonlStats.FileStats] = JsonlStats.readStats(root, manifest)

  /** Equality deletes of this manifest snapshot (r9b): planning filters
    * them per file by the sequence rule (`file.seq < eqdel.seq`), so a
    * clean file — and every file of a table without upserts — carries
    * ZERO read-side cost. */
  private lazy val eqDeletes: Seq[JsonlEqualityDeletes.EqDelete] =
    JsonlEqualityDeletes.readEqDeletes(root, manifest)
  private def eqdsFor(s: JsonlStats.FileStats): Seq[(String, Seq[String])] =
    eqDeletes.filter(_.seq > s.seq)
      .map(d => (Paths.get(root, d.file).toString, d.cols))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-jsonl-stats root=$root, skipping=[${pushed.mkString(", ")}], " +
      s"read=[${required.fieldNames.mkString(", ")}], runtimeFilterable=[$statsCol], " +
      s"splitBytes=$splitBytes, bloomProbes=${bloomSets.size}, " +
      s"gramProbes=${gramRequired.length}" +
      sample.map { case (lo, hi, seed) =>
        f", sample=[$lo%.4f,$hi%.4f) seed=$seed mode=system" }.getOrElse("") +
      (if (mapBands.isEmpty) ""
       else s", mapBands=[${mapBands.map { case (k, lo, hi) => s"$k:[$lo,$hi]" }
         .mkString(", ")}]")

  /** The runtime-filtering leg (the DPP analogue for connectors): a
    * broadcast join on the stats column hands the scan the join side's
    * actual key set AT EXECUTION TIME, and files whose manifest interval
    * contains none of those keys are pruned before their tasks launch —
    * pruning the query's text never named. Like the planning-time leg
    * this only ever DROPS provably-irrelevant files (bounds prove
    * absence, never presence; the join itself re-checks rows), so an
    * unparseable predicate is safely ignored rather than guessed at. */
  /** Only advertised when the pruned read schema still carries the
    * stats column: Spark resolves these refs against the scan OUTPUT,
    * so naming an unprojected column is an analysis error (seen when a
    * query reads only metadata columns) — and a runtime join filter on
    * a column the node doesn't output can't exist anyway. Key-grouped
    * layouts decline runtime filtering entirely: once the scan reports
    * `KeyGroupedPartitioning`, Spark requires any runtime-filtered
    * re-plan to preserve the keyed partitions, and dropping files after
    * the grouping was reported breaks that contract — group alignment
    * (a shuffle-free join) is worth more than late file skipping. */
  override def filterAttributes(): Array[NamedReference] =
    if (rewriteOp.isDefined) {
      // rewrite scans accept ONLY the _file group filter: the group
      // identity is the file, and advertising the stats column too
      // makes Spark build a multi-column (value, _file) IN subquery
      // that translateRuntimeFilterV2 cannot convert — one attribute,
      // one translatable single-column IN
      if (required.fieldNames.contains(JsonlStats.FileMeta))
        Array(Expressions.column(JsonlStats.FileMeta))
      else Array.empty
    } else if (!keyGrouped && required.fieldNames.contains(statsCol))
      Array(Expressions.column(statsCol))
    else Array.empty

  override def filter(predicates: Array[Predicate]): Unit = {
    // one unparseable member voids the whole predicate: a partial value
    // set would prune files that only match the missing values
    def inValues(p: Predicate, col: String): Option[Seq[Any]] = {
      val kids = p.children()
      val onCol = kids.headOption.exists {
        case n: NamedReference => n.fieldNames.toSeq == Seq(col)
        case _ => false
      }
      if (p.name() == "IN" && onCol) {
        val lits = kids.tail.toSeq.map {
          case l: Literal[_] => Some(l.value())
          case _ => None
        }
        if (lits.forall(_.isDefined)) Some(lits.flatten) else None
      } else None
    }
    val sets = predicates.toSeq.flatMap { p =>
      inValues(p, statsCol).flatMap { raw =>
        val vals = raw.map { case n: Number => Some(n.doubleValue()); case _ => None }
        if (vals.forall(_.isDefined)) Some(vals.flatten.toArray) else None
      }
    }
    if (sets.nonEmpty) runtimeKeep = sets
    val fileSets = predicates.toSeq.flatMap { p =>
      inValues(p, JsonlStats.FileMeta).flatMap { raw =>
        val vals = raw.map {
          case s: UTF8String => Some(s.toString)
          case s: String => Some(s)
          case _ => None
        }
        // same voiding rule as the stats path: a partial _file set would
        // prune files whose matching rows then silently escape the
        // rewrite — worse than no pruning
        if (vals.forall(_.isDefined)) Some(vals.flatten.toSet) else None
      }
    }
    if (fileSets.nonEmpty) runtimeFileKeep = Some(fileSets.reduce(_ intersect _))
  }

  /** Files the row-level rewrite replaces = exactly the files this scan
    * PLANNED. Group-based rewrite contract: Spark pushes the POSITIVE
    * operation condition into the rewrite scan, so static bounds
    * skipping prunes precisely the files that provably contain no
    * matching row — unaffected, not replaced — while a file whose rows
    * ALL match keeps satisfying the pushed bounds, stays planned, reads
    * rows the keep-filter then drops, and is correctly replaced with
    * nothing. The runtime `_file` group filter refines the same set for
    * conditions bounds can't judge. (Deriving this from anything other
    * than the planned set is how you wipe a table: an earlier draft
    * ignored static pruning here, making `replaced` = everything while
    * only affected files' survivors were rewritten.) */
  private[sources] def replacedFiles: Set[String] = survivingStats().map(_.file).toSet

  /** Is this table a reportable key-grouped layout for the projected
    * output? Requires a declared partition column that survives column
    * pruning and a pkey on EVERY manifested file. A key-grouped scan
    * never receives runtime filters ([[filterAttributes]] declines
    * them), so this decision is stable across re-planning. */
  private lazy val keyGrouped: Boolean = identityGrouped || bucketGrouped

  /** Declared-order reporting (r12b, [[SupportsReportOrdering]]): the
    * per-partition orderings the LAYOUT proves, so downstream sorts
    * are ELIMINATED instead of re-proving them over the data:
    *
    *   - an identity-keyed scan's every partition carries ONE value of
    *     the partition column, so ascending-by-key holds trivially —
    *     reported first, it makes the storage-partitioned merge join
    *     sort-free as well as exchange-free;
    *   - when EVERY surviving file carries the same `sorted` stamp
    *     (the write-path proof that its rows ascend by the declared
    *     sortColumn — compaction's byte-concat DROPS the stamp, DV
    *     collapse carries it), the scan reports that column too. The
    *     secondary leg needs partitions that are single files or byte
    *     ranges of one: a key-GROUPED partition may concatenate
    *     several files of one key, which preserves the key leg but
    *     not the within-file one — so under grouping it is reported
    *     only when no key holds two files.
    *
    * Rewrite scans report nothing (their partitions are replacement
    * groups, not query output). Absence is always safe: Spark just
    * keeps its own sort. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (rewriteOp.isDefined) return Array.empty
    val surv = survivingStats()
    if (surv.isEmpty) return Array.empty
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.connector.expressions.SortOrder]
    if (identityGrouped)
      buf += Expressions.sort(Expressions.column(partitionCol.get),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    val stamps = surv.map(_.sorted).distinct
    stamps match {
      case Seq(Some(pc)) =>
        val logical = columnMapping.collectFirst { case (l, p) if p == pc => l }.getOrElse(pc)
        val singleFileKeys = !keyGrouped ||
          surv.groupBy(_.pkey).valuesIterator.forall(_.size == 1)
        if (required.fieldNames.contains(logical) && singleFileKeys &&
            !partitionCol.contains(logical))
          buf += Expressions.sort(Expressions.column(logical),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
      case _ => ()
    }
    buf.toArray
  }

  /** Every surviving file's pkey derives from the table's CURRENT
    * spec — a mixed-layout table (mid partition evolution) must not
    * report key grouping, or join alignment would trust stale keys. */
  private def uniformSpec(s: Seq[JsonlStats.FileStats]): Boolean =
    if (manifest == "_stats.jsonl") s.forall(_.pspec.forall(ps => partitionCol.contains(ps)))
    // snapshots demand the EXPLICIT stamp: an unstamped archived entry
    // may predate an evolution, and grouping under today's spec would
    // align a join on keys that were never derived from it
    else s.forall(_.pspec.exists(ps => partitionCol.contains(ps)))

  private lazy val identityGrouped: Boolean =
    partitionCol.exists(c => required.fieldNames.contains(c)) && {
      val s = survivingStats()
      s.nonEmpty && s.forall(_.pkey.isDefined) && uniformSpec(s)
    }

  /** Bucket-transform SPJ (r9): a hidden `bucket(N, col)` layout is
    * key-grouped over the DERIVED bucket id. Requires the SOURCE
    * column in the output (the join key Spark aligns on) and a pkey on
    * every file; several files may share a bucket — Spark's
    * v2-bucketing partition grouping coalesces them per key. */
  private lazy val bucketSpec: Option[PartitionTransforms.Bucket] =
    // single-transform layouts only: a composite pkey is not the bucket
    // id, so a composite table never reports bucket grouping (it prunes
    // conjunctively instead — the SPJ story stays the single-spec one)
    partitionSpecs.filter(_.size == 1)
      .flatMap(_.collectFirst { case b: PartitionTransforms.Bucket => b })

  private lazy val bucketGrouped: Boolean =
    bucketSpec.exists(b => required.fieldNames.contains(b.col)) && {
      val s = survivingStats()
      s.nonEmpty && s.forall(_.pkey.isDefined) && uniformSpec(s)
    }

  /** Storage-partitioned-join leg (`SupportsReportPartitioning`): when
    * every file carries a single declared partition-column value, the
    * scan reports `KeyGroupedPartitioning` over that column and each
    * input partition exposes its key (`HasPartitionKey`). Two tables
    * laid out this way join WITHOUT ANY EXCHANGE — Spark aligns the key
    * groups instead of shuffling either side (the DSv2 generalization
    * of the bucketed-join story: at 100 TB the fact table never moves).
    * Grouping follows from the layout contract, not trust: the reader
    * still reads only manifested immutable files, and a wrong pkey
    * would surface as wrong results against the oracle. */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (identityGrouped) {
      val keys = survivingStats().flatMap(_.pkey).distinct
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(Expressions.identity(partitionCol.get)), keys.size)
    } else if (bucketGrouped) {
      // the reported expression is the TRANSFORM over the source
      // column; Spark resolves it through the catalog's V2 `bucket`
      // function and two scans reporting the same canonical function +
      // aligned partition values join with zero exchange
      val b = bucketSpec.get
      val keys = survivingStats().flatMap(_.pkey).distinct
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(Expressions.bucket(b.n, b.col)), keys.size)
    } else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        survivingStats().size)

  /** Planning-time file skipping: consult the manifest, keep files whose
    * interval may satisfy every pushed predicate — and, once runtime
    * filters have arrived, whose interval covers at least one delivered
    * key per IN set. No directory listing.
    *
    * Surviving files larger than [[splitBytes]] fan out into byte-range
    * partitions (newline-boundary ownership per the class doc) — the
    * 100-TB posture: one skewed multi-GB file must never become one
    * task. Files with manifest checkpoints (r8) split at EXACT
    * checkpoint boundaries, whose recorded row offsets let range
    * readers serve `_pos` and mask deletion vectors; whole-file
    * partitions remain only when (a) the layout is key-grouped (the
    * group identity is the file; extra partitions per key would defeat
    * group alignment) or (b) the manifest predates checkpoints AND the
    * read needs physical positions (`_pos` projected or DVs attached),
    * which a blind byte-range reader cannot know mid-file. */
  /** TopN / LIMIT file pruning (r9c). Guarantees are exact or absent,
    * never approximate. Spark only pushes limit/topN when NOTHING sits
    * between it and the scan — and this connector's pushed filters all
    * stay residual (a Filter node remains), so a pushed limit implies a
    * bare scan; the `pushed.nonEmpty` arm is a defensive decline.
    *
    *  - a file's guaranteed output rows = `rows − dels` (exact: dels
    *    is the DV cardinality); outstanding EQUALITY deletes void all
    *    guarantees (key-scoped masks make per-file counts unknowable).
    *  - LIMIT k keeps the shortest manifest-order prefix whose
    *    guarantees reach k (LIMIT may serve any k rows).
    *  - ORDER BY c LIMIT k drops a file iff ≥ k rows PROVABLY rank
    *    strictly above its best bound — per-file bounds sorted by
    *    their lower end with a prefix sum of guaranteed NON-NULL rows
    *    (bounds describe non-null values only); NULLS FIRST demands
    *    proven-null-free files, since bounds cannot see the top-ranked
    *    nulls.
    *
    * Spark re-applies sort and limit above the scan (partial
    * pushdown), so any superset is correct — pruning is pure win. */
  private def topLimitPrune(surviving: Seq[JsonlStats.FileStats]): Seq[JsonlStats.FileStats] = {
    if (limitK.isEmpty && topN.isEmpty) return surviving
    if (pushed.nonEmpty || surviving.exists(_.rows < 0) || eqDeletes.nonEmpty) return surviving
    (limitK, topN) match {
      case (Some(k), _) =>
        // the shortest manifest-order prefix whose guarantees reach k;
        // if they never do, no pruning
        var acc = 0L
        var n = 0
        while (n < surviving.size && acc < k) { acc += math.max(0L, surviving(n).rows - surviving(n).dels); n += 1 }
        if (acc >= k) surviving.take(n) else surviving
      case (_, Some(JsonlStatsScan.TopNPush(col, desc, nullsFirst, k))) =>
        val pc = columnMapping.getOrElse(col, col)
        val bounds = surviving.map(s => JsonlStats.colBounds(s, pc, statsCol))
        if (bounds.exists(_.isEmpty)) return surviving
        if (nullsFirst && surviving.exists(s => !s.colNonNull.get(pc).contains(s.rows)))
          return surviving
        // guaranteed non-null rows: dels might all hit non-null rows,
        // so the worst case subtracts them fully; unknown non-null
        // counts contribute nothing (less pruning, never a wrong drop)
        def better(s: JsonlStats.FileStats): Long =
          s.colNonNull.get(pc).fold(0L)(nn => math.max(0L, nn - s.dels))
        // normalize so "better" is always LARGER: DESC keeps (min, max),
        // ASC negates and swaps — then g beats f iff g.lo > f.hi
        val proj = surviving.zip(bounds.map(_.get)).map { case (s, (mn, mx)) =>
          (s, if (desc) (mn, mx) else (-mx, -mn))
        }
        val ranked = proj.sortBy(-_._2._1)
        val los = ranked.map(_._2._1).toArray
        val pref = ranked.map(p => better(p._1)).scanLeft(0L)(_ + _).toArray
        def beats(hi: Double): Long = {
          var l = 0; var r = los.length
          while (l < r) { val m = (l + r) >>> 1; if (los(m) > hi) l = m + 1 else r = m }
          pref(l)
        }
        proj.collect { case (s, (_, hi)) if beats(hi) < k => s }
      case _ => surviving
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val grouped = keyGrouped
    // row lineage is position arithmetic, so its projections need
    // physical positions exactly like `_pos` (r10)
    val wantPos = required.fieldNames.contains(JsonlStats.PosMeta) ||
      required.fieldNames.contains(JsonlStats.RowIdMeta) ||
      required.fieldNames.contains(JsonlStats.LuvMeta)
    val canSplit = !grouped && splitBytes > 0
    (if (grouped) survivingStats() else topLimitPrune(survivingStats()))
      .flatMap { s =>
        val path = Paths.get(root, s.file).toString
        val dvs = s.dvs.map(dv => Paths.get(root, dv).toString)
        val eqds = eqdsFor(s)
        val lin = JsonlStats.Lineage.of(s)
        if (grouped)
          Seq(JsonlKeyedFilePartition(path, s.pkey.get, dvs,
            intKey = bucketGrouped, eqds = eqds, lin = lin): InputPartition)
        else {
          val size =
            try Files.size(Paths.get(path)) catch { case _: Throwable => 0L }
          if (!canSplit || size <= splitBytes)
            Seq(JsonlFilePartition(path, dvs = dvs, eqds = eqds, lin = lin): InputPartition)
          else if (s.ckpts.nonEmpty)
            // checkpoint-aligned EXACT splits (r8): each boundary is a
            // manifest-recorded (line start, rows before) pair, so every
            // range reader knows its starting physical row — DV masking
            // and `_pos` work on ranges. Greedy boundary selection keeps
            // ranges >= splitBytes (checkpoints are ~4x denser). Zone
            // maps prune ranges the pushed stats-column predicates
            // prove empty (filter columns are LOGICAL, segb physical).
            JsonlStatsScan.checkpointRanges(path, size, s.ckpts, splitBytes, dvs,
              s.segb,
              pushed.toSeq.filter(f => JsonlStats.skipColumn(f)
                .map(c => columnMapping.getOrElse(c, c)).contains(statsCol)),
              eqds = eqds, lin = lin)
          else if (dvs.nonEmpty || wantPos)
            // legacy manifests without checkpoints: DV masks and `_pos`
            // are keyed by physical position, which a blind byte-range
            // reader cannot know mid-file — whole-file partitions
            // (CALL rewrite_deletes / rewrite regenerates checkpoints)
            Seq(JsonlFilePartition(path, dvs = dvs, eqds = eqds, lin = lin): InputPartition)
          else {
            val n = ((size + splitBytes - 1) / splitBytes).toInt
            (0 until n).map { i =>
              val lo = i.toLong * splitBytes
              val hi = if (i == n - 1) Long.MaxValue else (i + 1).toLong * splitBytes
              JsonlFilePartition(path, lo, hi, eqds = eqds, lin = lin): InputPartition
            }
          }
        }
      }
      .toArray
  }

  /** Hidden-partitioning spec list (r9; composite since r12), decoded
    * once per scan. */
  private lazy val partitionSpecs: Option[Seq[PartitionTransforms.Spec]] =
    partitionCol.map(PartitionTransforms.parseMulti)

  /** Planning consults the surviving set several times (statistics,
    * partitioning report, partition planning, rewrite accounting) —
    * memoized per runtime-filter state (r12), since the filter pass is
    * O(entries × predicates) and a 100 k-entry manifest pays ~6 ms per
    * evaluation. The vars only ever move wholesale in [[filter]], so
    * reference identity is the correct key. */
  @volatile private var survivingMemo:
      ((Seq[Array[Double]], Option[Set[String]]), Seq[JsonlStats.FileStats]) = _
  private def survivingStats(): Seq[JsonlStats.FileStats] = {
    val key = (runtimeKeep, runtimeFileKeep)
    val m = survivingMemo
    if (m != null && (m._1._1 eq key._1) && (m._1._2 eq key._2)) m._2
    else {
      val v = computeSurviving()
      survivingMemo = (key, v)
      v
    }
  }

  /** Pair each string map-key filter with its dotted column (always
    * defined — the derivation only emits strSkipColumn shapes). */
  private def mapKeyStrPredsOf(fs: Seq[Filter]): Seq[(Filter, String)] =
    fs.flatMap(f => JsonlStats.strSkipColumn(f).map(f -> _))

  private def computeSurviving(): Seq[JsonlStats.FileStats] =
    statsSnapshot
      // hidden partitioning (r9): a file's single DERIVED pkey, mapped
      // through the transform, can prove the file irrelevant for
      // predicates on the SOURCE column — the query never names the
      // partition value (bucket point lookups keep 1 of N files even
      // when every file's raw bounds span the whole domain). Partition
      // EVOLUTION: each file prunes under ITS OWN spec (`ps`, absent =
      // the table's current spec) — a mixed-layout table prunes every
      // file by whatever transform its pkey was actually derived under.
      .filter { s =>
        // SNAPSHOT reads (non-live manifests) only transform-prune
        // entries with an EXPLICIT stamp: an archived pre-evolution
        // entry without `ps` must not be interpreted under the CURRENT
        // spec — its pkey may derive from a transform the sidecar no
        // longer names (time travel across an evolution).
        val fileSpecs = s.pspec.map(PartitionTransforms.parseMulti)
          .orElse(if (manifest == "_stats.jsonl") partitionSpecs else None)
        fileSpecs.forall(sps => s.pkey.isEmpty ||
          pushed.forall(f => PartitionTransforms.pkeyMayMatchMulti(sps, f, s.pkey.get)))
      }
      .filter(s => pushed.forall { f =>
        // per-column bounds (legacy stats interval as statsCol fallback);
        // a column with no recorded bounds never prunes — conservative.
        // Filter columns are LOGICAL; the stats keys physical (r7c).
        // Nested leaf paths (r12, `doc.n_chars`) resolve through
        // physPath — column mapping renames the top segment only.
        JsonlStats.skipColumn(f)
          .flatMap(c => JsonlStats.colBounds(s, JsonlStats.physPath(c, columnMapping), statsCol))
          .forall { case (mn, mx) => JsonlStats.intervalMayMatch(f, mn, mx) } &&
        // string bounds (r8): truncated min/max with the one-sided
        // invariants — same absence-is-conservative rule
        JsonlStats.strSkipColumn(f)
          .flatMap(c => s.strCols.get(JsonlStats.physPath(c, columnMapping)))
          .forall { case (lo, hi) => JsonlStats.strIntervalMayMatch(f, lo, hi) }
      })
      // row lineage (r10): `_last_updated_version` predicates prune at
      // PLANNING time — a stamped file's version is manifest metadata
      // (`luv`, per-run for compaction products), so "changed since
      // version K" reads only the files commits after K produced: the
      // Iceberg incremental-scan shape as a WHERE clause. Materialized
      // files (frid = -2, per-row versions) are kept — conservative;
      // an UNASSIGNED file serves NULL, which fails every comparison
      // filter skipColumn admits, so it prunes exactly.
      .filter(s => pushed.forall { f =>
        !JsonlStats.skipColumn(f).contains(JsonlStats.LuvMeta) || s.frid == -2L ||
        // a compaction bin MIXING stamped members (runs) with
        // materialized ones serves IN-ROW versions at every position no
        // run covers — the runs' luvs are not the whole story, so a
        // partially-covered file must stay (r11, ADVICE r10 high).
        // r12: a luv-only run (firstId = -1) covers MATERIALIZED rows
        // whose in-row versions vary arbitrarily (the run's luv is only
        // the null-luv fallback) — its presence forces a keep too.
        (s.frid < 0L && s.runs.nonEmpty &&
          (s.runs.exists(_._2 == -1L) || s.runs.map(_._3).sum < s.rows)) || {
          val luvs: Seq[Long] =
            if (s.frid >= 0L) Seq(s.luv)
            else if (s.runs.nonEmpty) s.runs.map(_._4).distinct
            else Nil // unassigned: all rows NULL
          luvs.exists(v => JsonlStats.intervalMayMatch(f, v.toDouble, v.toDouble))
        }
      })
      .filter(s => runtimeKeep.forall(_.exists(v => s.min <= v && v <= s.max)))
      .filter(s => runtimeFileKeep.forall(_.contains(Paths.get(root, s.file).toString)))
      // vector probe pruning (r11, predicate-derived since r12): the
      // per-file stats the writer always records for float/double
      // arrays — absent stats keep the file (legacy manifests), the
      // engine-wide conservative rule. The cell test prefers the EXACT
      // 64-bit cell-set bitmap (r12, `vcells`) and falls back to the
      // r11 [min, max] interval for pre-bitmap manifests.
      .filter(s => vecCells.forall { case (c, ids) =>
        val pc = columnMapping.getOrElse(c, c)
        s.vcells.get(pc) match {
          case Some(bm) => ids.exists(id => id >= 0 && id < 64 && ((bm >> id) & 1L) != 0L)
          case None =>
            JsonlStats.colBounds(s, pc + "#cell", statsCol)
              .forall { case (lo, hi) => ids.exists(id => lo <= id && id <= hi) }
        }
      })
      .filter(s => vecNorm.forall { case (c, lo, hi) =>
        JsonlStats.colBounds(s, columnMapping.getOrElse(c, c) + "#norm", statsCol)
          .forall { case (mn, mx) => mx >= lo && mn <= hi }
      })
      // map-key statistics (r13): the `<col>.<key>` interval must touch
      // the derived band. An ABSENT key prunes ONLY under the file's
      // completeness marker (`<col>#mk` — every present key bounded):
      // without it, absence is just unknown (legacy manifest, poisoned
      // cap, stats-free rewrite) and keeps the file.
      .filter(s => mapBands.forall { case (ck, lo, hi) =>
        val phys = JsonlStats.physPath(ck, columnMapping)
        s.cols.get(phys) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None =>
            val top = phys.take(math.max(0, phys.indexOf('.')))
            top.isEmpty || !s.cols.contains(JsonlStats.mapMarkerKey(top))
        }
      })
      // STRING map-key predicates (r14): the `<col>.<key>` truncated
      // string bounds prune under the r8 one-sided laws; an ABSENT key
      // prunes only under the file's completeness marker — the same
      // absence semantics as the numeric leg above
      .filter(s => mapKeyStrPredsOf(mapStrPreds).forall { case (f, ck) =>
        val phys = JsonlStats.physPath(ck, columnMapping)
        s.strCols.get(phys) match {
          case Some((lo, hi)) => JsonlStats.strIntervalMayMatch(f, lo, hi)
          case None =>
            val top = phys.take(math.max(0, phys.indexOf('.')))
            top.isEmpty || !s.cols.contains(JsonlStats.mapMarkerKey(top))
        }
      })
      // pushed TABLESAMPLE (r12b): deterministic file-level (block)
      // sampling — the kept set is decided here, from the manifest
      // alone, so a 1% sample plans ~1% of the files and never opens
      // the rest. Filtering inside computeSurviving makes every other
      // consumer (statistics, partitioning report, limit prefix)
      // automatically see the sampled universe.
      .filter(s => sample.forall { case (lo, hi, seed) =>
        val u = JsonlStats.sampleU(s, seed); u >= lo && u < hi })

  /** Manifest-derived statistics: row count is the sum of surviving
    * files' exact counts, bytes the sum of their on-disk sizes (a
    * file-count-bounded metadata stat, never a data scan) — what lets
    * Catalyst/AQE see a post-pruning connector table as small enough to
    * broadcast. Unknown when an old manifest lacks row counts. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val surviving = survivingStats()
    val haveRows = surviving.forall(_.rows >= 0)
    val liveRows = if (haveRows) Some(surviving.map(s => s.rows - s.dels).sum) else None
    // COLUMN statistics (r9c): NDV and string lengths from the ANALYZE
    // sidecar ([[ColStats]] — possibly stale, capped at live rows);
    // min/max and null counts from the MANIFEST of this very snapshot
    // (exact, current at every commit). CBO converts these to catalyst
    // per-attribute stats (`transformV2Stats`), so join-cardinality
    // estimation and cost-based join reordering see connector tables
    // with the same fidelity as ANALYZEd parquet ones. Keys are the
    // scan's OUTPUT names (logical); manifest/sidecar lookups go
    // through the physical mapping like every other stats consumer.
    val colStats: java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
                                org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val analyzed = ColStats.read(root).map(_.cols).getOrElse(Map.empty)
      val m = new java.util.HashMap[org.apache.spark.sql.connector.expressions.NamedReference,
                                    org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      required.fields.foreach { f =>
        val pc = columnMapping.getOrElse(f.name, f.name)
        val bounds = {
          val per = surviving.map(s => JsonlStats.colBounds(s, pc, statsCol))
          if (per.nonEmpty && per.forall(_.isDefined))
            Some((per.flatMap(_.map(_._1)).min, per.flatMap(_.map(_._2)).max))
          else None
        }
        val minMax: Option[(Object, Object)] = f.dataType match {
          case org.apache.spark.sql.types.LongType =>
            bounds.map(b => (java.lang.Long.valueOf(b._1.toLong),
              java.lang.Long.valueOf(b._2.toLong)))
          case org.apache.spark.sql.types.DoubleType =>
            bounds.map(b => (java.lang.Double.valueOf(b._1), java.lang.Double.valueOf(b._2)))
          case _ => None // string bounds are pruning-only (truncated, not values)
        }
        val nulls: Option[Long] =
          if (surviving.nonEmpty && haveRows && surviving.forall(_.colNonNull.contains(pc)))
            Some(surviving.map(s => math.max(0L, s.rows - s.dels - s.colNonNull(pc))).sum)
          else None
        val a = analyzed.get(pc)
        if (minMax.isDefined || nulls.isDefined || a.isDefined)
          m.put(org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong = a match {
                case Some(st) => java.util.OptionalLong.of(
                  liveRows.fold(st.ndv)(r => math.min(st.ndv, math.max(1L, r))))
                case None => java.util.OptionalLong.empty()
              }
              override def min(): java.util.Optional[Object] =
                minMax.fold(java.util.Optional.empty[Object]())(p => java.util.Optional.of(p._1))
              override def max(): java.util.Optional[Object] =
                minMax.fold(java.util.Optional.empty[Object]())(p => java.util.Optional.of(p._2))
              override def nullCount(): java.util.OptionalLong =
                nulls.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
              override def avgLen(): java.util.OptionalLong = a.filter(_.avgLen >= 0)
                .fold(java.util.OptionalLong.empty())(st => java.util.OptionalLong.of(st.avgLen))
              override def maxLen(): java.util.OptionalLong = a.filter(_.maxLen >= 0)
                .fold(java.util.OptionalLong.empty())(st => java.util.OptionalLong.of(st.maxLen))
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                a.flatMap(_.hist) match {
                  case Some((h, bs)) =>
                    java.util.Optional.of(
                      new org.apache.spark.sql.connector.read.colstats.Histogram {
                        override def height(): Double = h
                        override def bins(): Array[
                            org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                          bs.map { case (l, u, n) =>
                            new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                              override def lo(): Double = l
                              override def hi(): Double = u
                              override def ndv(): Long = n
                            }: org.apache.spark.sql.connector.read.colstats.HistogramBin
                          }.toArray
                      })
                  case None => java.util.Optional.empty()
                }
            })
      }
      m
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(surviving.map { s =>
          val p = Paths.get(root, s.file)
          if (Files.exists(p)) Files.size(p) else 0L
        }.sum)
      override def numRows(): java.util.OptionalLong =
        if (haveRows) java.util.OptionalLong.of(surviving.map(s => s.rows - s.dels).sum)
        else java.util.OptionalLong.empty()
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val base = new JsonlReaderFactory(required, bloomSets, columnMapping, gramRequired)
    // per-task early stop (r9c): a pushed LIMIT lets every reader quit
    // after k emissions — but ONLY when nothing downstream re-filters
    // rows (pushed filters are residual: Spark re-applies them, and a
    // reader that stopped early might have cut the rows that survive;
    // runtime filters arrive per-execution with the same hazard)
    limitK.filter(_ => pushed.isEmpty && runtimeKeep.isEmpty && runtimeFileKeep.isEmpty)
      .fold(base: PartitionReaderFactory)(k => new LimitedReaderFactory(base, k))
  }

  /** Connector-level SQL metrics (`CustomMetric`, surfaced on the
    * BatchScan node in the UI next to Spark's own numOutputRows):
    * how many task ranges a bloom probe skipped, and how many data
    * bytes the readers actually consumed — the observability face of
    * the skipping story (a needle lookup should show skips ≈ tasks
    * and bytes ≈ 0). */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new JsonlBloomSkipMetric, new JsonlGramSkipMetric, new JsonlBytesReadMetric)

  /** Streaming leg: the manifest doubles as the source of incremental
    * progress. An offset is the SET of manifested files; each micro-batch
    * reads exactly the files that joined the manifest since the last
    * offset. Manifested files are immutable (the writer only ever adds
    * attempt-unique files and swaps the manifest), so a file read once
    * never changes — the property that makes offset-diff replay
    * exactly-once under checkpoint recovery. No stats skipping here:
    * bounds may be swapped out from under a running stream by truncate,
    * and residual row filters re-check anyway. */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new JsonlManifestStream(root, required, columnMapping, splitBytes,
      maxFilesPerTrigger, maxBytesPerTrigger)
}

object JsonlStatsScan {
  /** A pushed ORDER BY col LIMIT k (r9c): plain numeric column only. */
  final case class TopNPush(col: String, desc: Boolean, nullsFirst: Boolean, k: Int)

  /** Checkpoint-aligned exact ranges of one file (r8): greedy boundary
    * selection over the manifest's `(line start, rows before)` pairs
    * keeps ranges ≥ splitBytes; each partition carries its starting
    * physical row so DV masking and `_pos` work mid-file. Falls back
    * to one whole-file partition when no boundary qualifies. Shared by
    * the batch planner and the streaming leg. */
  /** ZONE MAPS (r8): when the manifest carries per-segment stats-column
    * bounds (`segb`, one pair per checkpoint interval — the parquet
    * row-group-stats idea at checkpoint granularity), each built range
    * merges the bounds of the segments it covers and is DROPPED when
    * the pushed stats-column predicates prove no row of it can match —
    * sub-file skipping: a selective range query on a sorted 10 GB file
    * launches tasks for a handful of its ~2500 ranges instead of all
    * of them. Sentinel segments (all-null) and legacy manifests
    * (no/mismatched `segb`) prune nothing — absence is conservative,
    * the same contract as every other manifest statistic. */
  private[sources] def checkpointRanges(path: String, size: Long,
                                        ckpts: Seq[(Long, Long)], splitBytes: Long,
                                        dvs: Seq[String],
                                        segb: Seq[(Double, Double)] = Nil,
                                        zoneFilters: Seq[Filter] = Nil,
                                        eqds: Seq[(String, Seq[String])] = Nil,
                                        lin: JsonlStats.Lineage = JsonlStats.Lineage()): Seq[InputPartition] = {
    val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    var last = 0L
    ckpts.zipWithIndex.foreach { case ((o, r), i) =>
      if (o - last >= splitBytes && o < size) { bounds += ((o, r, i)); last = o }
    }
    if (bounds.isEmpty) Seq(JsonlFilePartition(path, dvs = dvs, eqds = eqds, lin = lin))
    else {
      val starts = (0L, 0L, -1) +: bounds.toSeq
      val zoned = zoneFilters.nonEmpty && segb.size == ckpts.size + 1
      starts.zipWithIndex.flatMap { case ((o, r, idx), i) =>
        val (hi, hiIdx) =
          if (i == starts.size - 1) (Long.MaxValue, ckpts.size)
          else (starts(i + 1)._1, starts(i + 1)._3)
        // this range covers segments (idx+1)..hiIdx
        val keep = !zoned || {
          val segs = ((idx + 1) to hiIdx).map(segb)
          segs.exists { case (lo, h) => lo == Double.MinValue && h == Double.MaxValue } || {
            val lo = segs.map(_._1).min
            val h = segs.map(_._2).max
            zoneFilters.forall(f => JsonlStats.intervalMayMatch(f, lo, h))
          }
        }
        if (keep) Some(JsonlFilePartition(path, o, hi, dvs, startRow = r, eqds = eqds, lin = lin)) else None
      }
    }
  }
}

class JsonlManifestStream(root: String, required: StructType,
                          columnMapping: Map[String, String] = Map.empty,
                          splitBytes: Long = JsonlStats.DefaultSplitBytes,
                          maxFilesPerTrigger: Option[Int] = None,
                          maxBytesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  /** ADMISSION CONTROL (r9c — the Delta `maxFilesPerTrigger` /
    * `maxBytesPerTrigger` shape): a compaction backlog or a catch-up
    * restart lands thousands of manifested files at once, and an
    * uncontrolled source would plan them as ONE micro-batch — one
    * giant stateful step, one giant sink commit. With a limit, each
    * batch admits the next N unseen files (deterministic name order,
    * at least one so progress never stalls), so catch-up is a sequence
    * of bounded, checkpointed, exactly-once steps. AvailableNow (the
    * nightly-drain trigger) freezes its target manifest up front and
    * drains TO that frozen set in limit-sized batches — files landing
    * mid-drain wait for the next run, per the trigger's contract. */
  @volatile private var availableNowTarget: Option[Seq[String]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(JsonlStats.readStats(root).map(_.file).sorted)

  override def getDefaultReadLimit: ReadLimit = (maxFilesPerTrigger, maxBytesPerTrigger) match {
    case (Some(f), None) => ReadLimit.maxFiles(f)
    case (None, Some(b)) => ReadLimit.maxBytes(b)
    case (Some(f), Some(b)) => ReadLimit.compositeLimit(
      Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
    case _ => ReadLimit.allAvailable()
  }

  private def admit(unseen: Seq[String], limit: ReadLimit): Seq[String] = limit match {
    case f: ReadMaxFiles => unseen.take(f.maxFiles())
    case b: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
      // at least one file always admits (a single over-budget file must
      // not stall the stream — Delta's rule). The first-file exemption
      // is positional (review r9c: a budget==max proxy re-granted it
      // after any zero-size prefix — vacuumed-mid-stream debris would
      // over-admit)
      var budget = b.maxBytes()
      var first = true
      unseen.takeWhile { f =>
        val sz = try Files.size(Paths.get(root, f)) catch { case _: Throwable => 0L }
        val ok = first || budget >= sz
        first = false
        budget -= sz
        ok
      }
    case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
      c.getReadLimits.foldLeft(unseen)((u, l) => admit(u, l))
    case _ => unseen
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val all = availableNowTarget.getOrElse(JsonlStats.readStats(root).map(_.file).sorted)
    val seen = start.asInstanceOf[JsonlManifestOffset].files.toSet
    val admitted = admit(all.filterNot(seen), limit)
    JsonlManifestOffset((seen.toSeq ++ admitted).sorted)
  }

  override def reportLatestOffset(): Offset =
    JsonlManifestOffset(JsonlStats.readStats(root).map(_.file).sorted)

  override def initialOffset(): Offset = JsonlManifestOffset(Seq.empty)
  override def latestOffset(): Offset =
    throw new IllegalStateException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")
  override def deserializeOffset(json: String): Offset = JsonlManifestOffset.fromJson(json)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[JsonlManifestOffset].files.toSet
    // DVs as of batch-planning time apply; a file already streamed in
    // an earlier batch never re-emits, so a later DELETE on it is not
    // retracted downstream — append-only source semantics, stated
    val statsOf = JsonlStats.readStats(root).map(s => s.file -> s).toMap
    // equality deletes as of batch-planning time apply too (r9b), under
    // the same already-streamed caveat as DVs
    val eqAll = JsonlEqualityDeletes.readEqDeletes(root, "_stats.jsonl")
    end.asInstanceOf[JsonlManifestOffset].files
      .filterNot(seen)
      .flatMap { f =>
        val path = Paths.get(root, f).toString
        val s = statsOf.get(f)
        val dvs = s.map(_.dvs).getOrElse(Nil).map(d => Paths.get(root, d).toString)
        val eqds = eqAll.filter(d => d.seq > s.map(_.seq).getOrElse(0L))
          .map(d => (Paths.get(root, d.file).toString, d.cols))
        // one oversized arriving file must not become one streaming
        // task: fan out at checkpoint boundaries exactly like the batch
        // planner (r8) — a batch's file set is frozen by its offsets,
        // so splitting is as safe as in batch; files without
        // checkpoints stay whole (the conservative legacy path, and
        // `_pos`/DV reads need them whole anyway)
        val ckpts = s.map(_.ckpts).getOrElse(Nil)
        val size = try Files.size(Paths.get(path)) catch { case _: Throwable => 0L }
        // row lineage (r10): streaming reads serve the same ids as
        // batch — the partition carries the entry's lineage
        val lin = s.map(JsonlStats.Lineage.of).getOrElse(JsonlStats.Lineage())
        if (splitBytes <= 0 || size <= splitBytes || ckpts.isEmpty)
          Seq(JsonlFilePartition(path, dvs = dvs, eqds = eqds, lin = lin): InputPartition)
        else
          JsonlStatsScan.checkpointRanges(path, size, ckpts, splitBytes, dvs, eqds = eqds,
            lin = lin)
      }
      .toArray
  }
  /** Streaming rows carry the four metadata columns APPENDED (r10):
    * the streaming plan has no column-pruning pass, so when a query
    * references a metadata column the exec's output is the relation's
    * output with ALL declared metadata columns appended (in
    * [[JsonlStatsTable.metadataColumns]] order) while the scan still
    * reports the table schema — serving rows wider than the unreferenced
    * output is invisible (by-position access never reads past the
    * plan's arity), and exactly right when metadata IS referenced. The
    * cost is four reader-state fields per row, no data bytes. */
  private val streamSchema = StructType(required.fields ++ Seq(
    StructField(JsonlStats.FileMeta, StringType, nullable = false),
    StructField(JsonlStats.PosMeta, LongType, nullable = false),
    StructField(JsonlStats.RowIdMeta, LongType, nullable = true),
    StructField(JsonlStats.LuvMeta, LongType, nullable = true)))
  override def createReaderFactory(): PartitionReaderFactory =
    new JsonlReaderFactory(streamSchema, columnMapping = columnMapping)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class JsonlManifestOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = {
    val mapper = new ObjectMapper()
    val arr = mapper.createArrayNode()
    files.foreach(arr.add)
    arr.toString
  }
}

object JsonlManifestOffset {
  def fromJson(json: String): JsonlManifestOffset = {
    val n = new ObjectMapper().readTree(json)
    JsonlManifestOffset((0 until n.size()).map(i => n.get(i).asText()))
  }
}

/** A byte range [start, end] of one JSONL file. Owns every line whose
  * first byte lands in (start, end] — plus byte 0 when start == 0.
  * Whole file = (0, Long.MaxValue]. Adjacent ranges share their
  * boundary (range i's end == range i+1's start), which with the
  * ownership rule covers every line exactly once.
  *
  * CHECKPOINT-ALIGNED ranges (r8): when `startRow >= 0`, `start` is a
  * manifest-recorded EXACT line start preceded by `startRow` physical
  * rows — the reader starts parsing at `start` without the
  * discard-through-newline dance, owns lines with first byte in
  * [start, end), and serves `_pos`/DV masking from `startRow` (both
  * impossible on blind byte ranges, which is why those reads used to
  * pin whole-file partitions). */
final case class JsonlFilePartition(file: String, start: Long = 0L,
                                    end: Long = Long.MaxValue,
                                    dvs: Seq[String] = Nil,
                                    startRow: Long = -1L,
                                    eqds: Seq[(String, Seq[String])] = Nil,
                                    lin: JsonlStats.Lineage = JsonlStats.Lineage())
  extends InputPartition

/** A file of a key-grouped layout: every row carries `key` in the
  * table's partition column, so the partition's identity IS the key —
  * what lets Spark align two such tables' groups instead of shuffling. */
final case class JsonlKeyedFilePartition(file: String, key: String,
                                         dvs: Seq[String] = Nil,
                                         intKey: Boolean = false,
                                         eqds: Seq[(String, Seq[String])] = Nil,
                                         lin: JsonlStats.Lineage = JsonlStats.Lineage())
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  // the partition value's type must match the reported transform's
  // result type: identity over a string column -> UTF8String; a bucket
  // transform -> the integer bucket id (r9)
  @transient private lazy val row: InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](if (intKey) key.toInt else UTF8String.fromString(key)))
  override def partitionKey(): InternalRow = row
}

/** Sum-aggregated connector metrics (one value per task, summed for the
  * plan node). Each is a top-level ZERO-ARG class: Spark re-instantiates
  * the metric class reflectively on the driver when aggregating task
  * values for the UI, so a parameterized class silently breaks
  * aggregation (SparkException per query, metric never surfaces). */
class JsonlBloomSkipMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "bloomSkippedRanges"
  override def description(): String = "ranges skipped by bloom sidecar probes"
}

class JsonlBytesReadMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "dataBytesRead"
  override def description(): String = "data-file bytes consumed by readers"
}

class JsonlGramSkipMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "gramSkippedRanges"
  override def description(): String = "ranges skipped by substring gram-index probes"
}

/** Wraps a reader factory so each task emits at most `k` rows — the
  * execution half of LIMIT pushdown (r9c): the reader underneath stops
  * being pulled, so a task over a 1 GB range parses k lines and quits.
  * Metrics delegate (skip counters stay visible on the scan node). */
class LimitedReaderFactory(inner: PartitionReaderFactory, k: Int)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    new PartitionReader[InternalRow] {
      private var emitted = 0
      override def next(): Boolean = emitted < k && r.next()
      override def get(): InternalRow = { emitted += 1; r.get() }
      override def close(): Unit = r.close()
      override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        r.currentMetricsValues()
    }
  }
}

class JsonlReaderFactory(required: StructType,
                         bloomSets: Seq[Array[Long]] = Seq.empty,
                         columnMapping: Map[String, String] = Map.empty,
                         gramRequired: Array[Long] = Array.empty)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case f: JsonlFilePartition =>
      new JsonlPartitionReader(f.file, required, f.start, f.end, bloomSets, f.dvs,
        columnMapping, f.startRow, gramRequired = gramRequired, eqds = f.eqds,
        lin = f.lin)
    case k: JsonlKeyedFilePartition =>
      new JsonlPartitionReader(k.file, required, bloomSets = bloomSets, dvs = k.dvs,
        columnMapping = columnMapping, gramRequired = gramRequired, eqds = k.eqds,
        lin = k.lin)
    case other => throw new IllegalArgumentException(s"unexpected partition $other")
  }
}

/** Streams one byte range of a JSONL file, parsing only the projected
  * fields. Absent or null JSON fields surface as SQL nulls. The
  * `_file`/`_pos` metadata columns are served from reader state (the
  * partition's path and a row counter) — provenance without touching
  * the data bytes; `_pos` is only projected on whole-file partitions
  * (the scan planner guarantees it).
  *
  * Range ownership (class doc on [[JsonlFilePartition]]): a reader at
  * start > 0 first discards through its first newline — that prefix is
  * the previous range's tail — then emits every line starting at byte
  * position ≤ `end`, reading past `end` until the straddling line
  * completes. Line scanning is byte-level on 0x0A (never part of a
  * UTF-8 multi-byte sequence), so a boundary mid-character is safe.
  *
  * Checkpoint-aligned mode (`startRow >= 0`, r8): `start` IS a line
  * start, so nothing is discarded; ownership flips to [start, end) —
  * a line starting exactly at `end` belongs to the next range, whose
  * checkpoint recorded it. The row counter seeds from `startRow`, so
  * `_pos` and the DV mask see true physical positions mid-file. */
class JsonlPartitionReader(file: String, required: StructType,
                           start: Long = 0L, end: Long = Long.MaxValue,
                           bloomSets: Seq[Array[Long]] = Seq.empty,
                           dvs: Seq[String] = Nil,
                           columnMapping: Map[String, String] = Map.empty,
                           startRow: Long = -1L,
                           invertMask: Boolean = false,
                           gramRequired: Array[Long] = Array.empty,
                           eqds: Seq[(String, Seq[String])] = Nil,
                           lin: JsonlStats.Lineage = JsonlStats.Lineage())
    extends PartitionReader[InternalRow] {
  private val mapper = new ObjectMapper()

  /** Equality-delete masks (r9b): the union key set of this file's
    * APPLICABLE delete files (sequence-filtered at planning), grouped
    * by key-column list. Loaded once per task; probing costs one parse
    * the row needed anyway ([[get]] reuses the node). */
  private val eqMasks: Seq[(Seq[String], java.util.HashSet[String])] =
    if (eqds.isEmpty) Nil else JsonlEqualityDeletes.readMasks(eqds)
  private var node: com.fasterxml.jackson.databind.JsonNode = _

  /** Physical JSON field per projected logical column (column mapping,
    * r7c) — resolved once, not per row. */
  private val physName: Array[String] =
    required.fields.map(f => columnMapping.getOrElse(f.name, f.name))

  /** Exists-defaults (r8): the value served when a row PREDATES the
    * column — the JSON field is ABSENT because the file was written
    * before ADD COLUMN ... DEFAULT; an explicitly-written null stays
    * null (the Iceberg/Delta initial-default distinction). DDL
    * restricts defaults to literals, so the stored SQL is a bare
    * number or a quoted string — parsed once here, never per row. */
  private val fieldDefault: Array[Any] = required.fields.map { f =>
    val k = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .EXISTS_DEFAULT_COLUMN_METADATA_KEY
    if (!f.metadata.contains(k)) null
    else {
      val sql = f.metadata.getString(k)
      if (sql == "NULL") null
      else f.dataType match {
        case LongType   => java.lang.Long.valueOf(sql.toLong)
        case DoubleType => java.lang.Double.valueOf(sql.toDouble)
        case StringType =>
          // Canonical convention is catalyst backslash-escaping — both
          // current writers (the DDL capture and the Column round trip)
          // emit it. SQL quote-doubling ('') is decoded only as a
          // LEGACY fallback when the body carries no backslash at all:
          // accepting both conventions simultaneously is ambiguous (a
          // quote-doubled sidecar whose literal contains a real
          // backslash, e.g. 'a\b', would have it consumed → 'ab').
          val body = sql.stripPrefix("'").stripSuffix("'")
          val sb = new java.lang.StringBuilder(body.length)
          var i = 0
          if (body.indexOf('\\') >= 0) {
            while (i < body.length) {
              val c = body.charAt(i)
              if (c == '\\' && i + 1 < body.length) { sb.append(body.charAt(i + 1)); i += 2 }
              else { sb.append(c); i += 1 }
            }
          } else {
            while (i < body.length) {
              val c = body.charAt(i)
              if (c == '\'' && i + 1 < body.length && body.charAt(i + 1) == '\'') {
                sb.append('\''); i += 2
              } else { sb.append(c); i += 1 }
            }
          }
          UTF8String.fromString(sb.toString)
        case _ => null
      }
    }
  }

  /** Deletion-vector mask: physical positions to drop. The planner
    * guarantees the reader knows its physical positions — either the
    * partition is whole-file (pos counts from 0) or checkpoint-aligned
    * (pos seeds from the manifest-recorded `startRow`). */
  private val deleted: java.util.HashSet[java.lang.Long] =
    if (dvs.isEmpty) null else JsonlDeleteVectors.readDvPositions(dvs)

  /** Checkpoint-aligned range: `start` is an exact line start. */
  private val exactStart = startRow >= 0

  /** TASK-time bloom skip: before touching the data bytes, probe the
    * file's bloom sidecar with each pushed equality's hash set (ANDed
    * across predicates, any-of within an IN). A definite miss skips
    * the parse of this whole range — the residual filter would have
    * dropped every row anyway. Byte-range splits of one file all probe
    * the same whole-file sidecar (a bloom covers the file, so any of
    * its ranges may skip). Sidecar absent → read normally. */
  private val bloomSkipped: Boolean = bloomSets.nonEmpty && {
    Bloom.readSidecar(Paths.get(file)) match {
      case Some((words, mBits)) =>
        val skip = !bloomSets.forall(_.exists(h => Bloom.mightContain(words, mBits, h)))
        if (skip) Bloom.skippedFiles.increment()
        skip
      case None => false
    }
  }

  /** TASK-time substring gram skip (r9): one ABSENT gram of a pushed
    * needle proves no row value of this file contains the needle — the
    * whole range's parse is skipped. Same stance as the bloom probe:
    * whole-file sidecar, any range of the file may skip, absent sidecar
    * means read normally (files appended after the index was declared
    * gain sidecars from their own writers; files that predate
    * `build_gram_index` backfill get them there). */
  private val gramSkipped: Boolean = !bloomSkipped && gramRequired.nonEmpty && {
    Bloom.readGramSidecar(Paths.get(file)) match {
      case Some((words, mBits)) =>
        val skip = !gramRequired.forall(h => Bloom.mightContain(words, mBits, h))
        if (skip) Bloom.gramSkippedFiles.increment()
        skip
      case None => false
    }
  }

  /** Any sidecar probe that proved this range irrelevant. */
  private val indexSkipped: Boolean = bloomSkipped || gramSkipped

  private val in =
    if (indexSkipped) null else Files.newInputStream(Paths.get(file))
  private val filePath = UTF8String.fromString(file)
  // block-buffered line scanner (r16, guide §4/§6): the old reader
  // pulled one byte per virtual in.read() call and copied it through a
  // ByteArrayOutputStream — two megamorphic calls PER BYTE on the path
  // every graft-table scan rides. This scanner reads 64 KiB blocks and
  // memchr-scans for '\n'; a line fully inside the block is served as a
  // zero-copy slice (valid until the next readLine, which Spark's
  // next()/get() discipline guarantees), only block-spanning lines copy
  // into the scratch buffer. Byte accounting (bpos) is unchanged.
  private val rbuf = new Array[Byte](1 << 16)
  private var rlen = 0
  private var rpos = 0
  private val lineScratch = new java.io.ByteArrayOutputStream(256)
  // current line slice (set by readLine)
  private var lineBytes: Array[Byte] = _
  private var lineOff = 0
  private var lineLen = 0
  private var bpos = 0L   // byte position of the next unread byte
  // dense physical row index: 0-based from file start on whole-file
  // partitions, seeded from the manifest checkpoint on exact ranges
  private var pos = if (exactStart) startRow - 1 else -1L

  private def fillBuf(): Boolean = {
    // loop on 0-byte reads (ADVICE r16): a plain FileInputStream never
    // returns 0 for a non-empty buffer, but a wrapped stream
    // (compression, throttling) may — treating 0 as EOF would silently
    // truncate the scan mid-file. Only a genuine -1 terminates.
    rlen = in.read(rbuf)
    while (rlen == 0) rlen = in.read(rbuf)
    rpos = 0
    rlen > 0
  }

  locally {
    var toSkip = if (indexSkipped) 0L else start
    var eof = false
    while (toSkip > 0 && !eof) {
      val n = in.skip(toSkip)
      if (n > 0) { toSkip -= n; bpos += n }
      // skip() may return 0 before EOF; fall back to read()
      else if (in.read() >= 0) { toSkip -= 1; bpos += 1 }
      else eof = true
    }
    // exact ranges start AT a line start — nothing to discard
    if (!indexSkipped && !exactStart && start > 0 && !eof) discardThroughNewline()
  }

  private def discardThroughNewline(): Unit = {
    while (true) {
      if (rpos >= rlen && !fillBuf()) return
      var p = rpos
      while (p < rlen && rbuf(p) != '\n') p += 1
      bpos += p - rpos
      if (p < rlen) { bpos += 1; rpos = p + 1; return }
      rpos = rlen
    }
  }

  /** Scan the next line into [[lineBytes]]/[[lineOff]]/[[lineLen]]
    * (trailing newline consumed, not included); false at EOF. Advances
    * [[bpos]] to the following line's start. */
  private def readLine(): Boolean = {
    var spanning = false
    while (true) {
      if (rpos >= rlen) {
        if (!fillBuf()) {
          if (!spanning || lineScratch.size() == 0) return false
          // final line without a trailing newline
          lineBytes = lineScratch.toByteArray; lineOff = 0; lineLen = lineBytes.length
          return true
        }
      }
      var p = rpos
      while (p < rlen && rbuf(p) != '\n') p += 1
      if (p < rlen) {
        val segLen = p - rpos
        bpos += segLen + 1
        if (!spanning) { lineBytes = rbuf; lineOff = rpos; lineLen = segLen }
        else {
          lineScratch.write(rbuf, rpos, segLen)
          lineBytes = lineScratch.toByteArray; lineOff = 0; lineLen = lineBytes.length
        }
        rpos = p + 1
        return true
      }
      // line continues past the block: spill the segment and refill
      if (!spanning) { lineScratch.reset(); spanning = true }
      lineScratch.write(rbuf, rpos, rlen - rpos)
      bpos += rlen - rpos
      rpos = rlen
    }
    false // unreachable
  }

  /** Parse the current line slice — UTF-8 bytes straight into Jackson,
    * no intermediate String decode. */
  private def parseLine(): com.fasterxml.jackson.databind.JsonNode = {
    val p = mapper.getFactory.createParser(lineBytes, lineOff, lineLen)
    try mapper.readTree[com.fasterxml.jackson.databind.JsonNode](p)
    finally p.close()
  }

  override def next(): Boolean = {
    if (indexSkipped) return false
    var found = false
    var eof = false
    while (!found && !eof) {
      // ownership: (start, end] on blind ranges, [start, end) on exact
      // ones (a line starting AT `end` is the next range's checkpoint)
      if (if (exactStart) bpos >= end else bpos > end) eof = true
      else if (!readLine()) eof = true
      else {
        // skip blank lines (they advance bpos but carry no row); a
        // lone \r (CRLF feed) is blank too
        if (lineLen > 0 && !(lineLen == 1 && lineBytes(lineOff) == '\r')) {
          pos += 1
          // DV mask: pos counts every physical line (so positions stay
          // stable across deletes), masked rows are simply not emitted.
          // INVERTED mode (r8, the streaming change feed's delete leg)
          // emits ONLY the masked positions — the before-images of the
          // rows a DV commit deleted.
          val masked = deleted != null && deleted.contains(pos)
          if (if (invertMask) masked else !masked) {
            if (eqMasks.isEmpty) { node = null; found = true }
            else {
              // key-equality mask: parse (get() reuses the node) and
              // drop the row iff some applicable delete names its key
              val n = parseLine()
              val eqMasked = eqMasks.exists { case (cols, set) =>
                set.contains(JsonlEqualityDeletes.canonicalKey(n, cols)) }
              if (!eqMasked) { node = n; found = true }
            }
          }
        }
      }
    }
    found
  }

  /** Row-lineage run lookup (r10): rows are emitted in increasing
    * physical position, so the run cursor only ever advances — O(1)
    * amortized per row where a find() would be O(runs) (a bin-packed
    * compaction product holds one run per member). Returns the run
    * index covering `pos`, or -1 (gap / no runs → in-row fallback). */
  private val linRuns: Array[(Long, Long, Long, Long)] = lin.runs.sortBy(_._1).toArray
  private var linIdx = 0
  private def linRunAt(p: Long): Int = {
    if (linRuns.isEmpty) return -1
    while (linIdx < linRuns.length && p >= linRuns(linIdx)._1 + linRuns(linIdx)._3) linIdx += 1
    if (linIdx < linRuns.length && p >= linRuns(linIdx)._1) linIdx else -1
  }

  // per-field dispatch resolved ONCE (r16): the old get() re-zipped the
  // schema and string-compared every field name against the four
  // metadata names PER ROW — this is the row-materialization loop of
  // every graft-table scan
  private val fieldKind: Array[Int] = required.fields.map { f =>
    if (f.name == JsonlStats.FileMeta) 0
    else if (f.name == JsonlStats.PosMeta) 1
    else if (f.name == JsonlStats.RowIdMeta) 2
    else if (f.name == JsonlStats.LuvMeta) 3
    else 4
  }
  private val fieldTypes: Array[org.apache.spark.sql.types.DataType] =
    required.fields.map(_.dataType)

  override def get(): InternalRow = {
    val n = if (node != null) node else parseLine()
    val out = new Array[Any](fieldKind.length)
    var fi = 0
    while (fi < fieldKind.length) {
      out(fi) = fieldKind(fi) match {
        case 0 => filePath
        case 1 => pos
        case 2 => rowIdValue(n)
        case 3 => luvValue(n)
        case _ =>
          val v = n.get(physName(fi))
          if (v == null) fieldDefault(fi) // absent field: row predates the column
          else if (v.isNull) null         // written null stays null
          else parseJson(fieldTypes(fi), v)
      }
      fi += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  private def rowIdValue(n: com.fasterxml.jackson.databind.JsonNode): Any = {
    // row lineage (r10): manifest arithmetic first (frid + pos /
    // concat runs via the monotone cursor), in-row materialized
    // field for scattering rewrites, NULL when never assigned
    val ri = linRunAt(pos)
    if (lin.frid >= 0L) java.lang.Long.valueOf(lin.frid + pos)
    // luv-only run (r12): firstId = -1 means ids are IN-ROW — the
    // run exists only to back null-luv rows' versions
    else if (ri >= 0 && linRuns(ri)._2 >= 0L)
      java.lang.Long.valueOf(linRuns(ri)._2 + (pos - linRuns(ri)._1))
    else {
      val v = n.get(JsonlStats.RowIdMeta)
      if (v != null && !v.isNull) java.lang.Long.valueOf(v.asLong()) else null
    }
  }

  private def luvValue(n: com.fasterxml.jackson.databind.JsonNode): Any = {
    val ri = linRunAt(pos)
        if (lin.frid >= 0L) java.lang.Long.valueOf(lin.luv)
        else if (ri >= 0 && linRuns(ri)._2 >= 0L) java.lang.Long.valueOf(linRuns(ri)._4)
        else {
          val v = n.get(JsonlStats.LuvField)
          if (v != null && !v.isNull) java.lang.Long.valueOf(v.asLong())
          else {
            // entry-luv fallback (r11): a materialized row whose id is
            // in-row but whose `_luv` is null was (re)written by the
            // commit that published THIS entry — copy-on-write UPDATE
            // images (Spark nullifies `_luv` on update; the commit
            // stamps the entry). Gated on a non-null in-row id so
            // unassigned rows keep serving NULL. r12: a luv-only run
            // (firstId = -1) carries the same fallback through
            // compaction bins that replaced the stamped entry.
            val back =
              if (ri >= 0 && linRuns(ri)._2 == -1L) linRuns(ri)._4
              else if (lin.frid == -2L) lin.luv
              else 0L
            val rid = n.get(JsonlStats.RowIdMeta)
            if (back > 0L && rid != null && !rid.isNull)
              java.lang.Long.valueOf(back)
            else null
      }
    }
  }

  /** Recursive JSON decoding (r11): scalars, typed arrays (r10) and
    * STRUCTS compose arbitrarily — the read twin of the sink's
    * `jsonOf`. Float/double elements round-trip EXACTLY: the writer
    * printed the shortest decimal that reparses to the same value, so
    * `floatValue()` here is the identity — embeddings stored in the
    * table format compute bit-identical cosines to parquet. A struct
    * field ABSENT from the object (schema evolution: the row predates
    * ADD COLUMN on the nested type) reads as null, like a written
    * null — nested exists-defaults are not modeled. */
  private def parseJson(dt: org.apache.spark.sql.types.DataType,
                        v: com.fasterxml.jackson.databind.JsonNode): Any = dt match {
    case LongType   => v.asLong()
    case DoubleType => v.asDouble()
    case org.apache.spark.sql.types.FloatType => v.floatValue()
    case StringType => UTF8String.fromString(v.asText())
    case BooleanType => v.asBoolean()
    // temporal types (r11): epoch micros / epoch days, verbatim
    case org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => v.asLong()
    case org.apache.spark.sql.types.DateType => v.asInt()
    case dt: org.apache.spark.sql.types.DecimalType =>
      org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(v.asText()), dt.precision, dt.scale)
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      val m = v.size()
      val out = new Array[Any](m)
      var j = 0
      while (j < m) {
        val e = v.get(j)
        out(j) = if (e == null || e.isNull) null else parseJson(et, e)
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    case st: org.apache.spark.sql.types.StructType =>
      val out = new Array[Any](st.fields.length)
      var j = 0
      while (j < st.fields.length) {
        val e = v.get(st.fields(j).name)
        out(j) = if (e == null || e.isNull) null else parseJson(st.fields(j).dataType, e)
        j += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    // string-keyed maps (r11): JSON object → Catalyst map, field order
    // preserved (insertion order both ways — Jackson ObjectNode and
    // the writer's map iteration agree)
    case org.apache.spark.sql.types.MapType(StringType, vt, _) =>
      val ks = scala.collection.mutable.ArrayBuffer.empty[Any]
      val vs = scala.collection.mutable.ArrayBuffer.empty[Any]
      val it = v.fields()
      while (it.hasNext) {
        val e = it.next()
        ks += UTF8String.fromString(e.getKey)
        vs += (if (e.getValue == null || e.getValue.isNull) null
               else parseJson(vt, e.getValue))
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(ks.toArray),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vs.toArray))
    case dt => throw new IllegalArgumentException(s"unsupported type $dt")
  }

  override def close(): Unit = if (in != null) in.close()

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    import org.apache.spark.sql.connector.metric.CustomTaskMetric
    Array(
      new CustomTaskMetric {
        override def name(): String = "bloomSkippedRanges"
        override def value(): Long = if (bloomSkipped) 1L else 0L
      },
      new CustomTaskMetric {
        override def name(): String = "gramSkippedRanges"
        override def value(): Long = if (gramSkipped) 1L else 0L
      },
      new CustomTaskMetric {
        override def name(): String = "dataBytesRead"
        override def value(): Long = if (indexSkipped) 0L else bpos - start
      })
  }
}


package graft.sources

import graft.QueryModule
import graft.ingest.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Paths
import JsonlFixtures._

/** The graft-jsonl-stats connector's vector, gram and nested-data queries:
  * typed embedding columns and cosine/L2 search through per-file vector
  * statistics, substring gram indexes, struct and map columns with their
  * leaf and map-key statistics, temporal types, and the multimodal
  * corpus. Fixtures live in [[JsonlFixtures]].
  */
object JsonlNestedQueries extends QueryModule {

  /** q239 (r9): SUBSTRING GRAM-INDEX SCAN — `LIKE '%needle%'` file
    * skipping over text, the needle-in-100-TB-of-text path. The pushed
    * `StringContains` becomes a set of required 5-gram hashes at
    * planning; each TASK probes its file's gram sidecar and skips the
    * whole parse when any gram is absent (planning stays
    * manifest-only — the bloom stance). On this layout 7 of 8 files
    * skip (proven by the gramSkippedRanges law in JsonlStatsSpec);
    * value-bounds skipping can never serve this predicate because no
    * ranged column appears in it. False positives degrade to a parse,
    * false negatives are impossible — results stay exact, which is
    * what the oracle checks. */
  def gramIndexScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureGramFixture(spark, d)
    spark.read.format("graft-jsonl-stats").option("path", dir).load()
      .filter($"text".contains("xqzgramneedle"))
      .agg(count(lit(1)).as("n"), sum($"doc_id").as("id_sum"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
  }

  /** q264 (r9c): INDEXED CONTAMINATION AUDIT — the benchmark-
    * membership probe at corpus scale, composed from two tiers: the
    * curation question is q100's ("do any benchmark strings appear in
    * the training corpus?"), the access path is q239's gram index.
    * Each probe phrase becomes `LIKE '%phrase%'` whose gram hashes
    * prune task ranges BEFORE parsing, so auditing K probes against
    * 100 TB of text costs K × (sidecar reads + the hit files' parses)
    * — most probes are absent and touch no text at all (no false
    * negatives by construction; SCALING.md's GramBench measured the byte law).
    * Results exact by oracle; the absent probe pins that pruning
    * never fabricates a miss. */
  def indexedContamination(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureGramFixture(spark, d)
    val probes = Seq("merge batch part", "customer query line",
      "window spark order", "zzqq absent probe")
    probes.map { p =>
      spark.read.format("graft-jsonl-stats").option("path", dir).load()
        .filter($"text".contains(p))
        .agg(count(lit(1)).as("n_docs"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
        .select(lit(p).as("probe"), $"n_docs", $"min_id", $"max_id")
    }.reduce(_ unionAll _).orderBy($"probe")
  }

  /** q269 (r10): TYPED COLUMNS — the table format stores the north
    * star's data model, not just scalars: `array<float>` embeddings
    * and booleans round-trip through the JSONL protocol with EXACT
    * element fidelity (the writer prints the shortest decimal that
    * reparses to the same float; the reader parses it back as float —
    * identity by construction). The oracle recomputes an integer
    * element checksum + dimension counts from the raw parquet, so any
    * drift in any element of any vector fails the hash. Array columns
    * carry no stats (absent = never pruned — conservative), and every
    * table-format capability (lineage, MoR, time travel, refs)
    * composes with them unchanged. */
  def typedColumnsRoundtrip(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val per = embTable(spark, d)
      .select($"vec_id", $"is_even",
        size($"embedding").as("dims"),
        aggregate(transform($"embedding", e => floor(e.cast("double") * 64)),
          lit(0L), (acc, v) => acc + v).as("csum"))
    per.groupBy($"is_even")
      .agg(count(lit(1)).as("n"),
        sum($"dims").as("dims_sum"),
        sum($"csum").as("csum_sum"))
      .orderBy($"is_even")
  }

  /** q270 (r10): COSINE TOP-K THROUGH THE TABLE FORMAT — q33's exact
    * brute-force ANN (decimal-summed dots, broadcast query side) with
    * the corpus read from the CONNECTOR instead of parquet, against
    * q33's own parquet-derived oracle. Passing means the stored floats
    * are bit-identical through the format — the vector tier and the
    * table tier compose: embeddings live in a table with lineage,
    * merge-on-read upserts and time travel, and the similarity stack
    * runs on it unchanged. */
  def connectorCosineTopk(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import graft.ext.SimilarityMath.{dotDec, normDec, nQueries, topK}
    val emb = embTable(spark, d).select($"vec_id", $"embedding")
    val q = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qv"), normDec($"embedding").as("qn"))
    val c = emb
      .select($"vec_id".as("vid"), $"embedding".as("cv"), normDec($"embedding").as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"cosine".desc, $"vid")
    c.join(org.apache.spark.sql.functions.broadcast(q), $"qid" =!= $"vid")
      .withColumn("cosine", dotDec($"qv", $"cv") / ($"qn" * $"cn"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= topK)
      .select($"qid", $"vid", round($"cosine", 6).as("cosine"), $"rnk")
      .orderBy($"qid", $"rnk")
  }

  /** q273 (r11): STRUCT COLUMNS — the table format stores NESTED
    * types: a `{meta{lang,src}, n_chars, head, scores[]}` struct
    * column (the multimodal corpus shape — text + metadata + vector in
    * ONE typed column) round-trips the JSONL protocol exactly. The
    * oracle recomputes every projected nested field from raw parquet,
    * so any drift in any field of any row fails the hash; the float
    * checksum (`floor(scores[0]*64)` — exact because /64 only shifts
    * the float exponent) fails on last-ulp array drift. At 100 TB the
    * struct is one JSON object per row in the column's slot: no extra
    * files, no shredding pass, and every table-format tier (lineage,
    * MoR, time travel, refs) composes with it unchanged (q274). */
  def structColumnsRoundtrip(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    Tables.documents(spark, d).createOrReplaceTempView("documents_struct_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_docs_struct")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_docs_struct TBLPROPERTIES ('statsColumn'='doc_id') AS
         |SELECT doc_id,
         |  named_struct(
         |    'meta', named_struct('lang', lang, 'src', source),
         |    'n_chars', n_chars,
         |    'head', substring(text, 1, 16),
         |    'scores', array(cast(cast(n_chars AS float) / 64 AS float),
         |                    cast(doc_id % 7 AS float))) AS doc
         |FROM documents_struct_src ORDER BY doc_id""".stripMargin)
    spark.sql(
      s"""SELECT doc_id, doc.meta.lang AS lang, doc.meta.src AS src,
         |  doc.n_chars AS n_chars, doc.head AS head,
         |  CAST(floor(doc.scores[0] * 64) + doc.scores[1] AS BIGINT) AS sc
         |FROM $cat.jsonl_docs_struct WHERE doc_id % 11 = 0
         |ORDER BY doc_id""".stripMargin)
  }

  /** q274 (r11): STRUCT LINEAGE MAINTENANCE — q266's law on a
    * struct-bearing table: after two more commits, a bin-packing
    * COMPACT (byte concat — nested bytes untouched) and a ZORDER
    * re-cluster (rows scatter THROUGH the sink, which must re-encode
    * the struct and materialize ids in-row beside it), every row still
    * answers its ingest-assigned (`_row_id`, version) AND its nested
    * fields verbatim. This is what "multimodal composes with the table
    * tier" means operationally: maintenance never corrupts or drops a
    * nested column. */
  def structLineageMaintenance(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    Tables.documents(spark, d).createOrReplaceTempView("documents_struct_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_struct_mx")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_struct_mx TBLPROPERTIES ('statsColumn'='doc_id') AS
         |SELECT doc_id, n_chars,
         |  named_struct('lang', lang, 'head', substring(text, 1, 16)) AS doc
         |FROM documents_struct_src WHERE doc_id % 3 = 1 ORDER BY doc_id""".stripMargin)
    spark.sql(s"INSERT INTO $cat.jsonl_struct_mx VALUES " +
      "(99000001, 4, named_struct('lang', 'xx', 'head', 'tail'))")
    spark.sql(s"INSERT INTO $cat.jsonl_struct_mx VALUES " +
      "(99000002, 5, named_struct('lang', 'yy', 'head', 'tail2'))")
    spark.sql(s"CALL $cat.compact('jsonl_struct_mx', ${64L * 1024 * 1024})")
    spark.sql(s"CALL $cat.zorder('jsonl_struct_mx', 'n_chars', 'doc_id', ${64L * 1024 * 1024})")
    spark.sql(
      s"""SELECT doc_id, doc.lang AS lang, doc.head AS head,
         |  _row_id AS row_id, _last_updated_version AS last_v
         |FROM $cat.jsonl_struct_mx ORDER BY doc_id""".stripMargin)
  }

  /** q277 (r11): TEMPORAL TYPES IN THE TABLE FORMAT — timestamps and
    * dates are REAL types at the format layer (epoch micros / epoch
    * days, exact), not ISO strings: the reference's own event
    * timestamps land typed, `to_date` needs no cast, and a time-window
    * predicate prunes FILES at planning (the epoch bounds live in the
    * same numeric stats map as every long column — TypedColumnsSpec
    * pins the planned-file law). The DECIMAL(18,6) measure round-trips
    * as plain text and sums exactly. The oracle recomputes the window
    * aggregate from raw parquet in DuckDB — micros, calendar days and
    * the decimal sum must all agree bit-for-bit. At 100 TB this is the
    * nightly time-slice query reading one day's files, not the table. */
  def temporalWindowScan(spark: SparkSession, d: String): DataFrame = {
    val t = spark.read.format("graft-jsonl-stats")
      .option("path", ensureTemporalFixture(spark, d)).load()
    t.createOrReplaceTempView("events_temporal")
    spark.sql(
      """SELECT CAST(day AS STRING) AS day_s, count(*) AS n,
        |  CAST(SUM(value_dec) AS DOUBLE) AS value_sum,
        |  min(unix_micros(ts)) AS first_us
        |FROM events_temporal
        |WHERE ts >= TIMESTAMP'2024-01-10 00:00:00'
        |  AND ts <  TIMESTAMP'2024-01-17 00:00:00'
        |GROUP BY day ORDER BY day_s""".stripMargin)
  }

  /** q278 (r11, predicate-derived since r12): VECTOR FILE STATISTICS —
    * the writer always records per-file `#norm` (L2) and `#cell`
    * (sign-pattern coarse code) stats for float/double arrays, plus
    * (r12) the EXACT 64-bit cell-set bitmap. The LSH-style probe — the
    * query's cell plus its Hamming-1 neighbors — is now an ordinary
    * WHERE clause over the `graft_cell` V2 catalog function; the scan
    * builder derives the probe set FROM the pushed predicate
    * ([[JsonlStatsScanBuilder.pushPredicates]]) and plans only the
    * files whose cell SET intersects it — no side-channel scan option,
    * so pruning can never under-cover the filter, and the bitmap makes
    * the prune exact where the r11 interval over-kept straddled files
    * (JsonlStatsSpec pins planned == true cell coverage). The
    * candidates then rank by the exact decimal cosine, so the oracle —
    * which mirrors the cell arithmetic and probe set in DuckDB — is
    * bit-exact. At 100 TB this is the ANN shape that never lists the
    * whole table: cluster by cell at ingest, read the probed cells'
    * files only. */
  def connectorCellProbe(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    import graft.ext.SimilarityMath.{dotDec, normDec}
    val cat = ensureCatalog(spark, d)
    val dir = ensureCellFixture(spark, d)
    val t = spark.table(s"$cat.${Paths.get(dir).getFileName}")
    // the query vector and its cell (one bounded 1-row lookup)
    val q = t.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val qCell = (0 until JsonlStats.VecCellBits)
      .map(i => if (i < q.length && q(i) > 0) 1 << i else 0).sum
    val probes = qCell +: (0 until JsonlStats.VecCellBits).map(i => qCell ^ (1 << i))
    val qv = typedLit(q)
    t.filter(expr(s"$cat.graft_cell(embedding) IN (${probes.mkString(", ")})"))
      .withColumn("cosine", dotDec(qv, $"embedding") / (normDec(qv) * normDec($"embedding")))
      .filter($"cosine" >= 0.15)
      .select($"vec_id", round($"cosine", 6).as("cosine"))
      .orderBy($"vec_id")
  }

  /** q281 (r11): MAP COLUMNS — the reference's `props` bag lands TYPED
    * in the table format (`map<string,bigint>`, the natural JSON-object
    * encoding), so property access is `props['k']`, not a JSON parse
    * per row per query. The oracle recomputes the per-type property
    * sum from the raw JSON strings in DuckDB. At 100 TB: parse the bag
    * ONCE at ingest, never again. */
  def mapColumnScan(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureTable(d, "jsonl_events_props", Map("statsColumn" -> "event_id")) {
      Tables.events(spark, d)
        .select($"event_id", $"event_type",
          from_json($"props",
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.LongType)).as("props"))
        .repartitionByRange(8, $"event_id")
        .sortWithinPartitions($"event_id")
    }
    spark.read.format("graft-jsonl-stats").option("path", dir).load()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(try_element_at($"props", lit("k"))).as("k_sum"))
      .orderBy($"event_type")
  }

  /** q282 (r11): THE MULTIMODAL CORPUS, END TO END — the engine's
    * thesis in one table: documents and their embeddings land as ONE
    * connector table whose row is `{doc_id, n_chars, doc struct{lang,
    * head}, embedding array<float>}` (nested struct + vector in the
    * typed format), a MERGE-ON-READ DELETE quarantines the short docs
    * (positions masked, ids preserved), and the readout is a
    * per-language curation summary over the SURVIVORS — counts, char
    * mass, an exact float checksum of the remaining vectors (any
    * element drift fails the hash), and the lineage invariant
    * `max(_row_id)` proving survivors keep commit-assigned identity
    * through the mutation. The oracle recomputes all of it from the
    * raw parquet pair. At 100 TB this is the curation loop the engine
    * exists for: one typed table, masked deletes, no rewrite, vectors
    * and metadata never separated. */
  def multimodalCorpus(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    Tables.documents(spark, d).createOrReplaceTempView("mm_docs_src")
    Tables.embeddings(spark, d).createOrReplaceTempView("mm_embs_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.jsonl_mm_corpus")
    spark.sql(
      s"""CREATE TABLE $cat.jsonl_mm_corpus TBLPROPERTIES ('statsColumn'='doc_id') AS
         |SELECT d.doc_id, d.n_chars,
         |  named_struct('lang', d.lang, 'head', substring(d.text, 1, 12)) AS doc,
         |  e.embedding
         |FROM mm_docs_src d JOIN mm_embs_src e ON d.doc_id = e.vec_id
         |ORDER BY d.doc_id""".stripMargin)
    // the SQL route (r12): deleteMode is an ALTER TABLE property now —
    // what a SQL-only user can do, not an engine-internal sidecar poke
    spark.sql(s"ALTER TABLE $cat.jsonl_mm_corpus " +
      "SET TBLPROPERTIES ('deleteMode' = 'merge-on-read')")
    spark.sql(s"DELETE FROM $cat.jsonl_mm_corpus WHERE n_chars < 200")
    spark.sql(
      s"""SELECT doc.lang AS lang, count(*) AS n,
         |  sum(n_chars) AS chars,
         |  sum(aggregate(transform(embedding,
         |        e -> CAST(floor(CAST(e AS DOUBLE) * 64) AS BIGINT)),
         |      0L, (acc, v) -> acc + v)) AS vsum,
         |  max(_row_id) AS max_rid
         |FROM $cat.jsonl_mm_corpus
         |GROUP BY doc.lang ORDER BY lang""".stripMargin)
  }

  /** q283 (r11): L2 RADIUS QUERY VIA NORM-BAND PRUNING — the `#norm`
    * twin of q278's cell probe, on a corpus whose norms actually vary
    * (derived exact-eighth vectors, so every distance is an exact
    * multiple of 1/64 and the oracle is integer arithmetic): by the
    * triangle inequality no vector with ‖x‖ outside [‖q‖−r, ‖q‖+r]
    * can sit within distance r of q, so a `graft_norm(emb) BETWEEN`
    * predicate (r12: derived from the PUSHED predicate, not a scan
    * option) prunes a norm-ranged layout down to the band's files
    * before the exact distance filter runs. The band is implied by the
    * d² filter (triangle inequality), so adding it changes no rows —
    * only the planned-file set. At 100 TB this is the radius-query
    * shape for non-normalized embedding spaces (the normalized-space
    * twin is q278). */
  def normBandRadius(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    def vec = array(
      (($"doc_id" % 97).cast("float") / 8f),
      (($"doc_id" % 53).cast("float") / 8f),
      (($"doc_id" % 29).cast("float") / 8f),
      (($"doc_id" % 11).cast("float") / 8f))
    val dir = ensureTable(d, "jsonl_norm_docs", Map("statsColumn" -> "doc_id")) {
      val nrm = sqrt(aggregate(transform(vec, x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, v) => a + v))
      Tables.documents(spark, d)
        .select($"doc_id", vec.as("emb"))
        .repartitionByRange(8, nrm, $"doc_id")
        .sortWithinPartitions($"doc_id")
        .select($"doc_id", $"emb")
    }
    // q = the doc_id = 1 vector = [1/8, 1/8, 1/8, 1/8]; ‖q‖ = 0.25,
    // r = 2 → band [0, 2.25]
    val d2 = aggregate(transform($"emb",
        x => (x.cast("double") - 0.125d) * (x.cast("double") - 0.125d)),
      lit(0.0), (a, v) => a + v)
    val cat = ensureCatalog(spark, d)
    spark.table(s"$cat.${Paths.get(dir).getFileName}")
      .filter(expr(s"$cat.graft_norm(emb) BETWEEN 0.0 AND 2.25"))
      .withColumn("d2", d2)
      .filter($"d2" <= 4.0)
      .select($"doc_id", ($"d2" * 64).cast("long").as("d2_64"))
      .orderBy($"doc_id")
  }

  /** q285 (r12): NESTED LEAF STATISTICS — the multimodal corpus
    * clustered by LANGUAGE, sliced by a nested-field predicate. The
    * writer records numeric/string bounds per pure-struct leaf path
    * (`doc.lang`, `doc.n_chars`) in the same cols/scols maps scalar
    * columns use; a pushed `doc.lang = 'de'` predicate (a dotted
    * FieldReference through the V2 pushdown) prunes the lang-ranged
    * layout to the language's files at PLANNING time
    * (TypedColumnsSpec pins the planned-file fraction). This closes
    * the r11 residual where struct columns carried no stats at all —
    * at 100 TB the per-language curation slice reads one language's
    * files, not the corpus. The oracle recomputes the slice from raw
    * parquet. */
  def nestedLeafSlice(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = ensureTable(d, "jsonl_mm_bylang", Map("statsColumn" -> "doc_id")) {
      Tables.documents(spark, d)
        .select($"doc_id",
          struct($"lang", struct($"n_chars", $"source").as("meta")).as("doc"))
        .repartitionByRange(8, $"doc.lang", $"doc_id")
        .sortWithinPartitions($"doc.lang", $"doc_id")
    }
    spark.read.format("graft-jsonl-stats").option("path", dir).load()
      .filter($"doc.lang" === "de" && $"doc.meta.n_chars" >= 100)
      .groupBy($"doc.lang".as("lang"), $"doc.meta.source".as("source"))
      .agg(count(lit(1)).as("n"),
        sum($"doc.meta.n_chars").as("chars"),
        min($"doc_id").as("lo_id"), max($"doc_id").as("hi_id"))
      .orderBy($"lang", $"source")
  }

  /** q295 (r13): MAP-KEY FILE STATISTICS — `props['k'] BETWEEN x AND y`
    * prunes FILES at planning. The writer records per-key numeric
    * bounds for string-keyed maps as `<col>.<key>` entries in the same
    * cols map every scalar column uses, plus a `<col>#mk` completeness
    * marker that lets an ABSENT key prune a file outright; Spark's
    * V2ExpressionBuilder cannot translate `GetMapValue`, so the
    * injected [[graft.plans.MapKeyPushdown]] rule rewrites the filter
    * conjunct into the pushable `graft_map_get` V2 catalog function —
    * value-identical (null on missing key) — and the scan derives the
    * interval band FROM the pushed predicate, the r12 contract (never
    * a side-channel option). The layout ranges `uid = user_id % 64`
    * into 8-wide shards, so the pushed band plans exactly the shards
    * it straddles; the readout UNIONS a literal 'plan' row pinning
    * that files were pruned (planned < total), and DuckDB recomputes
    * the slice from the raw source columns. At 100 TB this is the
    * property-bag slice (`props['lang'] = ...`, `props['quality'] >
    * ...`) reading its shard of files instead of the corpus. */
  def mapKeySlice(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.map_props")
    Tables.events(spark, d)
      .selectExpr("event_id", "user_id", "value",
        "CAST((user_id % 64) DIV 8 AS STRING) AS shard")
      .createOrReplaceTempView("map_props_in")
    spark.sql(
      s"""CREATE TABLE $cat.map_props USING `graft-jsonl-stats`
         |PARTITIONED BY (shard)
         |AS SELECT event_id, shard,
         |  map('uid', user_id % 64, 'eid', event_id) AS props
         |FROM map_props_in""".stripMargin)
    val slice = spark.sql(
      s"""SELECT shard, count(*) AS n, sum(props['eid']) AS eid_sum
         |FROM $cat.map_props
         |WHERE props['uid'] >= 8 AND props['uid'] <= 15
         |GROUP BY shard""".stripMargin)
    val total = JsonlStats.readStats(Paths.get(catalogRoot(d), "map_props").toString).size
    val planned = v2Scans(slice)
      .collect { case sc: JsonlStatsScan => sc.toBatch.planInputPartitions().length }.sum
    spark.sql("SELECT 'plan' AS phase, " +
      s"'${if (planned < total) "pruned" else "full"}' AS shard, " +
      "CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS eid_sum")
      .unionAll(slice.selectExpr("'rows' AS phase", "shard", "n", "eid_sum"))
      .orderBy(col("phase"), col("shard"))
  }

  /** q302 (r14): STRING map-key statistics — `props['lang'] = 'de'`,
    * the single most common property-bag predicate in a curation
    * pipeline, prunes FILES at planning. q295 covered numeric map
    * values; the writer now records truncated per-key STRING bounds
    * for MAP<STRING,STRING> columns as `<col>.<key>` entries in the
    * same scols map every string column uses (r8 one-sided truncation
    * laws apply unchanged), under the same `<col>#mk` completeness
    * marker — an ABSENT key still prunes a file outright. The injected
    * [[graft.plans.MapKeyPushdown]] rewrite covers string-valued maps
    * too, and the scan derives v1-style string filters on the dotted
    * key FROM the pushed predicate. The layout ranges `lang` with the
    * shard, so the equality slice plans exactly its shard's files; the
    * 'plan' row pins pruning (planned < total) and DuckDB recomputes
    * the slice from the raw columns. At 100 TB: the language slice of
    * a multilingual corpus reads its band of files, not the corpus. */
  def mapKeyStringSlice(spark: SparkSession, d: String): DataFrame = {
    val cat = ensureCatalog(spark, d)
    spark.sql(s"DROP TABLE IF EXISTS $cat.map_lang")
    Tables.events(spark, d)
      .selectExpr("event_id", "user_id", "value",
        "CAST((user_id % 64) DIV 8 AS STRING) AS shard")
      .createOrReplaceTempView("map_lang_in")
    spark.sql(
      s"""CREATE TABLE $cat.map_lang USING `graft-jsonl-stats`
         |PARTITIONED BY (shard)
         |AS SELECT event_id, shard,
         |  map('lang', concat('l', shard), 'src', concat('s', CAST(event_id % 3 AS STRING))) AS props
         |FROM map_lang_in""".stripMargin)
    val slice = spark.sql(
      s"""SELECT shard, count(*) AS n, count(props['src']) AS n_src
         |FROM $cat.map_lang
         |WHERE props['lang'] = 'l1'
         |GROUP BY shard""".stripMargin)
    val total = JsonlStats.readStats(Paths.get(catalogRoot(d), "map_lang").toString).size
    val planned = v2Scans(slice)
      .collect { case sc: JsonlStatsScan => sc.toBatch.planInputPartitions().length }.sum
    spark.sql("SELECT 'plan' AS phase, " +
      s"'${if (planned < total) "pruned" else "full"}' AS shard, " +
      "CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS n_src")
      .unionAll(slice.selectExpr("'rows' AS phase", "shard", "n", "n_src"))
      .orderBy(col("phase"), col("shard"))
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q239_gram_index_scan" -> gramIndexScan,
    "q264_indexed_contamination" -> indexedContamination,
    "q269_typed_columns_roundtrip" -> typedColumnsRoundtrip,
    "q270_connector_cosine_topk" -> connectorCosineTopk,
    "q273_struct_columns_roundtrip" -> structColumnsRoundtrip,
    "q274_struct_lineage_maintenance" -> structLineageMaintenance,
    "q277_temporal_window_scan" -> temporalWindowScan,
    "q278_connector_cell_probe" -> connectorCellProbe,
    "q281_map_column_scan" -> mapColumnScan,
    "q282_multimodal_corpus" -> multimodalCorpus,
    "q283_norm_band_radius" -> normBandRadius,
    "q285_nested_leaf_slice" -> nestedLeafSlice,
    "q295_map_key_slice" -> mapKeySlice,
    "q302_map_key_string_slice" -> mapKeyStringSlice,
  )

  val oracles = Map(
    "q264_indexed_contamination" ->
      """SELECT probe, n_docs, min_id, max_id FROM (
        |  SELECT 'merge batch part' AS probe, count(*) AS n_docs,
        |    min(doc_id) AS min_id, max(doc_id) AS max_id
        |  FROM documents WHERE text LIKE '%merge batch part%'
        |  UNION ALL
        |  SELECT 'customer query line', count(*), min(doc_id), max(doc_id)
        |  FROM documents WHERE text LIKE '%customer query line%'
        |  UNION ALL
        |  SELECT 'window spark order', count(*), min(doc_id), max(doc_id)
        |  FROM documents WHERE text LIKE '%window spark order%'
        |  UNION ALL
        |  SELECT 'zzqq absent probe', count(*), min(doc_id), max(doc_id)
        |  FROM documents WHERE text LIKE '%zzqq absent probe%'
        |) AS t ORDER BY probe""".stripMargin,
    "q302_map_key_string_slice" ->
      """WITH src AS (
        |  SELECT event_id, CAST((user_id % 64) // 8 AS VARCHAR) AS shard
        |  FROM events)
        |SELECT 'plan' AS phase, 'pruned' AS shard,
        |  CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS n_src
        |UNION ALL
        |SELECT 'rows' AS phase, shard, count(*) AS n, count(*) AS n_src
        |FROM src WHERE shard = '1' GROUP BY shard
        |ORDER BY phase, shard""".stripMargin,
    "q295_map_key_slice" ->
      """WITH src AS (
        |  SELECT CAST((user_id % 64) // 8 AS VARCHAR) AS shard, event_id
        |  FROM events WHERE (user_id % 64) BETWEEN 8 AND 15)
        |SELECT 'plan' AS phase, 'pruned' AS shard,
        |  CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS eid_sum
        |UNION ALL
        |SELECT 'rows' AS phase, shard, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS eid_sum
        |FROM src GROUP BY shard
        |ORDER BY phase, shard""".stripMargin,
    "q285_nested_leaf_slice" ->
      """SELECT lang, source, count(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars,
        |  min(doc_id) AS lo_id, max(doc_id) AS hi_id
        |FROM documents
        |WHERE lang = 'de' AND n_chars >= 100
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "q283_norm_band_radius" ->
      """WITH per AS (
        |  SELECT doc_id,
        |    ((doc_id % 97)/8.0 - 0.125)*((doc_id % 97)/8.0 - 0.125) +
        |    ((doc_id % 53)/8.0 - 0.125)*((doc_id % 53)/8.0 - 0.125) +
        |    ((doc_id % 29)/8.0 - 0.125)*((doc_id % 29)/8.0 - 0.125) +
        |    ((doc_id % 11)/8.0 - 0.125)*((doc_id % 11)/8.0 - 0.125) AS d2
        |  FROM documents)
        |SELECT doc_id, CAST(d2 * 64 AS BIGINT) AS d2_64
        |FROM per WHERE d2 <= 4.0 ORDER BY doc_id""".stripMargin,
    "q282_multimodal_corpus" ->
      """WITH corpus AS (
        |  SELECT d.doc_id, d.lang, d.n_chars, e.embedding,
        |    row_number() OVER (ORDER BY d.doc_id) - 1 AS rid
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |surv AS (SELECT * FROM corpus WHERE n_chars >= 200),
        |vs AS (
        |  SELECT doc_id, CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * 64) AS BIGINT)) AS BIGINT) AS vsum
        |  FROM (SELECT doc_id, unnest(embedding) AS e FROM surv)
        |  GROUP BY doc_id)
        |SELECT s.lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(s.n_chars) AS BIGINT) AS chars,
        |  CAST(sum(v.vsum) AS BIGINT) AS vsum,
        |  CAST(max(s.rid) AS BIGINT) AS max_rid
        |FROM surv s JOIN vs v ON s.doc_id = v.doc_id
        |GROUP BY s.lang ORDER BY s.lang""".stripMargin,
    "q281_map_column_scan" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(regexp_extract(props, '-?[0-9]+', 0) AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q278_connector_cell_probe" ->
      s"""WITH ${graft.ext.SimilarityMath.normsCte},
         |cells AS (
         |  SELECT vec_id, embedding,
         |    ${graft.ext.SimilarityMath.vecCellSql("embedding")} AS cell
         |  FROM embeddings),
         |qr AS (SELECT embedding AS qv, cell AS qc FROM cells WHERE vec_id = 0),
         |probes AS (
         |  SELECT qc AS cell FROM qr
         |  UNION ALL
         |  SELECT xor(qc, (1 << i)) FROM qr,
         |    (SELECT unnest(generate_series(0, ${JsonlStats.VecCellBits - 1})) AS i)),
         |cand AS (
         |  SELECT c.vec_id, c.embedding, q.qv FROM cells c, qr q
         |  WHERE c.cell IN (SELECT cell FROM probes)),
         |dots AS (
         |  SELECT vec_id,
         |    CAST(SUM(CAST(CAST(qv[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
         |      AS DECIMAL(38,25))) AS DOUBLE) AS dot
         |  FROM (SELECT vec_id, embedding, qv,
         |          unnest(generate_series(1, len(embedding))) AS i FROM cand)
         |  GROUP BY vec_id)
         |SELECT d.vec_id, ROUND(d.dot / (nq.nrm * nc.nrm), 6) AS cosine
         |FROM dots d,
         |  (SELECT nrm FROM norms WHERE vec_id = 0) nq
         |JOIN norms nc ON d.vec_id = nc.vec_id
         |WHERE d.dot / (nq.nrm * nc.nrm) >= 0.15
         |ORDER BY d.vec_id""".stripMargin,
    "q277_temporal_window_scan" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day_s, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
        |  CAST(min(epoch_us(ts)) AS BIGINT) AS first_us
        |FROM events
        |WHERE ts >= TIMESTAMP'2024-01-10 00:00:00'
        |  AND ts <  TIMESTAMP'2024-01-17 00:00:00'
        |GROUP BY 1 ORDER BY day_s""".stripMargin,
    "q273_struct_columns_roundtrip" ->
      """SELECT doc_id, lang, source AS src, n_chars,
        |  substring(text, 1, 16) AS head,
        |  CAST(n_chars + (doc_id % 7) AS BIGINT) AS sc
        |FROM documents WHERE doc_id % 11 = 0
        |ORDER BY doc_id""".stripMargin,
    "q274_struct_lineage_maintenance" ->
      """WITH base AS (
        |  SELECT doc_id, lang, substring(text, 1, 16) AS head,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS rid
        |  FROM documents WHERE doc_id % 3 = 1)
        |SELECT doc_id, lang, head, CAST(row_id AS BIGINT) AS row_id,
        |  CAST(last_v AS BIGINT) AS last_v FROM (
        |  SELECT doc_id, lang, head, rid AS row_id, 1 AS last_v FROM base
        |  UNION ALL SELECT 99000001, 'xx', 'tail', (SELECT count(*) FROM base), 2
        |  UNION ALL SELECT 99000002, 'yy', 'tail2', (SELECT count(*) FROM base) + 1, 3
        |) AS t ORDER BY doc_id""".stripMargin,
    "q269_typed_columns_roundtrip" ->
      """WITH ex AS (SELECT vec_id, unnest(embedding) AS e FROM embeddings),
        |per AS (
        |  SELECT vec_id,
        |    CAST(count(*) AS BIGINT) AS dims,
        |    CAST(SUM(CAST(FLOOR(CAST(e AS DOUBLE) * 64) AS BIGINT)) AS BIGINT) AS csum
        |  FROM ex GROUP BY vec_id)
        |SELECT (vec_id % 2 = 0) AS is_even, count(*) AS n,
        |  CAST(SUM(dims) AS BIGINT) AS dims_sum,
        |  CAST(SUM(csum) AS BIGINT) AS csum_sum
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q270_connector_cosine_topk" ->
      s"""WITH ${graft.ext.SimilarityMath.normsCte},
         |pairs AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid, q.embedding AS qv, c.embedding AS cv
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < ${graft.ext.SimilarityMath.nQueries}
         |), dots AS (
         |  SELECT qid, vid,
         |    CAST(SUM(CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE) AS DECIMAL(38,25))) AS DOUBLE) AS dot
         |  FROM (SELECT qid, vid, qv, cv, unnest(generate_series(1, len(qv))) AS i FROM pairs)
         |  GROUP BY qid, vid
         |), cosv AS (
         |  SELECT qid, vid, dot / (nq.nrm * nc.nrm) AS cosine
         |  FROM dots JOIN norms nq ON qid = nq.vec_id JOIN norms nc ON vid = nc.vec_id)
         |SELECT qid, vid, ROUND(cosine, 6) AS cosine, rnk FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vid) AS rnk
         |  FROM cosv)
         |WHERE rnk <= ${graft.ext.SimilarityMath.topK}
         |ORDER BY qid, rnk""".stripMargin,
    "q239_gram_index_scan" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < 25 THEN text || ' xqzgramneedle' ELSE text END AS text
        |  FROM documents)
        |SELECT count(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM t WHERE text LIKE '%xqzgramneedle%'""".stripMargin,
  )
}

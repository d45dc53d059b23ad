package graft.ext

import graft.QueryModule
import graft.ingest.{Landing, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup cluster resolution (SURVEY §2.12 [ext]) — the step after pair
  * finding that every dedup pipeline needs and pair lists alone can't
  * give: near-duplication is transitive in effect (A≈B, B≈C ⇒ keep one
  * of {A,B,C}), so the pair graph must be resolved into CONNECTED
  * COMPONENTS and one canonical representative kept per component.
  * Dropping one doc per PAIR instead would over-delete chains.
  *
  * Algorithm (q106): iterative min-label propagation — every node
  * starts labeled with itself; each round every node takes the min of
  * its own and its neighbors' labels; converged when no label changes.
  * This is the standard distributed CC scheme (the Pregel/GraphX
  * formulation; Kiveris et al. 2014 "Connected Components in MapReduce"
  * refine it with small-star/large-star to cut rounds on high-diameter
  * graphs — near-dup clusters are shallow, so plain propagation
  * converges in a handful of rounds). Each round is one equi-join +
  * one min-aggregate: all shuffles are keyed, nothing global.
  *
  * Driver involvement is one COUNT per round (the convergence test) —
  * a scalar, never data. Intermediate labels are persisted per round
  * and explicitly unpersisted when the next round lands (no JVM-life
  * cache leak); the converged labeling is checkpointed to a parquet
  * fixture so re-runs (and the lazy consumers of the returned plan)
  * read the artifact instead of replaying the iteration — the same
  * pattern a production pipeline uses, since the cluster map is
  * exactly what it stores to drive the actual delete pass.
  *
  * Edges are the verified near-dup pairs of q42 (exact n-gram Jaccard
  * >= 0.5), so the oracle can rebuild the identical graph in SQL and
  * resolve it with a recursive min-reachability CTE.
  */
object DedupClusters extends QueryModule {

  private val maxRounds = 20

  /** Connected components of an undirected pair list `(d1, d2)`:
    * returns the converged `(node, lbl)` labeling, lbl = the component's
    * minimum node. Each round does ONE hop of neighbor propagation plus
    * ONE pointer jump (`lbl := lbl(lbl)` — path halving), so label
    * distance-to-minimum shrinks geometrically and convergence is
    * O(log diameter) rounds, not O(diameter): a 200-node chain
    * converges in ~8 rounds where plain propagation needs 199
    * (proven on exactly that graph in DedupClustersSpec). Every step is
    * a keyed join or aggregate; the driver sees one scalar COUNT per
    * round; per-round intermediates are persisted and released when the
    * next round lands. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    val edges = pairs.toDF("d1", "d2")
      .select($"d1".as("src"), $"d2".as("dst"))
      .union(pairs.toDF("d1", "d2").select($"d2".as("src"), $"d1".as("dst")))
      .persist()
    // localCheckpoint (eager) rather than persist: the jump step joins
    // the round's result with ITSELF, so without lineage truncation the
    // logical plan doubles every round — exponential tree growth that
    // OOMs the analyzer long before the data is big. Checkpointing cuts
    // the plan back to a leaf each round; blocks of dereferenced rounds
    // are released by the context cleaner.
    var labels = edges.select($"src".as("node")).distinct()
      .withColumn("lbl", $"node").localCheckpoint()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val prop = edges.join(labels, edges("src") === labels("node"))
        .select(edges("dst").as("node"), labels("lbl"))
      // toDF on both branches mints fresh attribute ids: the checkpointed
      // LogicalRDD keeps its child's ids, so a raw self-referencing union
      // here trips Catalyst's constraint rewrite on duplicate attributes
      val hop = labels.toDF("node", "lbl").union(prop.toDF("node", "lbl"))
        .groupBy($"node").agg(min($"lbl").as("lbl"))
      // pointer jump: adopt the label OF the label when smaller
      val next = hop.as("h")
        .join(hop.select($"node".as("jn"), $"lbl".as("jlbl")).as("j"),
          col("h.lbl") === col("j.jn"), "left")
        .select(col("h.node").as("node"),
          least(col("h.lbl"), coalesce(col("j.jlbl"), col("h.lbl"))).as("lbl"))
        .localCheckpoint()
      val changed = next.as("n")
        .join(labels.as("o"), "node")
        .filter(col("n.lbl") =!= col("o.lbl")).count()
      labels = next
      converged = changed == 0
      round += 1
    }
    require(converged, s"label propagation did not converge in $maxRounds rounds")
    edges.unpersist()
    labels
  }

  /** Converged (node, lbl) labeling of the near-dup pair graph,
    * computed once per fixture dir and checkpointed. Shared with the
    * composite curation pipeline (q108). */
  private[graft] def ccLabels(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val dir = Landing.ensureBuilt(Landing.fixtureDir(d, "dedup_cc_labels")) { out =>
      val labels = connectedComponents(
        Dedup.ngramJaccardPairs(spark, d).select($"d1", $"d2"))
      labels.write.mode("overwrite").parquet(out)
      labels.unpersist()
    }
    spark.read.parquet(dir)
  }

  /** q106: one row per near-dup cluster (size >= 2 by construction —
    * singletons have no edge and need no resolution). */
  def dedupClusters(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    ccLabels(spark, d)
      .groupBy($"lbl".as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        min($"node").as("min_doc"),
        max($"node").as("max_doc"))
      .orderBy($"cluster_rep")
  }

  /** q154: representative SELECTION — the delete-pass driver. q106
    * resolves clusters; production dedup then keeps the BEST member of
    * each cluster, not the min-id one (min-id keeps whichever crawl
    * happened to be fetched first; quality-ranked selection keeps the
    * cleanest copy — the rule C4/RefinedWeb-class pipelines apply).
    * Quality here is the integer lexical-diversity score
    * `n_uniq * 1e6 div n_tokens` (micro-units of q36's uniq_ratio, so
    * ranking is exact, no float ties), tie broken by min doc_id.
    *
    * Scale shape: one aggregate over the cluster labeling
    * (`min(struct(-score, doc))` — map-side combinable, no window sort
    * over content-partitioned data), joined to the per-doc score, which
    * is a map-only scalar pass. The labeling itself is the q106
    * checkpointed artifact. */
  def clusterRepresentatives(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val score = Tables.documents(spark, d)
      .withColumn("toks", split(lower($"text"), " "))
      .select($"doc_id",
        expr("(size(array_distinct(toks)) * 1000000L) div size(toks)").as("score"))
    ccLabels(spark, d).join(score, $"node" === $"doc_id")
      .groupBy($"lbl".as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        min(struct((-$"score").as("ns"), $"doc_id".as("d"))).as("best"),
        sum($"score").as("score_sum"))
      .select($"cluster_rep", $"n_members",
        $"best.d".as("keep_doc"), (-$"best.ns").as("keep_score"),
        ($"score_sum" - -$"best.ns").as("dropped_score_sum"))
      .orderBy($"cluster_rep")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q106_dedup_clusters" -> dedupClusters,
    "q154_cluster_representatives" -> clusterRepresentatives,
  )

  val oracles = Map(
    "q106_dedup_clusters" ->
      """SELECT cluster_rep, COUNT(*) AS n_members,
        |  MIN(node) AS min_doc, MAX(node) AS max_doc
        |FROM (
        |WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i FROM tok)
        |), pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |edges0 AS (
        |  SELECT d1, d2
        |  FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.5
        |), edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM edges0
        |  UNION ALL SELECT d2, d1 FROM edges0
        |), reach(node, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
        |)
        |SELECT MIN(lbl) AS cluster_rep, node FROM reach GROUP BY node
        |) GROUP BY cluster_rep ORDER BY cluster_rep""".stripMargin,
    "q154_cluster_representatives" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-2)) AS i FROM tok)
        |), pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |edges0 AS (
        |  SELECT d1, d2
        |  FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.5
        |), edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM edges0
        |  UNION ALL SELECT d2, d1 FROM edges0
        |), reach(node, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
        |), labels AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node),
        |score AS (
        |  SELECT doc_id,
        |    CAST((len(list_distinct(string_split(lower(text), ' '))) * 1000000)
        |      // len(string_split(lower(text), ' ')) AS BIGINT) AS score
        |  FROM documents),
        |labeled AS (
        |  SELECT l.lbl, l.node, s.score
        |  FROM labels l JOIN score s ON s.doc_id = l.node),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lbl ORDER BY score DESC, node) AS rn
        |  FROM labeled),
        |agg AS (
        |  SELECT lbl, COUNT(*) AS n_members, CAST(SUM(score) AS BIGINT) AS score_sum
        |  FROM labeled GROUP BY lbl)
        |SELECT a.lbl AS cluster_rep, a.n_members, r.node AS keep_doc,
        |  r.score AS keep_score,
        |  a.score_sum - r.score AS dropped_score_sum
        |FROM agg a JOIN ranked r ON r.lbl = a.lbl AND r.rn = 1
        |ORDER BY cluster_rep""".stripMargin,
  )
}

package graft

import graft.ext.{Dedup, DedupClusters}
import org.apache.spark.sql.functions._

/** Laws of the connected-component dedup resolution. */
class DedupClustersSpec extends SparkSpec {

  test("q106: every near-dup edge lands inside one cluster (no split pairs)") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(spark, sfDir).select($"d1", $"d2")
    val clusters = DedupClusters.dedupClusters(spark, sfDir)
    // rebuild the node→rep map from the cluster table via the member range
    // check: join each pair's endpoints to their cluster rows
    val labels = clusters.select($"cluster_rep", $"n_members")
    // direct invariant via the query itself: a pair whose endpoints map to
    // different reps would violate transitivity. Obtain the labeling
    // through the operator (which materializes its own fixture) so the
    // test is self-contained in isolation (ADVICE r4) — not dependent on
    // an earlier test having populated the parquet path.
    val labelMap = DedupClusters.ccLabels(spark, sfDir)
    val split = pairs
      .join(labelMap.withColumnRenamed("node", "d1").withColumnRenamed("lbl", "l1"), "d1")
      .join(labelMap.withColumnRenamed("node", "d2").withColumnRenamed("lbl", "l2"), "d2")
      .filter($"l1" =!= $"l2")
    assert(split.count() === 0)
    // every rep is the minimum member of its own cluster
    assert(clusters.filter($"cluster_rep" =!= $"min_doc").count() === 0)
    // clusters resolve pairs, so every cluster has at least 2 members
    assert(clusters.filter($"n_members" < 2).count() === 0)
    assert(labels.count() === clusters.count())
  }

  test("pointer jumping: a 200-node chain converges within the round cap") {
    import spark.implicits._
    // path graph 0-1-2-…-199: plain one-hop propagation needs 199 rounds,
    // far past the cap — the label-of-label jump must get there in O(log n)
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = DedupClusters.connectedComponents(chain)
    assert(labels.count() === 200)
    assert(labels.filter($"lbl" =!= 0L).count() === 0, "all nodes label to the minimum")
    labels.unpersist()
  }

  test("q154: the kept member maximizes the quality score within its cluster") {
    import spark.implicits._
    val reps = DedupClusters.clusterRepresentatives(spark, sfDir)
    // one row per q106 cluster, same member counts
    val clusters = DedupClusters.dedupClusters(spark, sfDir)
    assert(reps.count() === clusters.count())
    assert(reps.join(clusters, Seq("cluster_rep"))
      .filter(reps("n_members") =!= clusters("n_members")).count() === 0)
    // recompute each member's score independently and check no cluster
    // member beats its keeper (ties break to min doc_id)
    val score = graft.ingest.Tables.documents(spark, sfDir)
      .withColumn("toks", split(lower($"text"), " "))
      .select($"doc_id",
        expr("(size(array_distinct(toks)) * 1000000L) div size(toks)").as("s"))
    val labeled = DedupClusters.ccLabels(spark, sfDir)
      .join(score, $"node" === $"doc_id")
    val beaten = labeled.join(reps, $"lbl" === $"cluster_rep")
      .filter($"s" > $"keep_score" ||
        ($"s" === $"keep_score" && $"node" < $"keep_doc"))
    assert(beaten.count() === 0)
    // dropped mass accounting: keep_score + dropped_score_sum = cluster total
    val total = labeled.groupBy($"lbl").agg(sum($"s").as("tot"))
    assert(reps.join(total, $"cluster_rep" === $"lbl")
      .filter($"keep_score" + $"dropped_score_sum" =!= $"tot").count() === 0)
  }

  test("q106: members across clusters are disjoint and cover all paired docs") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(spark, sfDir)
    val pairedDocs = pairs.select($"d1".as("doc")).union(pairs.select($"d2".as("doc"))).distinct()
    // via the operator, not the raw fixture path — self-contained (ADVICE r4)
    val labelMap = DedupClusters.ccLabels(spark, sfDir)
    assert(labelMap.select("node").distinct().count() === labelMap.count())
    assert(labelMap.count() === pairedDocs.count())
    // a wiped label fixture rebuilds (marker inside the directory)
    val first = DedupClusters.dedupClusters(spark, sfDir).collect().toSeq
    graft.util.Fs.deleteRecursively(graft.ingest.Landing.fixtureDir(sfDir, "dedup_cc_labels"))
    assert(DedupClusters.dedupClusters(spark, sfDir).collect().toSeq === first)
  }
}

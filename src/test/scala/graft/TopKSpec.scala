package graft

import graft.ingest.Tables
import graft.plans.{GraftOps, TopKPerGroupExec}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The native TopKPerGroup operator: row-for-row equivalence with the
  * window-function formulation, plan shape, and edge cases. */
class TopKSpec extends SparkSpec {

  test("native top-k equals the window row_number formulation") {
    import spark.implicits._
    val parts = Tables.part(spark, sfDir)
      .select($"p_brand", $"p_partkey", $"p_name", $"p_retailprice")
    val native = GraftOps.topKPerGroup(parts, Seq("p_brand"),
      Seq("p_retailprice" -> true, "p_partkey" -> false), 3)
    val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc, $"p_partkey")
    val windowed = parts.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).drop("rn")
    assert(native.exceptAll(windowed).isEmpty && windowed.exceptAll(native).isEmpty)
  }

  test("physical plan contains partial and final TopKPerGroupExec, no sort") {
    val parts = Tables.part(spark, sfDir)
    val df = GraftOps.topKPerGroup(parts, Seq("p_brand"),
      Seq("p_retailprice" -> true, "p_partkey" -> false), 3)
    df.collect() // finalize any adaptive re-planning
    def collectNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => collectNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: collectNodes(q.plan)
      case other => other +: other.children.flatMap(collectNodes)
    }
    val nodes = collectNodes(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.executedPlan)
    val topks = nodes.collect { case t: TopKPerGroupExec => t }
    assert(topks.map(_.partial).sorted === Seq(false, true))
    assert(!nodes.exists(_.nodeName.toLowerCase.contains("sort")))
  }

  test("k larger than any group returns every row; k=1 returns one per group") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("b", 5), ("b", 3), ("b", 3)).toDF("g", "v")
    val all = GraftOps.topKPerGroup(df, Seq("g"), Seq("v" -> false), 100)
    assert(all.count() === 5)
    val one = GraftOps.topKPerGroup(df, Seq("g"), Seq("v" -> true), 1)
    assert(one.count() === 2)
    assert(one.filter($"g" === "b").select($"v").as[Int].head() === 5)
  }

  test("property: native top-k == window formulation on random skewed data") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // skewed keys (few groups, heavy repetition) + duplicate values to
    // stress tie-breaking; unique id column provides the total order
    val rowsGen = Gen.listOfN(500, for {
      g <- Gen.chooseNum(0, 7)
      v <- Gen.chooseNum(0, 19)
    } yield (g, v))
    (1L to 5L).foreach { seed =>
      val rows = rowsGen.apply(Gen.Parameters.default, Seed(seed)).get
        .zipWithIndex.map { case ((g, v), id) => (g, v, id.toLong) }
      val df = rows.toDF("g", "v", "id").repartition(13)
      val native = GraftOps.topKPerGroup(df, Seq("g"),
        Seq("v" -> true, "id" -> false), 4)
      val w = Window.partitionBy($"g").orderBy($"v".desc, $"id")
      val windowed = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 4).drop("rn")
      assert(native.exceptAll(windowed).isEmpty && windowed.exceptAll(native).isEmpty,
        s"seed=$seed")
    }
  }

  test("q158: the optimizer rule rewrites the window idiom into the heap operator") {
    import spark.implicits._
    val parts = Tables.part(spark, sfDir)
      .select($"p_brand", $"p_partkey", $"p_retailprice")
    val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc, $"p_partkey")
    val idiom = parts.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3).drop("rnk")
    // the rewrite happened: the optimized plan carries the custom node,
    // the executed plan the partial/final pair, and no sort survives
    val qe = idiom.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution
    assert(qe.optimizedPlan.collect {
      case t: graft.plans.TopKPerGroup => t }.size === 1)
    idiom.collect()
    def collectNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => collectNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: collectNodes(q.plan)
      case other => other +: other.children.flatMap(collectNodes)
    }
    val nodes = collectNodes(qe.executedPlan)
    assert(nodes.collect { case t: TopKPerGroupExec => t }.map(_.partial).sorted
      === Seq(false, true))
    assert(!nodes.exists(_.nodeName.toLowerCase.contains("sort")))
    // and it is semantics-preserving: same rows as the un-rewritten
    // window plan — rank() declines the rewrite and, under this total
    // order (p_partkey breaks ties), ranks exactly as row_number()
    val plain = parts.withColumn("rnk", rank().over(w)).filter($"rnk" <= 3).drop("rnk")
    assert(plain.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.optimizedPlan.collect { case t: graft.plans.TopKPerGroup => t }.isEmpty)
    assert(idiom.exceptAll(plain).isEmpty && plain.exceptAll(idiom).isEmpty)
  }

  test("the SQL window-subquery idiom hits the same rewrite") {
    // Spark has no QUALIFY clause; the SQL spelling of the idiom is the
    // ranked subquery with the rank filtered and dropped outside —
    // which optimizes to the exact Filter-over-Window shape the rule
    // matches, so SQL users get the heap operator too
    Tables.part(spark, sfDir).createOrReplaceTempView("part_v")
    val df = spark.sql(
      """SELECT p_brand, p_partkey, p_retailprice FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk
        |  FROM part_v)
        |WHERE rnk <= 3""".stripMargin)
    val rewritten = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.optimizedPlan
      .collect { case t: graft.plans.TopKPerGroup => t }
    assert(rewritten.size === 1, "the SQL idiom optimizes to the shape the rule matches")
    assert(df.count() > 0)
  }

  test("the rewrite declines unsafe shapes: rank(), surviving rank column, k <= 0") {
    import spark.implicits._
    val parts = Tables.part(spark, sfDir).select($"p_brand", $"p_partkey", $"p_retailprice")
    val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc, $"p_partkey")
    def rewritten(df: org.apache.spark.sql.DataFrame): Boolean =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.optimizedPlan
        .collect { case t: graft.plans.TopKPerGroup => t }.nonEmpty
    // rank() admits >k rows on ties — a fixed-k heap would change results
    val ranked = parts.withColumn("rnk", rank().over(w)).filter($"rnk" <= 3).drop("rnk")
    assert(!rewritten(ranked))
    // the rank column survives into the output — the heap can't produce it
    val kept = parts.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
    assert(!rewritten(kept))
    assert(kept.count() > 0)
    // a degenerate bound stays on the window path (and stays correct: empty)
    val empty = parts.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 0).drop("rnk")
    assert(!rewritten(empty))
    assert(empty.count() === 0)
    // and the safe shape on the SAME session still fires (sanity)
    val safe = parts.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 2).drop("rnk")
    assert(rewritten(safe))
  }

  test("null group keys and null sort values are kept and ordered") {
    import spark.implicits._
    val df = Seq((Some("a"), Some(1)), (None, Some(2)), (None, None), (Some("a"), None))
      .toDF("g", "v")
    val top = GraftOps.topKPerGroup(df, Seq("g"), Seq("v" -> false), 1)
    // one row per group incl. the null group; ASC NULLS FIRST keeps nulls
    assert(top.count() === 2)
    assert(top.filter($"g".isNull).select($"v").first().isNullAt(0))
    assert(top.filter($"g" === "a").select($"v").first().isNullAt(0))
  }
}

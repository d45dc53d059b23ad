package graft.plans

import graft.QueryModule
import graft.ingest.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registered surface for the native [[TopKPerGroup]] operator.
  *
  * q73 is the operator twin of q11's window formulation (top-3 parts per
  * brand by retail price): same rows, no per-partition sort, map-side
  * capped shuffle. The oracle is the QUALIFY/row_number derivation —
  * proving operator ≡ window semantics on identical data.
  */
object TopKQueries extends QueryModule {

  def topPartsNative(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, d)
      .select($"p_brand", $"p_partkey", $"p_name", $"p_retailprice")
    GraftOps.topKPerGroup(parts,
        groupCols = Seq("p_brand"),
        sort = Seq("p_retailprice" -> true, "p_partkey" -> false),
        k = 3)
      .orderBy($"p_brand", $"p_retailprice".desc, $"p_partkey")
  }

  /** The operator where it actually pays: top-3 events per USER — a
    * high-cardinality group (every user is a group) over the fact
    * stream, which is exactly the shape where the map-side k-cap
    * shrinks the exchange (each map partition ships at most k rows per
    * group it saw, vs the window twin shuffling every row and sorting
    * every partition). */
  def topEventsPerUserNative(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, d)
      .select($"user_id", $"event_id", $"event_type", $"value")
    GraftOps.topKPerGroup(ev,
        groupCols = Seq("user_id"),
        sort = Seq("value" -> true, "event_id" -> false),
        k = 3)
      .orderBy($"user_id", $"value".desc, $"event_id")
  }

  /** q158: the WINDOW IDIOM, rewritten by [[WindowTopKRewrite]] — the
    * query is written the way every analyst writes it (`row_number` +
    * filter + drop), and the optimizer substitutes the bounded-heap
    * operator. The oracle runs the same idiom in SQL, so the driver
    * check proves the rewrite is semantics-preserving end-to-end;
    * TopKSpec proves the substitution actually happened in the plan. */
  def topEventsViaRewrite(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"value".desc, $"event_id")
    Tables.events(spark, d)
      .select($"user_id", $"event_id", $"event_type", $"value")
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .drop("rnk")
      .orderBy($"user_id", $"value".desc, $"event_id")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "q73_topk_native" -> topPartsNative,
    "q87_topk_user_events" -> topEventsPerUserNative,
    "q158_topk_rewrite" -> topEventsViaRewrite,
  )

  val oracles = Map(
    "q73_topk_native" ->
      """SELECT p_brand, p_partkey, p_name, p_retailprice
        |FROM part
        |QUALIFY ROW_NUMBER() OVER (
        |  PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) <= 3
        |ORDER BY p_brand, p_retailprice DESC, p_partkey""".stripMargin,
    "q87_topk_user_events" ->
      """SELECT user_id, event_id, event_type, value
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (
        |  PARTITION BY user_id ORDER BY value DESC, event_id) <= 3
        |ORDER BY user_id, value DESC, event_id""".stripMargin,
    "q158_topk_rewrite" ->
      """SELECT user_id, event_id, event_type, value
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (
        |  PARTITION BY user_id ORDER BY value DESC, event_id) <= 3
        |ORDER BY user_id, value DESC, event_id""".stripMargin,
  )
}

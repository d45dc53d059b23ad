package graft

/** Plan-inspection aid: prints `.explain("formatted")` for the named
  * queries (all queries if none named). Usage:
  *   runMain graft.Explain <sfDir> [queryName...]
  * Not part of the driver contract — a development tool for auditing
  * pushdown, broadcast choices, and shuffle counts per SURVEY.md §4.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    val spark = GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      }
    spark.stop()
  }
}

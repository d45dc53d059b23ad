package graft.jobs

import graft.ingest.Landing
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Reference-shaped floor benchmark (BASELINE.md): the recommended bulk
  * batch — 50k user events + 10k nested transactions — through the full
  * ETL (landing JSONL → route → flatten/project → gold CSV) on the
  * reference's own allotment class: 2 cores (`local[2]`; cap the heap
  * with SPARK_DRIVER_MEM=2g to mirror the 2 GB worker).
  *
  *   SPARK_DRIVER_MEM=2g sbt "runMain graft.jobs.EtlFloorBench"
  *
  * The reference ingests such a batch inside a 30 s DAG window; the
  * printed seconds must sit well inside that. Fixture generation is
  * deterministic (seed 42) and written once; only `EtlJob.run` is timed.
  */
object EtlFloorBench {

  private val nEvents = 50000
  private val nTx = 10000
  private val nFiles = 10

  private def writeFixture(landing: String): Unit = Landing.ensureBuilt(landing) { dir =>
    Files.createDirectories(Paths.get(dir))
    val rnd = new scala.util.Random(42)
    val eventTypes = Array("login", "page_view", "click", "search", "add_to_cart")
    val pages = Array("home", "products", "cart", "checkout")
    for (f <- 0 until nFiles) {
      val sb = new StringBuilder
      for (i <- 0 until nEvents / nFiles) {
        val id = f * (nEvents / nFiles) + i
        val et = eventTypes(rnd.nextInt(eventTypes.length))
        sb.append(s"""{"event_id":"e$id","user_id":"u${rnd.nextInt(2000)}","session_id":"s${id / 7}","event_type":"$et","timestamp":"2024-01-01T${"%02d".format(id % 24)}:00:00Z","page":"${pages(rnd.nextInt(pages.length))}","device":"desktop","browser":"ff","ip_address":"10.0.0.1","country":"DE","city":"B"""")
        if (et == "search") sb.append(s""","search_query":"q${rnd.nextInt(100)}"""")
        if (et == "click") sb.append(s""","element_id":"btn-${rnd.nextInt(50)}"""")
        if (et == "add_to_cart") sb.append(s""","product_id":"p${rnd.nextInt(200)}","quantity":${1 + rnd.nextInt(5)}""")
        sb.append("}\n")
      }
      Files.writeString(Paths.get(dir, s"user_events_batch_$f.json"), sb.toString,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      val tb = new StringBuilder
      for (i <- 0 until nTx / nFiles) {
        val id = f * (nTx / nFiles) + i
        val items = (0 until 1 + rnd.nextInt(5)).map { j =>
          s"""{"product_id":"p${rnd.nextInt(200)}","product_name":"P$j","category":"c${rnd.nextInt(10)}","brand":"b${rnd.nextInt(20)}","quantity":${1 + rnd.nextInt(3)},"unit_price":${(100 + rnd.nextInt(9900)) / 100.0}}"""
        }.mkString("[", ",", "]")
        tb.append(s"""{"transaction_id":"t$id","user_id":"u${rnd.nextInt(2000)}","transaction_type":"purchase","timestamp":"2024-01-01T00:00:00Z","status":"completed","payment_method":"card","currency":"USD","line_items":$items,"subtotal":10.0,"tax":1.0,"total":11.0,"billing_address":{"street":"s","city":"x","state":"st","zip_code":"z","country":"US"},"shipping_address":{"street":"s2","city":"y","state":"st","zip_code":"z2","country":"US"}}\n""")
      }
      Files.writeString(Paths.get(dir, s"transaction_events_batch_$f.json"), tb.toString,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
  }

  def main(args: Array[String]): Unit = {
    val base = Paths.get(sys.props("user.dir"), "target", "etl_floor").toString
    val landing = s"$base/landing"
    val gold = s"$base/gold"
    writeFixture(landing)
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val counts = EtlJob.run(spark, landing, gold)
    val sec = (System.nanoTime() - t0) / 1e9
    spark.stop()
    println(s"""{"metric":"etl_floor_sec","value":$sec,"events":$nEvents,"transactions":$nTx,"cores":2,"rows":${counts.values.sum}}""")
  }
}

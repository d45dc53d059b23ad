package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, built by [[GraftSession]] like
  * Bench's and Verify's, on 4 cores. One session per suite (cheap —
  * getOrCreate reuses the JVM-wide session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  /** Smallest driver-generated SF — fast enough for unit tests. */
  val sfDir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // keep the session for sibling suites (same JVM); do not stop
    super.afterAll()
  }
}

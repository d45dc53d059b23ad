package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftops.Bridge

/** Session-conf scoping for engine code that needs a setting for one
  * piece of work only: the work runs on a derived session, so the
  * caller's session never receives the setting. */
object Confs {

  /** A private clone of `spark` (its confs, temp views and functions as
    * of now) with `settings` applied. Nothing set or registered on it
    * reaches `spark`, whichever thread uses either.
    *
    * The clone runs its tasks under the executors' default class
    * loader, the same one for every clone. Spark's codegen cache is
    * keyed by (class loader, source), and a clone with an artifact
    * session of its own gets a new loader on every executor: each
    * clone's tasks would compile again every class the cache holds.
    * A clone takes its artifact isolation from its parent when it is
    * built, hence the intermediate clone with isolation off. The
    * result does not see JARs added to `spark` as session artifacts. */
  def derived(spark: SparkSession, settings: (String, String)*): SparkSession = {
    val shared = Bridge.cloneSession(spark)
    shared.conf.set("spark.sql.artifact.isolation.enabled", "false")
    val s = Bridge.cloneSession(shared)
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}

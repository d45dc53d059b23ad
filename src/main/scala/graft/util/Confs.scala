package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftops.Bridge

/** Session-conf scoping for engine code that needs a setting for one
  * piece of work only. */
object Confs {

  /** Set each of `settings` on the session, run `body`, then in
    * `finally` put every key back to the value it had before, or unset
    * it when it had none. The keys are set on the shared session, so
    * another thread using the same key meanwhile sees the setting and
    * can interleave its own save and restore with this one. */
  def withConfs[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    // `getAll` holds only explicitly set keys; `getOption` would report a
    // registered key's DEFAULT for an unset one, and restoring that
    // would leave the key set
    val set = spark.conf.getAll
    val saved = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

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

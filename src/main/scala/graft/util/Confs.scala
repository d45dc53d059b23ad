package graft.util

import org.apache.spark.sql.SparkSession

/** Session-conf scoping for engine code that needs a setting for one
  * piece of work only: the caller's session comes back exactly as it
  * was, whatever the body does. */
object Confs {

  /** Set each of `settings` on the session, run `body`, then in
    * `finally` put every key back to the value it had before, or unset
    * it when it had none. */
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
}

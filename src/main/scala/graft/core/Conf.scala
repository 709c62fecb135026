package graft.core

import org.apache.spark.sql.SparkSession

/** Scoped session configuration: the one module that saves and restores
  * session conf.
  *
  * Invariant: whatever a scope sets, the caller's session reads back
  * exactly its own values once the scope exits — on every exit path, and
  * for nested scopes too, since each scope restores what the enclosing
  * one had set. Scopes run on the caller's session, never a
  * `newSession()` child: Spark delivers a query's progress events only to
  * listeners of the session that started it, so a child session would
  * hide a scoped stream from the caller's listeners.
  */
object Conf {

  /** Set each `kv` on `spark`'s session conf, run `body`, then restore
    * each key in a `finally`: `set` back to its prior value, or `unset`
    * when it had none. */
  def scoped[A](spark: SparkSession, kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.reverseIterator.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

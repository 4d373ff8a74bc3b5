package graft.core

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Session settings held for the length of a body, safe across
  * overlapping callers. Each (session, key) pair is reference-counted:
  * the first scope to enter saves the session's value, every scope sets
  * its own value on entry, and the last scope to exit — normally or by
  * an exception — restores the saved value. Overlapping scopes that ask
  * for different values see the latest entrant's value while they
  * overlap; once all of them have exited the session reads as it did
  * before the first one entered, whatever order they exit in.
  *
  * Scope only settings that change how a query runs, never what it
  * returns: while a scope is open, every other query on the session
  * runs under it too.
  */
object SessionConf {

  private final class Held(val saved: Option[String]) { var depth = 0 }

  // guarded by `this`; keyed by session identity
  private val held = mutable.HashMap.empty[(SparkSession, String), Held]

  def scoped[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    enter(spark, settings)
    try body finally exit(spark, settings.map(_._1))
  }

  private def enter(spark: SparkSession, settings: Seq[(String, String)]): Unit =
    synchronized {
      settings.foreach { case (k, v) =>
        held.getOrElseUpdate((spark, k), new Held(spark.conf.getOption(k))).depth += 1
        spark.conf.set(k, v)
      }
    }

  private def exit(spark: SparkSession, keys: Seq[String]): Unit =
    synchronized {
      keys.foreach { k =>
        val h = held((spark, k))
        h.depth -= 1
        if (h.depth == 0) {
          held.remove((spark, k))
          h.saved match {
            case Some(v) => spark.conf.set(k, v)
            case None => spark.conf.unset(k)
          }
        }
      }
    }
}

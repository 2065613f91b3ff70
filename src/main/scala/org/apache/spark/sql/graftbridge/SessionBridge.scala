package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic

/** Session-scoped holes beside [[ColumnBridge]], for the same
  * qualified-private access: clone a session, move a frame's plan onto
  * another session, and drain the listener bus. */
object SessionBridge {
  /** A child session sharing the SparkContext, cache and shared state,
    * starting from a copy of `s`'s runtime conf, registered functions
    * and temp views (unlike `newSession()`, which drops all three).
    * Conf set on the clone never reaches `s`. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s logical plan as a frame of session `s`: it is planned and
    * run under `s`'s conf from here on. */
  def rebind(df: DataFrame, s: SparkSession): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)

  /** Block until every listener event posted so far has been delivered. */
  def awaitListeners(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()
}

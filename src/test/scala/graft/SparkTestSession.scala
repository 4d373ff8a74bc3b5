package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

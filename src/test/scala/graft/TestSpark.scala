package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM).
  * Suites run sequentially in that JVM, so a [[graft.obs.QueryProfile]]
  * window in one suite never sees another suite's jobs. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("2", "graft-test")
}

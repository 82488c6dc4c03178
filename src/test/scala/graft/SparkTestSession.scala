package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites (guide: one SparkSession per JVM),
  * pinned to local[4] with 8 shuffle partitions whatever the host has.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(4, 8)
}

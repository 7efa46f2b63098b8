package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared across suites (forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSession("4", "ERROR")
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

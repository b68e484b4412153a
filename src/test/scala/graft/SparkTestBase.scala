package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for suites (one per JVM; sbt forks one JVM for
  * all tests).
  */
object SparkTestBase {
  lazy val spark: SparkSession = Session.build("graft-test", 4)
}

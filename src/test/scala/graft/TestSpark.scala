package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (never stopped — suites may run
  * in parallel inside the forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(8).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  /** The hand-crafted mini Superstore CSV of FIXTURES.md §A1. */
  val superstoreMini: String = "src/test/resources/superstore_mini.csv"
}

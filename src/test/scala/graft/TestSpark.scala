package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (never stopped — suites may run
  * in parallel inside the forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events ts is TIMESTAMP(NANOS)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true") // sorted single-file buckets serve their scan order (Spark self-guards multi-file buckets; BucketedLayoutSpec pins sort-free SMJ + the guard)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  /** The hand-crafted mini Superstore CSV of FIXTURES.md §A1. */
  val superstoreMini: String = "src/test/resources/superstore_mini.csv"
}

package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's local sessions are configured: Bench, Verify,
  * Smoke, Demo, every dev and measurement main and the test harness start
  * from [[builder]], add their own confs and call `getOrCreate()`. */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS` when set, else the machine's count. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` builder with one shuffle partition per core and the
    * confs every graft session needs. */
  def builder(cores: Int = cpus): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events ts is TIMESTAMP(NANOS)
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true") // sorted single-file buckets serve their scan order (Spark self-guards multi-file buckets; BucketedLayoutSpec pins sort-free SMJ + the guard)
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")

  /** `SPARK_GRAFT_CONF="k=v;k=v"`: conf overrides for A/B runs and for
    * oracle checks of a forced gate branch. Unset (the driver's
    * invocation) = the committed defaults. Parsed once: env is immutable
    * per JVM, and the oracle-side renders (LshGate.envConfGet) must read
    * the same map the session was built with. */
  val confOverrides: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }

  /** `b` with [[confOverrides]] applied last, so they win over every conf
    * the caller set. */
  def withOverrides(b: SparkSession.Builder): SparkSession.Builder =
    confOverrides.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Materialize the superstore warehouse NEXT TO the output dir (not
    // inside it — the driver treats every outDir subdirectory as a query
    // result) so the ss_* oracle SQL's absolute read_parquet paths still
    // resolve when the driver replays them in DuckDB.
    val whDir = outDir.stripSuffix("/") + "_wh"
    System.setProperty("graft.wh.dir", whDir)
    // SPARK_GRAFT_CONF lets a builder session oracle-check a GATED branch
    // (e.g. force the bucketed family layouts at sf0.01 with
    // graft.bucketed.minBucketBytes=0) instead of trusting the
    // equal-rows spec pin alone.
    val spark = GraftSession.withOverrides(GraftSession.builder()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Record which ambient overrides (if any) produced this artifact — a
    // forced-gate verify run must be distinguishable from a default-gate
    // one after the fact (both on stderr and durably in the dump dir).
    val ovJson = GraftSession.confOverrides
      .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
    System.err.println(s"[verify] conf overrides: $ovJson")
    Files.writeString(Paths.get(s"$outDir/_conf_overrides.json"), ovJson)
    // sorted: the run order (and thus any cross-query session state) is
    // deterministic round over round, same as Bench
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__WH__", whDir)
        .replace("__IVF__", graft.operators.IvfIndex.indexDirFor(spark, sfDir))
        .replace("__PQ__", graft.operators.PqIndex.indexDir(sfDir)))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

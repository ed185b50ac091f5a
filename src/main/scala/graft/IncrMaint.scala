package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.BucketedLayout

/** Measurement main for the bucketed layouts' incremental maintenance
  * (round 13, VERDICT r12 #1): at a given SF, how does keeping the layout
  * current through [[BucketedLayout.appendDelta]] compare to the full
  * rebuild a source change otherwise forces?
  *
  * Protocol (all on a scratch copy so the shared layouts stay untouched):
  *  1. base source  = lineitem with l_orderkey % 128 != 0  (~99.2%)
  *  2. BUILD        — ensureTable over the base (the one-time layout cost)
  *  3. source ingests the delta (l_orderkey % 128 == 0, ~0.8% — a "daily
  *     batch"), APPEND — appendDelta routes it to its buckets
  *  4. gated-plan check: the orderkey aggregation over the appended
  *     (multi-file-bucket) layout still runs with zero hash exchanges
  *  5. COMPACT      — fold back to one file per bucket
  *  6. REBUILD      — ensureTable over a merged copy (the cost appendDelta
  *     avoids), then merged ≡ rebuilt by a value fingerprint
  *
  * MULTI-CYCLE MODE (round 14, VERDICT r13 #2): `IncrMaint <sfDir> <days>`
  * simulates a deployment's daily loop — N ingest days, each one
  * `appendDelta` + [[BucketedLayout.maintain]] (the files-per-bucket
  * policy decides when to fold, nobody decides "when" by hand) — and
  * proves the ladder COMPOSES over time rather than for one cycle:
  * per day it reports append/maintain/query walls (flat across the
  * ladder), file counts (bounded by the policy), zero-exchange and
  * sort-order plan state, and a value fingerprint against the source
  * (order-insensitive, so fp(layout) == fp(source) IS merged ≡ rebuilt —
  * the rebuild is the source re-bucketed); the final day also runs the
  * true rebuild comparison. One JSON line per day + a summary line;
  * EXPLAIN_r14 carries the table.
  */
object IncrMaint {
  import Maintenance.{timed, fingerprint => fp}

  /** N-day ingest simulation: base = l_orderkey % 128 >= days, day i
    * ingests the % 128 == i slice (~0.78% each). Every day runs the SAME
    * maintenance the deployment would: appendDelta, then maintain() — the
    * files-per-bucket policy decides whether this tick folds. Proof
    * obligations per day: walls flat, files bounded, zero hash exchanges
    * on the gated agg, the sort-order guard in the right state (withheld
    * over delta files, restored after a fold), and value fidelity —
    * fp(layout) == fp(source), which IS "merged ≡ rebuilt" since the
    * rebuild is the source re-bucketed and the fingerprint is order-
    * insensitive. The last day also runs the true rebuild and compares
    * directly. */
  private def multiCycle(spark: SparkSession, sfDir: String, days: Int): Unit = {
    val scratch = s"/root/repo/target/incr_maint"
    val srcA = s"$scratch/a"
    val li = Tables.lineitem(spark, sfDir)
    li.filter(col("l_orderkey") % 128 >= days)
      .write.parquet(s"$srcA/lineitem.parquet")

    val (_, tBuild) = timed {
      BucketedLayout.ensureTable(spark, srcA, "lineitem", "l_orderkey") }
    println(s"""{"day":0,"build_s":${f"$tBuild%.2f"},"files":${
      BucketedLayout.fileCount(spark, srcA, "lineitem", "l_orderkey")}}""")

    for (day <- 0 until days) {
      val delta = li.filter(col("l_orderkey") % 128 === day)
      delta.write.mode("append").parquet(s"$srcA/lineitem.parquet")
      Tables.clearCaches()
      val (name, tAppend) = timed {
        BucketedLayout.appendDelta(spark, srcA, "lineitem", "l_orderkey", delta) }
      val (folded, tMaintain) = timed {
        BucketedLayout.maintain(spark, srcA, "lineitem", "l_orderkey") }
      val files = BucketedLayout.fileCount(spark, srcA, "lineitem", "l_orderkey")
      val maxPerBucket = BucketedLayout.maxFilesPerBucket(
        spark, srcA, "lineitem", "l_orderkey")
      // the layout's reason to exist, timed daily: orderkey-grain agg
      def agg = spark.table(name).groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      val (_, tQuery) = timed {
        agg.agg(count(lit(1)), sum(col("q"))).head } // consume, tiny result
      val plan = agg.queryExecution.executedPlan.toString
      val zeroExchange = !plan.contains("Exchange hashpartitioning")
      // sort-order guard round-trip: the self-join SMJ must re-Sort over
      // delta files (multi-file buckets) and run sort-free after a fold
      val sj = spark.table(name).hint("merge").as("a")
        .join(spark.table(name).as("b"), col("a.l_orderkey") === col("b.l_orderkey"))
      val sortFree = !sj.queryExecution.executedPlan.toString.contains("Sort ")
      // value fidelity vs the live source (== merged ≡ rebuilt, see above)
      val (rowsL, hashL) = fp(spark.table(name))
      Tables.clearCaches()
      // same accessor the layout builder reads through, so the two sides
      // agree on schema/typing and only VALUES are under test
      val (rowsS, hashS) = fp(Tables.table(spark, srcA, "lineitem"))
      println(
        s"""{"day":${day + 1},"append_s":${f"$tAppend%.2f"},""" +
        s""""maintain_s":${f"$tMaintain%.2f"},"folded":${folded.nonEmpty},""" +
        s""""query_s":${f"$tQuery%.2f"},"files":$files,""" +
        s""""max_per_bucket":$maxPerBucket,"zero_exchange":$zeroExchange,""" +
        s""""sort_free":$sortFree,"rows":$rowsL,""" +
        s""""layout_equals_source":${rowsL == rowsS && hashL == hashS}}""")
    }
    // final day: the TRUE rebuild comparison (the original single-cycle
    // oracle shape) — a fresh copy of the merged source, built from
    // scratch, fingerprint-equal to the maintained layout
    val srcB = s"$scratch/b"
    spark.read.parquet(s"$srcA/lineitem.parquet")
      .write.parquet(s"$srcB/lineitem.parquet")
    Tables.clearCaches()
    val (nameB, tRebuild) = timed {
      BucketedLayout.ensureTable(spark, srcB, "lineitem", "l_orderkey") }
    val nameA = BucketedLayout.ensureTable(spark, srcA, "lineitem", "l_orderkey")
    val (rowsA, hashA) = fp(spark.table(nameA))
    val (rowsB, hashB) = fp(spark.table(nameB))
    println(
      s"""{"summary":true,"days":$days,"rebuild_s":${f"$tRebuild%.2f"},""" +
      s""""total_rows":$rowsA,""" +
      s""""merged_equals_rebuilt":${rowsA == rowsB && hashA == hashB}}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val days = if (args.length > 1) args(1).toInt else 1
    val scratch = s"/root/repo/target/incr_maint"
    graft.Fs.deleteTree(java.nio.file.Paths.get(scratch))
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (days > 1) { multiCycle(spark, sfDir, days); spark.stop(); return }

    val li = Tables.lineitem(spark, sfDir)
    val base = li.filter(col("l_orderkey") % 128 =!= 0)
    val delta = li.filter(col("l_orderkey") % 128 === 0)

    // scratch source dirs (the layout address is per source path)
    val srcA = s"$scratch/a"  // build → append → compact
    val srcB = s"$scratch/b"  // merged, full rebuild (the oracle)
    base.write.parquet(s"$srcA/lineitem.parquet")
    val deltaRows = delta.count()

    val (_, tBuild) = timed {
      BucketedLayout.ensureTable(spark, srcA, "lineitem", "l_orderkey") }

    // the "daily ingest": delta lands in the source, then in the layout
    delta.write.mode("append").parquet(s"$srcA/lineitem.parquet")
    Tables.clearCaches()
    val (nameA, tAppend) = timed {
      BucketedLayout.appendDelta(spark, srcA, "lineitem", "l_orderkey", delta) }
    val filesAppended = BucketedLayout.fileCount(spark, srcA, "lineitem", "l_orderkey")

    // the layout's reason to exist survives the delta files: orderkey
    // aggregation with zero hash exchanges over multi-file buckets
    def agg(n: String): DataFrame = spark.table(n)
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    val appendedPlan = agg(nameA).queryExecution.executedPlan.toString
    val zeroExchange = !appendedPlan.contains("Exchange hashpartitioning")

    val ((_, filesCompacted), tCompact) = timed {
      BucketedLayout.compactBuckets(spark, srcA, "lineitem", "l_orderkey") }

    // full rebuild over the merged source — the avoided cost
    spark.read.parquet(s"$srcA/lineitem.parquet")
      .write.parquet(s"$srcB/lineitem.parquet")
    Tables.clearCaches()
    val (nameB, tRebuild) = timed {
      BucketedLayout.ensureTable(spark, srcB, "lineitem", "l_orderkey") }

    // merged ≡ rebuilt: order-insensitive value fingerprint over every
    // column (cheap: one pass each side, no shuffle beyond the final agg)
    val (rowsA, hashA) = fp(spark.table(nameA))
    val (rowsB, hashB) = fp(spark.table(nameB))

    println(
      s"""{"sf_dir":"$sfDir","delta_rows":$deltaRows,"total_rows":$rowsA,""" +
      s""""build_s":${f"$tBuild%.2f"},"append_s":${f"$tAppend%.2f"},""" +
      s""""compact_s":${f"$tCompact%.2f"},"rebuild_s":${f"$tRebuild%.2f"},""" +
      s""""files_after_append":$filesAppended,"files_after_compact":$filesCompacted,""" +
      s""""zero_exchange_after_append":$zeroExchange,""" +
      s""""merged_equals_rebuilt":${rowsA == rowsB && hashA == hashB}}""")
    spark.stop()
  }
}

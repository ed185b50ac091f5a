package graft

import org.apache.spark.sql.functions._

import graft.sources.{HilbertLayout, LayoutMeta, StatsManifest, ZOrderLayout}
import graft.sources.StatsManifest.Range

/** Measurement main for the clustered layouts' recluster policy (round
  * 15, VERDICT r14 #2) — the IncrMaint protocol on the curve side: a
  * deployment's daily loop over the z-order (or Hilbert) lineitem copy,
  * where every tick is `appendDelta` + `maintain` and the point-probe
  * policy decides WHEN to fold the accumulated delta hulls back into the
  * curve.
  *
  * Protocol (scratch copy; base = l_orderkey % 128 >= maxDays, day i
  * ingests the % 128 == i slice, ~0.78%/day):
  *  - per day: append wall, maintain wall + whether the policy folded,
  *    the live point-probe metric vs the recorded floor (the policy's
  *    own signal), the must-read FILE COUNT AND BYTES for a fixed probe
  *    box (partkey ≤ max/8 × shipdate ∈ 1996 — the q74 slice shape)
  *    answered from the manifest, the probe query's wall, and the
  *    layout ≡ source value fingerprint.
  *  - the loop runs until the policy fires, then two more days (the
  *    quiesced state), capped at maxDays.
  *  - finally the TRUE rebuild comparison: a fresh clustered build over
  *    the merged source, fingerprint-equal to the maintained layout.
  *
  * Proof obligations: probe must-read bytes grow with appended deltas
  * (every delta file spans ~the whole plane), the fold RESTORES them to
  * ~the fresh-build floor, appends stay O(delta) vs the rebuild, and
  * values are exact at every rung.
  *
  * Usage: runMain graft.ClusterMaint <sfDir> <maxDays> [z|h]
  */
object ClusterMaint {
  import Maintenance.{timed, fingerprint => fp}

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val maxDays = if (args.length > 1) args(1).toInt else 40
    val curve = if (args.length > 2) args(2) else "z"
    val scratch = "/root/repo/target/cluster_maint"
    graft.Fs.deleteTree(java.nio.file.Paths.get(scratch))
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val layout = if (curve == "h") HilbertLayout else ZOrderLayout

    val li = Tables.lineitem(spark, sfDir)
    val srcA = s"$scratch/a"
    li.filter(col("l_orderkey") % 128 >= maxDays)
      .write.parquet(s"$srcA/lineitem.parquet")
    Tables.clearCaches()

    val (loc, tBuild) = timed { layout.ensure(spark, srcA) }
    val floor0 = LayoutMeta.probeFloor(loc).getOrElse(0.0)
    println(s"""{"day":0,"curve":"$curve","build_s":${f"$tBuild%.2f"},""" +
      s""""files":${StatsManifest.read(loc).get.size},""" +
      s""""floor_mb":${f"${floor0 / 1e6}%.2f"}}""")

    // fixed probe box (the q74 slice shape), stable across the ladder
    val maxPk = li.agg(max(col("l_partkey"))).head().getLong(0)
    val day0 = java.time.LocalDate.of(1996, 1, 1).toEpochDay
    val day1 = java.time.LocalDate.of(1997, 1, 1).toEpochDay
    val preds = Seq(
      Range("l_partkey", None, Some(maxPk / 8)),
      Range("l_shipdate", Some(day0 * 86400L * 1000000L),
            Some(day1 * 86400L * 1000000L - 1)))
    def rowFilter = col("l_partkey") <= lit(maxPk / 8) &&
      col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
      col("l_shipdate") < to_timestamp(lit("1997-01-01"))

    var foldedDay = -1
    var day = 0
    while (day < maxDays && (foldedDay < 0 || day < foldedDay + 2)) {
      val delta = li.filter(col("l_orderkey") % 128 === day)
      delta.write.mode("append").parquet(s"$srcA/lineitem.parquet")
      Tables.clearCaches()
      val (_, tAppend) = timed { layout.appendDelta(spark, srcA, delta) }
      val (folded, tMaintain) = timed { layout.maintain(spark, srcA) }
      if (folded.nonEmpty && foldedDay < 0) foldedDay = day
      val entries = StatsManifest.read(loc).get
      // the policy's own metric: anchored to the domains recorded at the
      // last (re)cluster (ADVICE r15 — live domains let outlier deltas
      // shrink existing hull ratios and defer the fold)
      val metric = LayoutMeta.anchoredProbeBytes(loc, entries, layout.StatsCols)
      val floor = LayoutMeta.probeFloor(loc).getOrElse(0.0)
      val must = StatsManifest.mustRead(entries, preds).toSet
      val probeBytes = entries.filter(e => must(e.name)).map(_.bytes).sum
      val (_, tProbe) = timed {
        StatsManifest.prunedScan(spark, loc, preds).filter(rowFilter)
          .agg(count(lit(1)), sum(col("l_quantity"))).head }
      // full-corpus value fingerprints every day is two 180 M-row scans
      // per tick at sf30 — SPARK_GRAFT_FP_EVERY=k samples them to fold
      // days, every k-th day, and the ladder's last day (always ≥ those)
      val fpEvery = sys.env.getOrElse("SPARK_GRAFT_FP_EVERY", "1").toInt
      val fpDue = folded.nonEmpty || day % fpEvery == 0 ||
        day == maxDays - 1 || (foldedDay >= 0 && day == foldedDay + 1)
      val fidelity = if (fpDue) {
        val (rowsL, hashL) = fp(spark.read.parquet(loc))
        Tables.clearCaches()
        val (rowsS, hashS) = fp(Tables.table(spark, srcA, "lineitem"))
        s""""rows":$rowsL,"layout_equals_source":${rowsL == rowsS && hashL == hashS}"""
      } else s""""layout_equals_source":"skipped""""
      println(
        s"""{"day":${day + 1},"append_s":${f"$tAppend%.2f"},""" +
        s""""maintain_s":${f"$tMaintain%.2f"},"folded":${folded.nonEmpty},""" +
        s""""files":${entries.size},"metric_mb":${f"${metric / 1e6}%.2f"},""" +
        s""""floor_mb":${f"${floor / 1e6}%.2f"},""" +
        s""""probe_files":${must.size},"probe_mb":${f"${probeBytes / 1e6}%.2f"},""" +
        s""""probe_s":${f"$tProbe%.2f"},$fidelity}""")
      day += 1
    }

    // the TRUE rebuild comparison: fresh clustered build over the merged
    // source — the cost the daily appends avoid — value-equal by fp
    val srcB = s"$scratch/b"
    spark.read.parquet(s"$srcA/lineitem.parquet")
      .write.parquet(s"$srcB/lineitem.parquet")
    Tables.clearCaches()
    val (locB, tRebuild) = timed { layout.ensure(spark, srcB) }
    val (rowsA, hashA) = fp(spark.read.parquet(loc))
    val (rowsB, hashB) = fp(spark.read.parquet(locB))
    println(
      s"""{"summary":true,"curve":"$curve","days":$day,"folded_day":${foldedDay + 1},""" +
      s""""rebuild_s":${f"$tRebuild%.2f"},"total_rows":$rowsA,""" +
      s""""merged_equals_rebuilt":${rowsA == rowsB && hashA == hashB}}""")
    spark.stop()
  }
}

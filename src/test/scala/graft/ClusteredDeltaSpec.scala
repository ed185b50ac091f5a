package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HilbertLayout, StatsManifest, ZOrderLayout}
import graft.sources.StatsManifest.Range

/** Incremental maintenance for the CLUSTERED layouts (round 13 follow-on
  * to the bucketed story): delta appends keep the copy current for
  * O(delta), the manifest stays a faithful census (pruning correct, just
  * less tight, until recluster), and a source change WITHOUT an append
  * rebuilds instead of serving stale. */
class ClusteredDeltaSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private val root = "/root/repo/target/test_zdelta"

  private def freshSource(tag: String, df: DataFrame): String = {
    val d = s"$root/$tag"
    graft.Fs.deleteTree(Paths.get(d))
    df.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    Tables.clearCaches()
    d
  }

  private def li = Tables.lineitem(spark, sf)
  private def base = li.filter(col("l_orderkey") % 10 =!= 0)
  private def delta = li.filter(col("l_orderkey") % 10 === 0)

  private val micros1996 =
    java.time.LocalDate.of(1996, 1, 1).toEpochDay * 86400L * 1000000L
  private val micros1997 =
    java.time.LocalDate.of(1997, 1, 1).toEpochDay * 86400L * 1000000L

  private def sliceFilter(maxPk: Long) =
    col("l_partkey") <= lit(maxPk / 8) &&
      col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
      col("l_shipdate") < to_timestamp(lit("1997-01-01"))

  private def key(r: org.apache.spark.sql.Row) = r.mkString("|")
  private def rowsOf(df: DataFrame) = df.collect().map(key).sorted.toSeq

  // the shared lifecycle, run over both curves
  for ((tag, layout) <- Seq("z-order" -> ZOrderLayout, "hilbert" -> HilbertLayout)) {
    val t = tag.take(1)

    test(s"$tag appendDelta: pruned slice stays value-correct, manifest census intact") {
      val src = freshSource(s"${t}merge", base)
      val loc = layout.ensure(spark, src)
      val filesBefore = StatsManifest.read(loc).get.size
      // the source ingests the delta, the layout appends it
      delta.write.mode("append").parquet(s"$src/lineitem.parquet")
      Tables.clearCaches()
      layout.appendDelta(spark, src, delta)
      val entries = StatsManifest.read(loc).get
      assert(entries.size > filesBefore, "delta must land as new files")
      assert(rowsOf(spark.read.parquet(loc)) == rowsOf(base.union(delta)),
        "appended layout must hold base+delta")
      // manifest census matches the live dir (pruning enabled, not fallback)
      val live = new java.io.File(loc).listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet") &&
          !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      assert(entries.size == live)
      // census intact → pruning ENGAGES (no fallback) and is value-correct
      val maxPk = li.agg(max(col("l_partkey"))).head().getLong(0)
      val preds = Seq(
        Range("l_partkey", None, Some(maxPk / 8)),
        Range("l_shipdate", Some(micros1996), Some(micros1997 - 1)))
      val pruned = StatsManifest.prunedScan(spark, loc, preds)
        .filter(sliceFilter(maxPk))
      val mustRead = StatsManifest.mustRead(entries, preds).toSet
      assert(pruned.inputFiles.map(_.split('/').last).toSet == mustRead,
        "pruned scan must read exactly the manifest's must-read set")
      val expect = rowsOf(base.union(delta).filter(sliceFilter(maxPk)))
      assert(rowsOf(pruned) == expect)
      // ensure now treats the appended layout as current — no rebuild
      assert(layout.ensure(spark, src) == loc)
      assert(StatsManifest.read(loc).get.size == entries.size)
      // recluster folds the delta files back into the curve, same values
      layout.recluster(spark, src)
      assert(rowsOf(StatsManifest.prunedScan(spark, loc, preds)
        .filter(sliceFilter(maxPk))) == expect)
    }

    test(s"$tag: a changed source WITHOUT an append rebuilds, not a stale serve") {
      val src = freshSource(s"${t}stale", base)
      val loc = layout.ensure(spark, src)
      delta.write.mode("append").parquet(s"$src/lineitem.parquet")
      Tables.clearCaches()
      layout.ensure(spark, src)
      val n = spark.read.parquet(loc).filter(col("l_orderkey") % 10 === 0).count()
      assert(n == delta.count(), "rebuild must pick up the new rows")
    }

    test(s"$tag appendDelta: an under-covering delta reclusters, never a stamp advance") {
      // round 14: BucketedLayout's row-conservation guard, curve-side —
      // two batches land in the source but the caller hands only the first
      val half1 = delta.filter(col("l_linenumber") % 2 === 0)
      val half2 = delta.filter(col("l_linenumber") % 2 =!= 0)
      val src = freshSource(s"${t}diverge", base)
      val loc = layout.ensure(spark, src)
      half1.write.mode("append").parquet(s"$src/lineitem.parquet")
      half2.write.mode("append").parquet(s"$src/lineitem.parquet")
      Tables.clearCaches()
      layout.appendDelta(spark, src, half1)
      // the guard must have reclustered from the FULL source
      assert(rowsOf(spark.read.parquet(loc)) == rowsOf(base.union(delta)),
        "guarded recluster must reflect the full source")
      assert(layout.ensure(spark, src) == loc) // now fresh
    }

    test(s"$tag maintain: holds under the bloat bound, reclusters past it, both pinned") {
      val src = freshSource(s"${t}maint", base)
      val loc = layout.ensure(spark, src)
      val floor0 = graft.sources.LayoutMeta.probeFloor(loc)
      assert(floor0.isDefined && floor0.get > 0,
        "build must record the recluster floor")
      // fresh layout: metric == floor → no fold at any sane k
      assert(layout.maintain(spark, src).isEmpty)
      // delta lands; its self-clustered files span ~the whole space, so
      // the point-probe metric reads floor + delta bytes
      delta.write.mode("append").parquet(s"$src/lineitem.parquet")
      Tables.clearCaches()
      layout.appendDelta(spark, src, delta)
      // the policy's own metric: anchored to the build-time domains (r16)
      val metric = graft.sources.LayoutMeta.anchoredProbeBytes(
        loc, StatsManifest.read(loc).get, layout.StatsCols)
      assert(metric > floor0.get, "appended deltas must bloat the metric")
      val filesAppended = StatsManifest.read(loc).get.map(_.name).toSet
      // under a generous bound the policy HOLDS (files untouched)…
      spark.conf.set("graft.cluster.maxProbeBloat", "1000000")
      try {
        assert(layout.maintain(spark, src).isEmpty)
        assert(StatsManifest.read(loc).get.map(_.name).toSet == filesAppended)
        // …and past the bound it FOLDS: recluster, new floor, tight again
        spark.conf.set("graft.cluster.maxProbeBloat", "1.0")
        val fired = layout.maintain(spark, src)
        assert(fired.isDefined, "bloat past k×floor must recluster")
        val (m, f) = fired.get
        assert(m == metric && f == floor0.get)
        val floor1 = graft.sources.LayoutMeta.probeFloor(loc)
        assert(floor1.isDefined, "recluster must re-record the floor")
        // post-fold the metric sits AT the new floor → policy quiesces
        assert(layout.maintain(spark, src).isEmpty)
        // value fidelity through the fold
        assert(rowsOf(spark.read.parquet(loc)) == rowsOf(base.union(delta)))
      } finally spark.conf.unset("graft.cluster.maxProbeBloat")
    }
  }

  test("maintain backfills a pre-policy layout's floor instead of folding blind") {
    val src = freshSource("zbackfill", base)
    val loc = ZOrderLayout.ensure(spark, src)
    // simulate a pre-r15 layout: meta carries stamp but no floor
    graft.sources.LayoutMeta.write(loc, src, "lineitem",
      graft.sources.LayoutMeta.stamp(loc).get)
    assert(graft.sources.LayoutMeta.probeFloor(loc).isEmpty)
    spark.conf.set("graft.cluster.maxProbeBloat", "1.0")
    try {
      val files = StatsManifest.read(loc).get.map(_.name).toSet
      assert(ZOrderLayout.maintain(spark, src).isEmpty,
        "first tick on a floor-less layout must record, not fold")
      assert(StatsManifest.read(loc).get.map(_.name).toSet == files)
      val backfilled = graft.sources.LayoutMeta.probeFloor(loc)
      assert(backfilled.isDefined && backfilled.get > 0)
      // the stamp must survive the backfill (no staleness regression)
      assert(ZOrderLayout.ensure(spark, src) == loc)
      assert(StatsManifest.read(loc).get.map(_.name).toSet == files)
    } finally spark.conf.unset("graft.cluster.maxProbeBloat")
  }

  test("recluster metric anchors to the recorded domain: outlier deltas can't defer the fold") {
    // ADVICE r15: pointProbeBytes recomputed the domain LIVE, so a delta
    // with outlier keys widened the denominator and shrank every existing
    // file's hull ratio — the metric was not monotone in appended deltas.
    val src = freshSource("zanchor", base)
    val loc = ZOrderLayout.ensure(spark, src)
    val floor = graft.sources.LayoutMeta.probeFloor(loc).get
    assert(graft.sources.LayoutMeta.floorDomains(loc).nonEmpty,
      "build must record the floor domains next to the floor")
    val maxPk = li.agg(max(col("l_partkey"))).head().getLong(0)
    val outlier = delta.withColumn("l_partkey", col("l_partkey") + lit(100L * maxPk))
    outlier.write.mode("append").parquet(s"$src/lineitem.parquet")
    Tables.clearCaches()
    ZOrderLayout.appendDelta(spark, src, outlier)
    val entries = StatsManifest.read(loc).get
    val live = StatsManifest.pointProbeBytes(entries, ZOrderLayout.StatsCols)
    val anchored = graft.sources.LayoutMeta.anchoredProbeBytes(
      loc, entries, ZOrderLayout.StatsCols)
    // the hazard, demonstrated: the outlier widens the live denominator
    // ~101×, so the live metric reads BELOW the anchored one right after
    // a bloating append; the anchored metric stays monotone
    assert(live < anchored, "live-domain metric must show the drift the anchor fixes")
    assert(anchored > floor, "anchored metric must be monotone in appended deltas")
    // and the policy — which reads the anchored metric — still folds
    spark.conf.set("graft.cluster.maxProbeBloat", "1.0")
    try assert(ZOrderLayout.maintain(spark, src).isDefined,
      "an outlier delta must not defer the fold")
    finally spark.conf.unset("graft.cluster.maxProbeBloat")
  }
}

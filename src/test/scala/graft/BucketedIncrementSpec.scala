package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BucketedLayout

/** Incremental maintenance of the bucketed fact layouts (round 13,
  * VERDICT r12 #1): append routes ONLY new rows to their buckets,
  * merged ≡ full rebuild by value, gated plans stay exchange-free over
  * multi-file buckets, compaction folds back to one file per bucket
  * crash-forward, and a changed source without an append triggers a
  * REBUILD (stale layouts are never served). */
class BucketedIncrementSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private val root = "/root/repo/target/test_incr"

  /** A scratch "source dir" holding one lineitem table. Each call gets a
    * fresh dir (the layout address is per source PATH — reusing a path
    * across tests would collide content addresses). */
  private def freshSource(tag: String, df: DataFrame): String = {
    val d = s"$root/$tag"
    graft.Fs.deleteTree(Paths.get(d))
    df.write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    Tables.clearCaches() // the scan cache assumes immutable paths
    d
  }

  private def li = Tables.lineitem(spark, sf)

  // split the sf0.001 lineitem into a base (~90%) and a delta (~10%)
  private def base = li.filter(col("l_orderkey") % 10 =!= 0)
  private def delta = li.filter(col("l_orderkey") % 10 === 0)

  private def allRows(df: DataFrame): Seq[Row] = {
    val cols = df.columns.sorted.map(col).toSeq
    df.select(cols: _*).collect().toSeq
      .sortBy(_.mkString("\u0000"))
  }

  private def layoutDf(name: String): DataFrame = spark.table(name)

  test("appendDelta: merged layout ≡ full rebuild, by value") {
    // layout built from the base...
    val src = freshSource("merge", base)
    val name = BucketedLayout.ensureTable(spark, src, "lineitem", "l_orderkey")
    val filesBefore = BucketedLayout.fileCount(spark, src, "lineitem", "l_orderkey")
    // ...then the source ingests the delta (append semantics: base files
    // untouched, delta lands as new files — stamps change)
    delta.write.mode("append").parquet(s"$src/lineitem.parquet")
    Tables.clearCaches()
    BucketedLayout.appendDelta(spark, src, "lineitem", "l_orderkey", delta)
    val filesAfter = BucketedLayout.fileCount(spark, src, "lineitem", "l_orderkey")
    // O(delta): only delta files were added, nothing rewritten
    assert(filesAfter > filesBefore)
    // a full rebuild from the merged source is the oracle
    val src2 = freshSource("merge_oracle", base.union(delta))
    val oracle = BucketedLayout.ensureTable(spark, src2, "lineitem", "l_orderkey")
    assert(allRows(layoutDf(name)) == allRows(layoutDf(oracle)),
      "appended layout differs from full rebuild")
    // and ensureTable now treats the appended layout as CURRENT (the
    // stamp advanced with the append): same table, no rebuild
    assert(BucketedLayout.ensureTable(spark, src, "lineitem", "l_orderkey") == name)
    assert(BucketedLayout.fileCount(spark, src, "lineitem", "l_orderkey") == filesAfter)
  }

  test("gated plan stays exchange-free over multi-file buckets; compaction folds and preserves") {
    val src = freshSource("compact", base)
    val name = BucketedLayout.ensureTable(spark, src, "lineitem", "l_orderkey")
    delta.write.mode("append").parquet(s"$src/lineitem.parquet")
    Tables.clearCaches()
    BucketedLayout.appendDelta(spark, src, "lineitem", "l_orderkey", delta)
    // the layout's reason to exist: orderkey-grain aggregation runs in
    // the scan stage — with DELTA FILES PRESENT (multi-file buckets)
    def agg = layoutDf(name).groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    val appendedPlan = agg.queryExecution.executedPlan.toString
    assert(appendedPlan.contains("Bucketed: true"))
    assert(!appendedPlan.contains("Exchange hashpartitioning"),
      s"multi-file buckets must not reintroduce the exchange:\n$appendedPlan")
    // Spark's ordering self-guard: with delta files present (multi-file
    // buckets) the scan must WITHHOLD its sort order even under the
    // legacy outputOrdering conf — a concatenated bucket read is not
    // sorted, so the SMJ regains its Sorts instead of merging wrong
    val selfJoin = layoutDf(name).hint("merge").as("a")
      .join(layoutDf(name).as("b"), col("a.l_orderkey") === col("b.l_orderkey"))
    val sjPlan = selfJoin.queryExecution.executedPlan.toString
    assert(sjPlan.contains("SortMergeJoin") && sjPlan.contains("Sort "),
      s"multi-file buckets must re-sort under SMJ (ordering withheld):\n$sjPlan")
    val before = agg.collect().toSeq.sortBy(_.getLong(0))
    // fold back to one file per bucket — no shuffle, values unchanged
    val (nBefore, nAfter) =
      BucketedLayout.compactBuckets(spark, src, "lineitem", "l_orderkey")
    assert(nBefore > BucketedLayout.Buckets)
    assert(nAfter <= BucketedLayout.Buckets, s"compacted to $nAfter files")
    assert(agg.collect().toSeq.sortBy(_.getLong(0)) == before)
    val compactedPlan = agg.queryExecution.executedPlan.toString
    assert(compactedPlan.contains("Bucketed: true"))
    assert(!compactedPlan.contains("Exchange hashpartitioning"))
    // idempotent: already-compact is a no-op
    assert(BucketedLayout.compactBuckets(spark, src, "lineitem", "l_orderkey")
      == ((nAfter, nAfter)))
  }

  test("a changed source WITHOUT an append triggers a rebuild, not a stale serve") {
    val src = freshSource("stale", base)
    BucketedLayout.ensureTable(spark, src, "lineitem", "l_orderkey")
    // source changes behind the layout's back (no appendDelta call)
    delta.write.mode("append").parquet(s"$src/lineitem.parquet")
    Tables.clearCaches()
    val name = BucketedLayout.ensureTable(spark, src, "lineitem", "l_orderkey")
    // the rebuilt layout reflects the NEW source — the delta's rows exist
    val n = layoutDf(name).filter(col("l_orderkey") % 10 === 0).count()
    assert(n == delta.count(), "rebuild after source change must pick up new rows")
  }

  test("crash-forward swap: a manifested temp completes, an unmanifested one is discarded") {
    val src = freshSource("crash", base)
    val name = BucketedLayout.ensureTable(spark, src, "lineitem", "l_orderkey")
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $name")
      .filter(col("col_name") === "Location").select("data_type")
      .head.getString(0).stripPrefix("file:")
    val expect = allRows(layoutDf(name))

    // (a) unmanifested temp = incomplete compaction write, inputs
    // untouched → next maintenance entry discards it
    val tmp = Paths.get(s"$loc/.compact_tmp")
    Files.createDirectories(tmp)
    Files.writeString(tmp.resolve("junk.parquet"), "not a real file")
    BucketedLayout.compactBuckets(spark, src, "lineitem", "l_orderkey")
    assert(!Files.exists(tmp), "unmanifested temp must be discarded")
    assert(allRows(layoutDf(name)) == expect)

    // (b) manifested temp = deletes may have begun; the temp holds the
    // authoritative copy → completed FORWARD. Simulate the crash state:
    // all data files moved into the temp (as the compacted output), the
    // manifest listing the (already-gone) old names, live dir empty.
    Files.createDirectories(tmp)
    val dataFiles = new java.io.File(loc).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    dataFiles.foreach(f =>
      Files.move(f.toPath, tmp.resolve(f.getName)))
    Files.writeString(tmp.resolve("_SUCCESS"), "")
    Files.writeString(tmp.resolve(".consumed"),
      dataFiles.map(_.getName).mkString("\n"))
    // first maintenance touch heals: files return, values intact
    BucketedLayout.compactBuckets(spark, src, "lineitem", "l_orderkey")
    assert(!Files.exists(tmp))
    spark.catalog.refreshTable(name)
    assert(allRows(layoutDf(name)) == expect)
  }

  test("legacy vacuum removes only completed dirs that lack the family's meta") {
    val vroot = s"$root/vacuum"
    graft.Fs.deleteTree(Paths.get(vroot))
    def tableDir(hash: String, files: String*): Unit = {
      val t = Paths.get(s"$vroot/$hash/lineitem")
      Files.createDirectories(t)
      files.foreach(f => Files.writeString(t.resolve(f), "ok"))
    }
    tableDir("retired", "_bkt_ok")                 // completed, no meta
    tableDir("current", "_bkt_ok", "_bkt_meta")
    tableDir("building")                           // no marker yet
    tableDir("othermeta", "_bkt_ok", "_layout_meta") // not this family's meta
    assert(graft.sources.LayoutMeta.vacuumLegacy(vroot, "_bkt_ok", "_bkt_meta") == 2)
    assert(new java.io.File(vroot).list().toSet == Set("current", "building"))
  }

  test("appendDelta refuses a missing layout") {
    val src = freshSource("missing", base)
    val e = intercept[IllegalArgumentException] {
      BucketedLayout.appendDelta(spark, src, "lineitem", "l_orderkey", delta)
    }
    assert(e.getMessage.contains("ensureTable first"))
  }

  test("row-conservation guard: a delta that under-covers the source change triggers a rebuild, not a stamp advance") {
    // two batches land in the source, but the caller hands appendDelta
    // only the FIRST — the contract violation the guard exists to catch
    // (round 14, ADVICE r13 medium): without it the stamp would advance
    // over a diverged layout and every later ensureTable would serve it
    // as fresh.
    val half1 = delta.filter(col("l_linenumber") % 2 === 0)
    val half2 = delta.filter(col("l_linenumber") % 2 =!= 0)
    val src = freshSource("diverge", base)
    val name = BucketedLayout.ensureTable(spark, src, "lineitem", "l_orderkey")
    half1.write.mode("append").parquet(s"$src/lineitem.parquet")
    half2.write.mode("append").parquet(s"$src/lineitem.parquet")
    Tables.clearCaches()
    // under-covering delta → guard fires → rebuild from the full source
    val rebuilt =
      BucketedLayout.appendDelta(spark, src, "lineitem", "l_orderkey", half1)
    assert(rebuilt == name)
    val oracle = freshSource("diverge_oracle", base.union(delta))
    val oName = BucketedLayout.ensureTable(spark, oracle, "lineitem", "l_orderkey")
    assert(allRows(layoutDf(rebuilt)) == allRows(layoutDf(oName)),
      "guarded rebuild must reflect the FULL source, not the partial delta")
    // and the healed layout is served as fresh thereafter
    assert(BucketedLayout.ensureTable(spark, src, "lineitem", "l_orderkey") == name)
  }

  test("compactness is per-bucket: sparse key domains fold even when total files stay under Buckets") {
    // 4 distinct orderkeys → at most 4 populated buckets; the delta lands
    // one extra file in each populated bucket, total files ≪ 32. The old
    // total-count criterion (`files <= Buckets`) no-ops forever on this
    // shape (ADVICE r13); the per-bucket criterion folds it back.
    val keys = li.select("l_orderkey").distinct().orderBy("l_orderkey")
      .limit(4).collect().map(_.getLong(0)).toSeq
    val sparse = li.filter(col("l_orderkey").isin(keys: _*))
    val sBase = sparse.filter(col("l_linenumber") % 2 === 0)
    val sDelta = sparse.filter(col("l_linenumber") % 2 =!= 0)
    val src = freshSource("sparse", sBase)
    val name = BucketedLayout.ensureTable(spark, src, "lineitem", "l_orderkey")
    sDelta.write.mode("append").parquet(s"$src/lineitem.parquet")
    Tables.clearCaches()
    BucketedLayout.appendDelta(spark, src, "lineitem", "l_orderkey", sDelta)
    val files = BucketedLayout.fileCount(spark, src, "lineitem", "l_orderkey")
    assert(files <= BucketedLayout.Buckets,
      s"precondition: sparse layout must stay under Buckets files ($files)")
    assert(BucketedLayout.maxFilesPerBucket(
      spark, src, "lineitem", "l_orderkey") > 1)
    val expect = allRows(layoutDf(name))
    val (nBefore, nAfter) =
      BucketedLayout.compactBuckets(spark, src, "lineitem", "l_orderkey")
    assert(nBefore == files && nAfter < nBefore,
      s"sparse multi-file buckets must fold ($nBefore -> $nAfter)")
    assert(BucketedLayout.maxFilesPerBucket(
      spark, src, "lineitem", "l_orderkey") == 1)
    assert(allRows(layoutDf(name)) == expect)
  }

  test("maintain: the files-per-bucket policy decides when to compact") {
    val src = freshSource("policy", base)
    BucketedLayout.ensureTable(spark, src, "lineitem", "l_orderkey")
    spark.conf.set("graft.bucketed.maxFilesPerBucket", "2")
    try {
      // day 1: 2 files/bucket — census at the bound, no fold yet
      delta.write.mode("append").parquet(s"$src/lineitem.parquet")
      Tables.clearCaches()
      BucketedLayout.appendDelta(spark, src, "lineitem", "l_orderkey", delta)
      assert(BucketedLayout.maintain(spark, src, "lineitem", "l_orderkey").isEmpty)
      // a second delta pushes some bucket over the bound → maintain folds
      val d2 = li.filter(col("l_orderkey") % 10 === 0)
        .withColumn("l_orderkey", col("l_orderkey") + 1000000L)
      d2.write.mode("append").parquet(s"$src/lineitem.parquet")
      Tables.clearCaches()
      BucketedLayout.appendDelta(spark, src, "lineitem", "l_orderkey", d2)
      assert(BucketedLayout.maxFilesPerBucket(
        spark, src, "lineitem", "l_orderkey") > 2)
      val r = BucketedLayout.maintain(spark, src, "lineitem", "l_orderkey")
      assert(r.nonEmpty, "census over the bound must trigger a fold")
      assert(BucketedLayout.maxFilesPerBucket(
        spark, src, "lineitem", "l_orderkey") == 1)
      // and idempotent: back under the bound, next tick is a no-op
      assert(BucketedLayout.maintain(spark, src, "lineitem", "l_orderkey").isEmpty)
    } finally spark.conf.unset("graft.bucketed.maxFilesPerBucket")
  }
}

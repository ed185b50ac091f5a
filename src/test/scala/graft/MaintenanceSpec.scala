package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BucketedLayout, HilbertLayout, StatsManifest, ZOrderLayout}
import graft.superstore.{Exporter, SuperstoreETL, WarehouseCache}

/** The unified maintenance tick (round 16, VERDICT r15 #4): one verb
  * walks every registered family and applies its policy — absent layouts
  * are safe no-ops, present ones fold exactly when their own policy
  * fires, and a quiesced state holds. */
class MaintenanceSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private val root = "/root/repo/target/test_mainttick"

  test("tick on a corpus with no layouts is a complete no-op") {
    val src = s"$root/empty"
    graft.Fs.deleteTree(Paths.get(src))
    Tables.lineitem(spark, sf).limit(100)
      .write.mode("overwrite").parquet(s"$src/lineitem.parquet")
    Tables.clearCaches()
    val actions = Maintenance.tick(spark, src)
    assert(actions.size == Maintenance.BucketedFamilies.size + 2)
    assert(actions.forall(a => !a.fired && a.detail == "held"),
      s"tick must never create or fold on absent layouts: $actions")
  }

  test("one tick fires every present family past its bound; the next holds") {
    val src = s"$root/fire"
    graft.Fs.deleteTree(Paths.get(src))
    val li = Tables.lineitem(spark, sf)
    val base = li.filter(col("l_orderkey") % 10 =!= 0)
    val delta = li.filter(col("l_orderkey") % 10 === 0)
    base.write.mode("overwrite").parquet(s"$src/lineitem.parquet")
    Tables.clearCaches()
    // present families: one bucketed pair + both curves + the Item tree
    BucketedLayout.ensureTable(spark, src, "lineitem", "l_orderkey")
    ZOrderLayout.ensure(spark, src)
    HilbertLayout.ensure(spark, src)
    val csv = WarehouseCache.CsvPath
    val wh = SuperstoreETL.build(spark, csv)
    val (item, cal) = (wh("Item"), wh("Calendar"))
    val itemDir = s"$root/itemwh"
    graft.Fs.deleteTree(Paths.get(itemDir))
    val itemBase = item.filter(col("calendar_id") % 10 =!= 0)
    Exporter.persistItemPartitioned(itemBase, cal, itemDir)
    // the daily ingest through each family's own verb
    delta.write.mode("append").parquet(s"$src/lineitem.parquet")
    Tables.clearCaches()
    val fresh = Tables.lineitem(spark, src).filter(col("l_orderkey") % 10 === 0)
    BucketedLayout.appendDelta(spark, src, "lineitem", "l_orderkey", delta)
    ZOrderLayout.appendDelta(spark, src, delta)
    HilbertLayout.appendDelta(spark, src, delta)
    val _ = fresh
    val itemDelta = item.filter(col("calendar_id") % 10 === 0)
    Exporter.appendItemPartitioned(item, itemDelta, cal, itemDir,
      expectedSourceRows = Some(item.count()))
    // tight bounds so every present policy fires on THIS tick
    spark.conf.set("graft.bucketed.maxFilesPerBucket", "1")
    spark.conf.set("graft.cluster.maxProbeBloat", "1.0")
    spark.conf.set("graft.partitioned.maxFilesPerPartition", "1")
    try {
      val actions = Maintenance.tick(spark, src, Some(itemDir))
      val byTarget = actions.map(a => s"${a.family}:${a.target}" -> a).toMap
      assert(byTarget("bucketed:lineitem/l_orderkey").fired)
      assert(byTarget("zorder:lineitem").fired)
      assert(byTarget("hilbert:lineitem").fired)
      assert(byTarget(s"item-partitioned:$itemDir").fired)
      // absent bucketed families stay no-ops even at bound 1
      assert(!byTarget("bucketed:lineitem/l_partkey").fired)
      assert(!byTarget("bucketed:part/p_partkey").fired)
      assert(!byTarget("bucketed:orders/o_orderkey").fired)
      // quiesced: the very next tick holds everywhere
      val again = Maintenance.tick(spark, src, Some(itemDir))
      assert(again.forall(!_.fired), s"post-fold tick must hold: $again")
      // value fidelity through the composed tick (spot check the curves)
      def key(r: org.apache.spark.sql.Row) = r.mkString("|")
      val expect = base.union(delta).collect().map(key).sorted.toSeq
      val gotZ = spark.read.parquet(ZOrderLayout.ensure(spark, src))
        .collect().map(key).sorted.toSeq
      assert(gotZ == expect)
      val entries = StatsManifest.read(s"$itemDir/Item_by_year")
      assert(entries.isDefined && entries.get.map(_.rows).sum == item.count())
    } finally {
      spark.conf.unset("graft.bucketed.maxFilesPerBucket")
      spark.conf.unset("graft.cluster.maxProbeBloat")
      spark.conf.unset("graft.partitioned.maxFilesPerPartition")
    }
  }
}

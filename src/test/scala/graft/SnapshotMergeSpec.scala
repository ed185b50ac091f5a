package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

import graft.sources.SnapshotMerge

/** The incremental merge must (1) land exactly the end state a full
  * recompute would, (2) physically touch ONLY the partitions the delta
  * names, and (3) survive a crash at any point after the manifest with a
  * plain read healing it forward. */
class SnapshotMergeSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  /** (name, size, mtime) of every data file under each part dir. */
  private def partFiles(dir: String): Map[String, Seq[(String, Long, Long)]] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("part="))
      .map { d =>
        d.getName -> Option(d.listFiles).toSeq.flatten
          .filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)
      }.toMap

  /** The merged end state derived from first principles (the oracle's
    * construction, in Spark): all docs except takedowns, churn-band
    * revisions applied. */
  private def expected: DataFrame = {
    val mx = Tables.documentsMaxId(spark, sf)
    val (b, r) = (SnapshotMerge.baseCut(mx), SnapshotMerge.churnFloor(mx))
    Tables.documents(spark, sf)
      .filter(!(col("doc_id") > r && col("doc_id") <= b &&
                col("doc_id") % 13 === 0 && col("doc_id") % 11 =!= 0))
      .select(col("doc_id"),
        when(col("doc_id") > r && col("doc_id") <= b && col("doc_id") % 11 === 0,
          upper(col("text"))).otherwise(col("text")).as("text"))
  }

  private def mergedDocs(dir: String): DataFrame =
    SnapshotMerge.liveDocs(spark, dir).select("doc_id", "text")

  test("apply lands the full-recompute end state, touching only delta partitions") {
    val dir = TestSpark.tempDir("graft_merge") + "/snap"
    SnapshotMerge.writeBase(spark, sf, dir)
    val delta = SnapshotMerge.delta(spark, sf)
    val deltaParts = delta.select("part").distinct()
      .collect().map(r => s"part=${r.getLong(0)}").toSet
    val before = partFiles(dir)

    val (touched, total) = SnapshotMerge.applyDiff(spark, dir, delta)
    assert(touched == deltaParts.size && total == SnapshotMerge.NParts)
    // recency-concentrated delta: a strict minority of partitions touched
    assert(touched < SnapshotMerge.NParts / 2,
      s"delta not concentrated: $touched/${SnapshotMerge.NParts}")

    // content == the oracle's full-recompute derivation
    val (m, e) = (mergedDocs(dir), expected)
    assert(m.count() == e.count())
    assert(m.exceptAll(e).isEmpty && e.exceptAll(m).isEmpty)

    // untouched partitions: byte-level identity (same files, sizes, mtimes)
    val after = partFiles(dir)
    before.keys.filterNot(deltaParts).foreach { k =>
      assert(after(k) == before(k), s"untouched $k was rewritten")
    }
    // touched partitions that still exist were actually replaced
    val replaced = deltaParts.filter(before.contains).count(k => after(k) != before(k))
    assert(replaced > 0)

    // idempotence: re-applying the same delta reproduces the same state
    SnapshotMerge.applyDiff(spark, dir, delta)
    val again = mergedDocs(dir)
    assert(again.exceptAll(e).isEmpty && e.exceptAll(again).isEmpty)
  }

  test("deletes persist tombstones; vacuum reclaims them only past the horizon") {
    val dir = TestSpark.tempDir("graft_merge_vac") + "/snap"
    SnapshotMerge.writeBase(spark, sf, dir)
    val delta = SnapshotMerge.delta(spark, sf)
    val nDeletes = delta.filter(col("op") === "delete").count()
    assert(nDeletes > 0, "fixture must carry takedowns")
    SnapshotMerge.applyDiff(spark, dir, delta)

    def tombs() = spark.read.parquet(dir).filter(col("tomb"))
    assert(tombs().count() == nDeletes)
    val liveBefore = mergedDocs(dir).collect().toSet

    // horizon at the deletes' seq (1): nothing is strictly below → no-op
    assert(SnapshotMerge.vacuumTombstones(spark, dir, 1L) == 0)
    assert(tombs().count() == nDeletes)

    // horizon past them: all reclaimed, live view byte-identical
    val rewritten = SnapshotMerge.vacuumTombstones(spark, dir, 2L)
    assert(rewritten > 0)
    assert(tombs().isEmpty)
    assert(mergedDocs(dir).collect().toSet == liveBefore)
    // idempotent: a second vacuum finds nothing
    assert(SnapshotMerge.vacuumTombstones(spark, dir, 2L) == 0)
  }

  test("a manifested crashed swap is healed forward by a plain read") {
    val dir = TestSpark.tempDir("graft_merge_crash") + "/snap"
    SnapshotMerge.writeBase(spark, sf, dir)
    val ledgerBefore = SnapshotMerge.mergedLedger(spark, dir).collect().toSeq

    // crash state: replacement content for one partition fully written to
    // the sibling temp + manifest placed (keep for p, drop for q), the
    // target dirs in a half-swapped state (p's old dir already deleted)
    val parts = partFiles(dir).keys.toSeq.sorted
    val (p, q) = (parts.head.stripPrefix("part="), parts(1).stripPrefix("part="))
    val tmp = s"$dir.merge_tmp"
    spark.read.parquet(dir)
      .filter(col("part") === p.toInt)
      .select("doc_id", "text", "seq", "tomb", "part")
      .coalesce(1).write.partitionBy("part").parquet(tmp)
    Files.writeString(Paths.get(s"$tmp/.merge_manifest"), s"$p:keep\n$q:drop")
    graft.Fs.deleteTree(Paths.get(s"$dir/part=$p")) // worst case: only copy is the temp

    // NO apply call: the plain reader heals — p restored from the temp,
    // q dropped, temp consumed
    val healed = SnapshotMerge.mergedLedger(spark, dir).collect().toSeq
    val expectAfter = ledgerBefore.filterNot(_.getLong(0) == q.toLong)
    assert(healed == expectAfter)
    assert(!Files.exists(Paths.get(tmp)))
    assert(Files.exists(Paths.get(s"$dir/part=$p")))
    assert(!Files.exists(Paths.get(s"$dir/part=$q")))
  }

  test("readers leave an unmanifested temp alone (live writer's work)") {
    val dir = TestSpark.tempDir("graft_merge_live") + "/snap"
    SnapshotMerge.writeBase(spark, sf, dir)
    val before = SnapshotMerge.mergedLedger(spark, dir).collect().toSeq
    val tmp = s"$dir.merge_tmp"
    Files.createDirectories(Paths.get(tmp))
    Files.writeString(Paths.get(s"$tmp/part-wip.parquet"), "x")
    assert(SnapshotMerge.mergedLedger(spark, dir).collect().toSeq == before)
    assert(Files.exists(Paths.get(s"$tmp/part-wip.parquet")))
  }

  test("q75 ledger matches the oracle construction on the merged layout") {
    val df = SparkEntry.queries("q75_merge_apply")(spark, sf)
    val mx = Tables.documentsMaxId(spark, sf)
    val exp = expected
      .withColumn("part", expr(s"CAST((doc_id * ${SnapshotMerge.NParts}) DIV ${mx + 1L} AS BIGINT)"))
      .groupBy("part")
      .agg(count(lit(1)).as("n_docs"),
           sum(expr("CAST(size(split(text, ' ')) AS BIGINT)")).as("n_tokens"),
           sum(col("doc_id")).as("id_sum"),
           min(md5(col("text"))).as("first_fp"),
           max(md5(col("text"))).as("last_fp"))
      .orderBy("part")
    assert(df.collect().toSeq == exp.collect().toSeq)
    assert(df.count() == SnapshotMerge.NParts)
  }
}

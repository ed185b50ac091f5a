package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HilbertLayout, StatsManifest, ZOrderLayout}
import graft.sources.StatsManifest.Range

/** The persisted file-stats manifest must be a faithful stand-in for
  * plan-time footer reads: per-file hulls bit-identical to the footers,
  * must-read sets identical to a direct footer prune, pruned-scan results
  * identical to the full scan, and a census mismatch degrading to the
  * correct-but-unpruned fallback (never to silent row loss). */
class StatsManifestSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  /** Direct footer hull of `col` for every data file under `dir` — the
    * O(files) read the manifest exists to replace, recomputed here
    * independently as the oracle. */
  private def footerHulls(dir: String, c: String): Map[String, (Long, Long)] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new Path(f.getAbsolutePath), new Configuration()))
        try {
          val ranges = r.getFooter.getBlocks.asScala.map { b =>
            val st = b.getColumns.asScala
              .find(_.getPath.toDotString == c).get.getStatistics
            (st.genericGetMin, st.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) =>
                (mn.longValue, mx.longValue)
              case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                (mn.longValue, mx.longValue)
              case other => fail(s"unexpected stats type $other")
            }
          }
          f.getName -> ((ranges.map(_._1).min, ranges.map(_._2).max))
        } finally r.close()
      }.toMap

  private val micros1996 =
    java.time.LocalDate.of(1996, 1, 1).toEpochDay * 86400L * 1000000L
  private val micros1997 =
    java.time.LocalDate.of(1997, 1, 1).toEpochDay * 86400L * 1000000L

  test("manifest hulls are bit-identical to the parquet footers (zorder)") {
    val loc = ZOrderLayout.ensure(spark, sf)
    val entries = StatsManifest.read(loc)
      .getOrElse(fail("manifest missing after build"))
    for (c <- ZOrderLayout.StatsCols) {
      val oracle = footerHulls(loc, c)
      assert(entries.map(e => e.name -> e.stats(c)).toMap == oracle,
        s"manifest hulls for $c differ from footers")
    }
    // census: every data file listed exactly once
    assert(entries.map(_.name).distinct.size == entries.size)
    assert(entries.map(_.name).toSet == footerHulls(loc, "l_partkey").keySet)
  }

  test("manifest must-read set == direct footer prune (q74 and q77 boxes)") {
    val zloc = ZOrderLayout.ensure(spark, sf)
    val hloc = HilbertLayout.ensure(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val b = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
    val (maxPk, maxSk) = (b.getLong(0), b.getLong(1))
    def check(loc: String, preds: Seq[Range]): Unit = {
      val entries = StatsManifest.read(loc).get
      val got = StatsManifest.mustRead(entries, preds).toSet
      // independent footer-based prune, same file-hull intersection rule
      val hulls = preds.map(p => p.col -> footerHulls(loc, p.col)).toMap
      val expected = entries.map(_.name).filter { f =>
        preds.forall { p =>
          val (mn, mx) = hulls(p.col)(f)
          p.hi.forall(mn <= _) && p.lo.forall(mx >= _)
        }
      }.toSet
      assert(got == expected, s"must-read set differs at $loc")
      // the prune must CUT something at these box shapes (the layout's
      // whole point) unless the box covers everything
      assert(got.size < entries.size,
        s"prune selected all ${entries.size} files — box not selective?")
    }
    check(zloc, Seq(
      Range("l_partkey", None, Some(maxPk / 8)),
      Range("l_shipdate", Some(micros1996), Some(micros1997 - 1))))
    check(hloc, Seq(
      Range("l_partkey", None, Some(maxPk / 8)),
      Range("l_shipdate", Some(micros1996), Some(micros1997 - 1)),
      Range("l_suppkey", None, Some(maxSk / 4))))
  }

  test("pruned scan reads only the must-read files and returns the full-scan rows") {
    val loc = ZOrderLayout.ensure(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val maxPk = li.agg(max(col("l_partkey"))).head().getLong(0)
    val preds = Seq(
      Range("l_partkey", None, Some(maxPk / 8)),
      Range("l_shipdate", Some(micros1996), Some(micros1997 - 1)))
    val filter = col("l_partkey") <= lit(maxPk / 8) &&
      col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
      col("l_shipdate") < to_timestamp(lit("1997-01-01"))
    val pruned = StatsManifest.prunedScan(spark, loc, preds).filter(filter)
    val full = spark.read.parquet(loc).filter(filter)
    // scan narrowed to exactly the must-read files
    val mustRead = StatsManifest.mustRead(StatsManifest.read(loc).get, preds)
    assert(pruned.inputFiles.map(_.split('/').last).toSet == mustRead.toSet)
    // and no row lost or gained vs the full scan
    def key(r: org.apache.spark.sql.Row) = r.mkString("|")
    assert(pruned.collect().map(key).sorted.toSeq ==
           full.collect().map(key).sorted.toSeq)
    assert(full.count() > 0)
  }

  test("census mismatch degrades to the unpruned fallback, never to row loss") {
    val loc = ZOrderLayout.ensure(spark, sf)
    val mPath = Paths.get(s"$loc/${StatsManifest.FileName}")
    val original = Files.readString(mPath)
    try {
      // drop one manifest line: the live dir now has a file the manifest
      // does not know → pruning unsafe → full-directory scan
      val lines = original.split("\n").filter(_.nonEmpty)
      Files.writeString(mPath, lines.drop(1).mkString("", "\n", "\n"))
      val allFiles = new java.io.File(loc).listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet") &&
          !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      val scanned = StatsManifest.prunedScan(spark, loc,
        Seq(Range("l_partkey", None, Some(0L)))).inputFiles.length
      assert(scanned == allFiles, "mismatched census must scan everything")
    } finally Files.writeString(mPath, original)
  }

  test("q74/q77 stay value-correct over the manifest-pruned scans") {
    // the queries themselves (now routed through prunedScan) against the
    // plain-table recomputation of the same slice
    val q74 = SparkEntry.queries("q74_zorder_slice")(spark, sf).collect().toSeq
    val q77 = SparkEntry.queries("q77_hilbert_slice")(spark, sf).collect().toSeq
    val li = Tables.lineitem(spark, sf)
    val b = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
    val (maxPk, maxSk) = (b.getLong(0), b.getLong(1))
    import graft.Num._
    val rev = money(col("l_extendedprice")) *
      (lit(1).cast(D18_2) - money(col("l_discount")))
    def slice(extra: org.apache.spark.sql.Column) = li
      .filter(col("l_partkey") <= lit(maxPk / 8) &&
        col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) && extra)
      .groupBy("l_returnflag")
      .agg(dsum(rev).as("revenue"),
           dsum(money(col("l_quantity"))).as("total_qty"),
           count(lit(1)).as("n_items"))
      .orderBy("l_returnflag").collect().toSeq
    assert(q74 == slice(lit(true)))
    assert(q77 == slice(col("l_suppkey") <= lit(maxSk / 4)))
    assert(q74.nonEmpty && q77.nonEmpty)
  }
}

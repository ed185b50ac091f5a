package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.sources.ZOrderLayout

/** The z-ordered layout must be value-faithful to the source table AND
  * carry footer stats selective on BOTH clustering dimensions — the
  * property a single-column sort cannot provide. */
class ZOrderLayoutSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def files(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  /** Per-file (min, max) long range of `column` from the parquet footers
    * (all row groups folded to the file envelope — what a catalog's
    * file-level pruning consumes; row-group skipping is strictly finer). */
  private def fileRanges(dir: String, column: String): Seq[(Long, Long)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    files(dir).map { f =>
      val rd = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      try {
        val ranges = rd.getFooter.getBlocks.asScala.map { block =>
          val cc = block.getColumns.asScala
            .find(_.getPath.toDotString == column).get
          val st = cc.getStatistics
          assert(st != null && st.hasNonNullValue, s"no stats for $column in ${f.getName}")
          (st.genericGetMin.asInstanceOf[Number].longValue,
           st.genericGetMax.asInstanceOf[Number].longValue)
        }
        (ranges.map(_._1).min, ranges.map(_._2).max)
      } finally rd.close()
    }
  }

  private def hits(ranges: Seq[(Long, Long)], probe: Long): Int =
    ranges.count { case (lo, hi) => lo <= probe && probe <= hi }

  test("z-ordered copy is value-faithful to the source table") {
    val loc = ZOrderLayout.ensure(spark, sf)
    val z = spark.read.parquet(loc)
    val plain = Tables.lineitem(spark, sf)
    assert(z.count() == plain.count())
    assert(z.exceptAll(plain).isEmpty && plain.exceptAll(z).isEmpty)
    assert(z.schema == plain.schema)
  }

  test("footer stats prune on BOTH dimensions; the single-sort twin on one") {
    val li = Tables.lineitem(spark, sf)
    val nFiles = 16
    val zDir = java.nio.file.Files.createTempDirectory("graft_zord").toString + "/li"
    ZOrderLayout.write(li, zDir, nFiles)
    // the comparison twin: same file count, clustered on ship date ONLY
    val sDir = java.nio.file.Files.createTempDirectory("graft_sort").toString + "/li"
    val conf = spark.conf
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = conf.get(tsKey)
    conf.set(tsKey, "TIMESTAMP_MICROS")
    try li.repartitionByRange(nFiles, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(sDir)
    finally conf.set(tsKey, prevTs)

    assert(files(zDir).size > 4, "too few files for a pruning audit")
    // epoch micros regardless of TIMESTAMP vs TIMESTAMP_NTZ surface type
    val bounds = li.agg(min("l_partkey"), max("l_partkey"),
      unix_micros(min("l_shipdate").cast("timestamp")),
      unix_micros(max("l_shipdate").cast("timestamp"))).head()
    val pkProbe = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val tsProbe = bounds.getLong(2) / 2 + bounds.getLong(3) / 2

    val zPk = fileRanges(zDir, "l_partkey")
    val zTs = fileRanges(zDir, "l_shipdate")
    val sPk = fileRanges(sDir, "l_partkey")
    val sTs = fileRanges(sDir, "l_shipdate")

    // z-order: a point probe on EITHER dimension intersects a strict
    // minority of files (the curve's O(√files) column/row of rectangles)
    assert(hits(zPk, pkProbe) <= zPk.size / 2,
      s"partkey probe hit ${hits(zPk, pkProbe)}/${zPk.size} z-files")
    assert(hits(zTs, tsProbe) <= zTs.size / 2,
      s"shipdate probe hit ${hits(zTs, tsProbe)}/${zTs.size} z-files")
    // single-column sort: selective on its own key, BLIND on the other —
    // the partkey probe intersects (nearly) every file
    assert(hits(sTs, tsProbe) <= sTs.size / 2)
    assert(hits(sPk, pkProbe) > sPk.size * 3 / 4,
      s"sorted twin unexpectedly selective on partkey: ${hits(sPk, pkProbe)}/${sPk.size}")
  }

  test("q74 pushes both slice predicates and matches the plain-table result") {
    val df = SparkEntry.queries("q74_zorder_slice")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_partkey") &&
      plan.contains("l_shipdate"), s"slice predicates not pushed:\n${plan.take(1200)}")
    val maxPk = Tables.lineitem(spark, sf)
      .agg(max(col("l_partkey"))).head().getLong(0)
    val expect = Tables.lineitem(spark, sf)
      .filter(col("l_partkey") <= lit(maxPk / 8) &&
              col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
              col("l_shipdate") < to_timestamp(lit("1997-01-01")))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val got = df.collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(got == expect && got.nonEmpty)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.sources.{HilbertLayout, ZOrderLayout}

/** The Hilbert layout must (1) be a REAL Hilbert curve — bijective with
  * unit-step adjacency, the property that distinguishes it from Morton
  * and keeps each file's box tight; (2) produce a value-faithful copy;
  * (3) carry footer stats selective on ALL THREE clustering dimensions,
  * where the 2-dim layouts are provably blind on the third. */
class HilbertLayoutSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  // ------------------------------------------------- curve properties
  test("hilbert index is a bijection with unit-step adjacency (8x8x8 grid)") {
    val b = 3
    val cells = for (x <- 0 until 8; y <- 0 until 8; z <- 0 until 8)
      yield (x.toLong, y.toLong, z.toLong)
    val idx = cells.map(c =>
      graft.functions.HilbertIdx.compute(Array(c._1, c._2, c._3), b) -> c).toMap
    // bijective onto [0, 512)
    assert(idx.size == 512 && idx.keys.min == 0L && idx.keys.max == 511L)
    // the Hilbert property: consecutive indices are GRID-ADJACENT — one
    // coordinate moves by exactly 1 (Morton fails this at bit boundaries)
    (0L until 511L).foreach { d =>
      val (a, c) = (idx(d), idx(d + 1))
      val steps = Seq(math.abs(a._1 - c._1), math.abs(a._2 - c._2),
                      math.abs(a._3 - c._3))
      assert(steps.sum == 1 && steps.max == 1,
        s"index $d -> ${d + 1} jumps from $a to $c")
    }
  }

  test("codegen'd column path matches the shared static compute") {
    import spark.implicits._
    graft.functions.HilbertIdx.register(spark)
    val cells = for (x <- 0 until 8; y <- 0 until 8; z <- 0 until 8)
      yield (x.toLong, y.toLong, z.toLong)
    val got = cells.toDF("x", "y", "z")
      .select(col("x"), col("y"), col("z"),
        graft.functions.HilbertIdx.hilbert_idx(3, col("x"), col("y"), col("z"))
          .as("h"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    cells.foreach { c =>
      assert(got(c) ==
        graft.functions.HilbertIdx.compute(Array(c._1, c._2, c._3), 3))
    }
  }

  // ---------------------------------------------------- layout audits
  private def files(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  /** Per-file (min, max) envelope of `column` from the parquet footers
    * (the ZOrderLayoutSpec audit, reused). */
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

  test("hilbert copy is value-faithful to the source table") {
    val loc = HilbertLayout.ensure(spark, sf)
    val h = spark.read.parquet(loc)
    val plain = Tables.lineitem(spark, sf)
    assert(h.count() == plain.count())
    assert(h.exceptAll(plain).isEmpty && plain.exceptAll(h).isEmpty)
    assert(h.schema == plain.schema)
  }

  test("footer stats prune on ALL THREE dimensions; the 2-dim twin is blind on suppkey") {
    val li = Tables.lineitem(spark, sf)
    // 64 files: a one-axis slab of a 3-dim curve intersects ~files^(2/3)
    // of them (16/64), so the strict-minority assertions have headroom
    val nFiles = 64
    val hDir = TestSpark.tempDir("graft_hil") + "/li"
    HilbertLayout.write(li, hDir, nFiles)
    // the comparison twin: the existing 2-dim z-order at the same file count
    val zDir = TestSpark.tempDir("graft_hil_z") + "/li"
    ZOrderLayout.write(li, zDir, nFiles)

    assert(files(hDir).size > 8, "too few files for a pruning audit")
    val bounds = li.agg(min("l_partkey"), max("l_partkey"),
      unix_micros(min("l_shipdate").cast("timestamp")),
      unix_micros(max("l_shipdate").cast("timestamp")),
      min("l_suppkey"), max("l_suppkey")).head()
    val pkProbe = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val tsProbe = bounds.getLong(2) / 2 + bounds.getLong(3) / 2
    val skProbe = (bounds.getLong(4) + bounds.getLong(5)) / 2

    // hilbert: a point probe on ANY of the three dims hits a strict minority
    for ((colName, probe) <- Seq("l_partkey" -> pkProbe,
                                 "l_shipdate" -> tsProbe,
                                 "l_suppkey" -> skProbe)) {
      val r = fileRanges(hDir, colName)
      assert(hits(r, probe) <= r.size / 2,
        s"$colName probe hit ${hits(r, probe)}/${r.size} hilbert files")
    }
    // the 2-dim twin: selective on its own two dims, BLIND on suppkey —
    // every file spans (nearly) the full suppkey range
    val zSk = fileRanges(zDir, "l_suppkey")
    assert(hits(zSk, skProbe) > zSk.size * 3 / 4,
      s"z-2d twin unexpectedly selective on suppkey: ${hits(zSk, skProbe)}/${zSk.size}")
  }

  test("concurrent z-order and hilbert writes on one session keep its timestamp type") {
    // the MICROS swap is session-wide: both layouts must take one lock, or
    // the later writer restores MICROS (leaked) or writes INT96 (no stats)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val key = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.get(key)
    val li = Tables.lineitem(spark, sf)
    val base = TestSpark.tempDir("graft_race")
    val go = new java.util.concurrent.CountDownLatch(1)
    val layouts = Seq(ZOrderLayout, HilbertLayout)
    val writes = layouts.map(l =>
      Future { go.await(); l.write(li, s"$base/${l.name}", 16) })
    go.countDown()
    writes.foreach(Await.result(_, 5.minutes))
    assert(spark.conf.get(key) == prior, "the timestamp type leaked")
    // fileRanges asserts every file's footer carries l_shipdate min/max
    layouts.foreach(l => assert(fileRanges(s"$base/${l.name}", "l_shipdate").nonEmpty))
  }

  test("q77 pushes all three slice predicates and matches the plain-table result") {
    val df = SparkEntry.queries("q77_hilbert_slice")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_partkey") &&
      plan.contains("l_shipdate") && plan.contains("l_suppkey"),
      s"slice predicates not pushed:\n${plan.take(1500)}")
    val b = Tables.lineitem(spark, sf)
      .agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
    val expect = Tables.lineitem(spark, sf)
      .filter(col("l_partkey") <= lit(b.getLong(0) / 8) &&
              col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
              col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
              col("l_suppkey") <= lit(b.getLong(1) / 4))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val got = df.collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(got == expect && got.nonEmpty)
  }
}

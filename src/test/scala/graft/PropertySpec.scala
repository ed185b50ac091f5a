package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.superstore.SuperstoreETL

/** Property-based invariants (SURVEY.md §5): dedup-merge conservation,
  * weighted-discount bounds, lost-value sign, surrogate-key density —
  * on small generated Superstore-shaped frames. */
class PropertySpec extends AnyFunSuite {
  import TestSpark.spark

  private def checkProp(p: Prop, n: Int = 8): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private val rowGen: Gen[(String, String, Int, Double, Double, Double)] = for {
    order <- Gen.choose(1, 6).map(i => s"O-$i")
    product <- Gen.choose(1, 4).map(i => s"P-$i")
    qty <- Gen.choose(1, 9)
    sales <- Gen.choose(1, 100000).map(_ / 100.0)
    discount <- Gen.oneOf(0.0, 0.1, 0.2, 0.5, 0.8)
    profit <- Gen.choose(-50000, 50000).map(_ / 100.0)
  } yield (order, product, qty, sales, discount, profit)

  private def mkRaw(rows: List[(String, String, Int, Double, Double, Double)]) = {
    val data = rows.zipWithIndex.map { case ((o, p, q, s, d, pr), i) =>
      Row(i + 1, o, "1/1/2020", "1/3/2020", "Standard Class", "C-1", "Cust", "Consumer",
        "US", "City", "ST", "11111", "West", p, "Cat", "Sub", s"Name $p",
        s, q, d, pr)
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(data, 2),
        SuperstoreETL.rawSchema)
      .withColumn("Order Date", to_date(col("Order Date"), "M/d/yyyy"))
      .withColumn("Ship Date", to_date(col("Ship Date"), "M/d/yyyy"))
  }

  test("dedup-merge conserves Quantity/Sales/Profit; discount stays within group bounds") {
    checkProp(forAll(Gen.nonEmptyListOf(rowGen)) { rows =>
      val pre = SuperstoreETL.preprocess(mkRaw(rows))
      val (q0, s0, p0) = (rows.map(_._3).sum, rows.map(_._4).sum, rows.map(_._6).sum)
      val agg = pre.agg(sum("Quantity"), sum("Sales"), sum("Profit")).head()
      val conserved = agg.getLong(0) == q0 &&
        math.abs(agg.getDouble(1) - s0) < 1e-6 && math.abs(agg.getDouble(2) - p0) < 1e-6
      val oneRowPerKey =
        pre.count() == rows.map(r => (r._1, r._2)).distinct.size
      val discountBounded = pre.select("Order ID", "Product ID", "Discount").collect().forall { r =>
        val ds = rows.filter(x => x._1 == r.getString(0) && x._2 == r.getString(1)).map(_._5)
        r.getDouble(2) >= ds.min - 1e-9 && r.getDouble(2) <= ds.max + 1e-9
      }
      Prop(conserved && oneRowPerKey && discountBounded)
    })
  }

  test("lost value is nonnegative for discount in [0,1)") {
    checkProp(forAll(Gen.choose(0, 99).map(_ / 100.0),
                     Gen.choose(1, 100000).map(_ / 100.0)) { (d, s) =>
      Prop(s / (1 - d) - s >= -1e-12)
    }, n = 50)
  }

  test("surrogate keys are dense regardless of input shape") {
    checkProp(forAll(Gen.nonEmptyListOf(rowGen)) { rows =>
      val pre = SuperstoreETL.preprocess(mkRaw(rows))
      val dim = SuperstoreETL.productDims(pre)._2
      val ids = dim.select("product_id").collect().map(_.getInt(0)).sorted
      Prop(ids.toSeq == (1 to ids.length))
    })
  }

  test("dense_bitmap equals a reference BitSet for random positions and widths") {
    graft.functions.Natives.registerAll(spark)
    import spark.implicits._
    // widths straddle word boundaries (64-multiples and off-by-one) so the
    // last-word edge is always in play
    val widthGen = Gen.oneOf(64L, 65L, 127L, 128L, 1000L, 4096L, 4097L)
    val prop = forAll(widthGen, Gen.choose(2, 5)) { (nBits, parts) =>
      val rnd = new scala.util.Random(nBits * 31 + parts)
      val positions = List.fill(50)(math.abs(rnd.nextLong()) % nBits)
      val arr = positions.toDF("pos").repartition(parts)
        .agg(expr(s"dense_bitmap(pos, ${nBits}L)")).head.getSeq[Long](0)
      val want = positions.toSet
      (0L until nBits).forall { p =>
        (((arr((p >> 6).toInt) >>> (p & 63)) & 1L) == 1L) == want.contains(p)
      } && arr.length == ((nBits + 63) / 64).toInt
    }
    checkProp(prop)
  }

  test("q79 election: min(d1) + min_by(cos, d1) == min(struct(d1, cos)) in any arrival order") {
    // q79's own verified-pair stream; np = 4 shares more cells per pair
    // than the default 2, so more (d2, d1) keys repeat
    val s2 = spark.newSession()
    val streams = Seq(2, 4).map { np =>
      s2.conf.set("graft.semdedup.np", np.toString)
      np -> graft.operators.VectorOps.semDedupNpPairs(s2, TestSpark.sf)
        .select("d1", "d2", "cos").collect().toSeq
    }.toMap
    streams.values.foreach { rows =>
      val byPair = rows.groupBy(r => (r.getLong(1), r.getLong(0)))
      assert(byPair.exists(_._2.size > 1), "no (d2, d1) key repeats: the check is vacuous")
      assert(byPair.forall(_._2.map(_.getDouble(2)).distinct.size == 1),
        "rows sharing (d2, d1) carry different cosines")
    }
    val schema = StructType(Seq(StructField("d1", LongType), StructField("d2", LongType),
      StructField("cos", DoubleType)))
    def elect(df: DataFrame, agg: Column*): Map[Long, (Long, Double)] =
      df.groupBy(col("d2")).agg(agg.head, agg.tail: _*).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    checkProp(Prop.forAllNoShrink(Gen.oneOf(streams.keys.toSeq), Gen.choose(0L, Long.MaxValue),
        Gen.choose(1, 12)) { (np, seed, width) =>
      // the seeded order and the partition width fix which row each
      // partial aggregate sees first — the only input min_by's tie-break reads
      s2.conf.set("spark.sql.shuffle.partitions", width.toString)
      val df = s2.createDataFrame(
        s2.sparkContext.parallelize(new scala.util.Random(seed).shuffle(streams(np)), width),
        schema)
      val byMinBy = elect(df, min(col("d1")), min_by(col("cos"), col("d1")))
      val first = min(struct(col("d1"), col("cos")))
      val byStruct = elect(df, first.getField("d1"), first.getField("cos"))
      Prop(byMinBy == byStruct)
    }, n = 10)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.superstore.{Queries13, SuperstoreETL, WarehouseCache}

/** The 13-query workload: DataFrame program vs Spark SQL twin must agree
  * row-for-row on the golden warehouse, plus semantic spot checks. */
class Queries13Spec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val wh: Map[String, org.apache.spark.sql.DataFrame] = {
    val w = SuperstoreETL.build(spark, WarehouseCache.CsvPath)
      .map { case (k, v) => k -> v.cache() }
    Queries13.registerViews(w)
    w
  }

  test("every DataFrame query matches its SQL twin row-for-row") {
    wh  // force build + view registration
    for ((name, fn) <- Queries13.queries) {
      val df = fn(wh).collect().map(_.toSeq).toSeq
      val sql = spark.sql(Queries13.sqlTwins(name)).collect().map(_.toSeq).toSeq
      assert(df.size == sql.size, s"$name: ${df.size} vs ${sql.size} rows")
      df.zip(sql).zipWithIndex.foreach { case ((a, b), i) =>
        val ok = a.zip(b).forall {
          case (x: Double, y: Double) => math.abs(x - y) < 1e-6
          case (x, y) => x == y
        }
        assert(ok, s"$name row $i: $a != $b")
      }
    }
  }

  // warehouse money columns are DECIMAL(10,2) (MySQL storage parity), so
  // read them as numbers, not doubles
  private def num(r: org.apache.spark.sql.Row, i: Int): Double =
    r.get(i).asInstanceOf[Number].doubleValue

  test("q2 region profits cover all four regions and sum to total profit") {
    val rows = Queries13.q2_region_profit(wh).collect()
    assert(rows.length == 4)
    val total = num(wh("Orders").agg(sum("profit_order")).head(), 0)
    assert(math.abs(rows.map(num(_, 1)).sum - total) < 1e-6)
  }

  test("q4 rollup TOTAL equals segment sum") {
    val rows = Queries13.q4_segment_rollup(wh).collect()
    val total = num(rows.find(_.getString(0) == "TOTAL").get, 1)
    val segs = rows.filterNot(_.getString(0) == "TOTAL").map(num(_, 1)).sum
    assert(math.abs(total - segs) < 1e-6)
  }

  test("q7 delivery times are positive and ordered") {
    val t = Queries13.q7_delivery_time(wh).collect().map(_.getDouble(1))
    assert(t.forall(_ > 0))
    assert(t.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("q10 cumulative percentage ends at 100") {
    val last = num(Queries13.q10_cumulative_pct(wh)
      .orderBy(desc("cumulative_percentage")).head(), 3)
    assert(math.abs(last - 100.0) < 0.01)
  }
}

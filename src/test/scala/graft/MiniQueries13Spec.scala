package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

import graft.superstore.{Queries13, SuperstoreETL}

/** Hermetic twin of Queries13Spec on the mini Superstore CSV (see
  * MiniSuperstoreSpec for the fixture and its hand-derived warehouse).
  * Every DataFrame query must equal its SQL twin as a multiset and be
  * sorted by its declared ORDER BY key. Rows are not compared one by one:
  * the fixture has ties (q7's Second Class, Standard Class and Same Day
  * all average 3.0 days), and tied rows may come in any order. */
class MiniQueries13Spec extends AnyFunSuite {
  // own session: the SQL twins read temp views named after the tables,
  // which must not clash with another suite's warehouse views
  private lazy val spark = TestSpark.spark.newSession()

  private lazy val wh = {
    val w = SuperstoreETL.build(spark, TestSpark.superstoreMini)
    Queries13.registerViews(w)
    w
  }

  /** Each query's ORDER BY key: (column, descending). */
  private val orderKeys: Map[String, Seq[(String, Boolean)]] = Map(
    "ss_q1_monthly_sales"       -> Seq("year" -> false, "month_num" -> false),
    "ss_q2_region_profit"       -> Seq("total_profit" -> true),
    "ss_q3_top_products_qty"    -> Seq("total_quantity" -> true, "product_name" -> false),
    "ss_q4_segment_rollup"      -> Seq("segment" -> false),
    "ss_q5_profit_rank"         -> Seq("ranking" -> false, "product_name" -> false),
    "ss_q6_running_state_sales" -> Seq("state_name" -> false, "full_date" -> false,
                                       "order_code" -> false),
    "ss_q7_delivery_time"       -> Seq("average_delivery_time" -> false),
    "ss_q8_lost_value"          -> Seq("lost_value" -> true),
    "ss_q9_category_stats"      -> Seq("total_sales" -> true),
    "ss_q10_cumulative_pct"     -> Seq("cumulative_percentage" -> false),
    "ss_q11_orderm_detail"      -> Seq("state_name" -> false, "year_number" -> false,
                                       "calendar_month_number" -> false),
    "ss_q12_pareto"             -> Seq("category_name" -> false, "running_sales" -> true,
                                       "product_name" -> false),
    "ss_q13_top_concat"         -> Seq("category_name" -> false))

  /** A value as text, numbers by value to 9 places, so the two
    * formulations' rows compare whatever their numeric class. */
  private def norm(v: Any): String = v match {
    case n: Number =>
      BigDecimal(n.toString).setScale(9, BigDecimal.RoundingMode.HALF_UP).toString
    case x => String.valueOf(x)
  }

  private def multiset(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map(norm).mkString("|")).toSeq.sorted

  private def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) => BigDecimal(x.toString).compare(BigDecimal(y.toString))
    case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
  }

  test("every DataFrame query equals its SQL twin as a multiset, sorted by its ORDER BY key") {
    assert(orderKeys.keySet == Queries13.queries.keySet)
    for ((name, fn) <- Queries13.queries) {
      val df = fn(wh)
      val rows = df.collect()
      val sql = spark.sql(Queries13.sqlTwins(name))
      assert(df.columns.toSeq == sql.columns.toSeq, name)
      assert(rows.nonEmpty, name)
      assert(multiset(rows) == multiset(sql.collect()), name)
      val key = orderKeys(name)
      rows.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        val c = key.iterator.map { case (k, desc) =>
          val r = compare(a.getAs[Any](k), b.getAs[Any](k))
          if (desc) -r else r
        }.find(_ != 0).getOrElse(0)
        assert(c <= 0, s"$name: $a before $b")
      }
    }
  }

  private def pairs(name: String): Seq[(String, BigDecimal)] =
    Queries13.queries(name)(wh).collect().toSeq
      .map(r => r.getString(0) -> BigDecimal(r.get(1).toString))

  test("q2: Central 90, East -68, summing to the total profit of 22") {
    assert(pairs("ss_q2_region_profit") == Seq("Central" -> BigDecimal(90), "East" -> BigDecimal(-68)))
    assert(BigDecimal(wh("Orders").selectExpr("sum(profit_order)").head().get(0).toString) == 22)
  }

  test("q4: Consumer 490, Corporate 50, Home Office 80, TOTAL 620") {
    assert(pairs("ss_q4_segment_rollup") == Seq("Consumer" -> BigDecimal(490),
      "Corporate" -> BigDecimal(50), "Home Office" -> BigDecimal(80), "TOTAL" -> BigDecimal(620)))
  }

  test("q7: First Class takes 2 days, the other three modes tie at 3") {
    val t = pairs("ss_q7_delivery_time")
    assert(t.head == ("First Class" -> BigDecimal(2)))
    assert(t.tail.toMap == Map("Second Class" -> BigDecimal(3),
      "Standard Class" -> BigDecimal(3), "Same Day" -> BigDecimal(3)))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.superstore.SuperstoreETL

/** Hermetic ETL test on the mini Superstore CSV of FIXTURES.md §A1
  * (`src/test/resources/superstore_mini.csv`: 7 rows, windows-1252, CRLF).
  * Every expected value below is derived by hand from the ETL rules:
  *
  *  - rows 3 and 4 share (CA-2017-000002, OFF-PA-003) and merge into one
  *    row placed after every kept row, so the processed order is rows
  *    1, 2, 5, 6, 7, then the merged row — the order first-appearance ids
  *    follow;
  *  - the merged discount is quantity-weighted: (0.1·3 + 0.5·1) / 4 = 0.20
  *    (the plain mean would be 0.30), so its lost value is
  *    50 / 0.8 − 50 = 12.50;
  *  - row 5 has discount 1.0: lost value falls back to 0;
  *  - Springfield is a city in Illinois and in Massachusetts; postal code
  *    01103 is stored as 1103, as the reference's int64 read leaves it;
  *  - row 1 is ordered 12/30/2016 and shipped 1/2/2017, row 7 ordered
  *    12/31/2017 and shipped 1/2/2018: 9 dates over 3 years, 6 months;
  *  - OFF-PA-003 is named "Copy Paper™ Bulk" in row 6 (product 4) and
  *    "Copy Paper™" in the merged row (product 5): the code lookup keeps
  *    the last id, so every OFF-PA-003 item resolves to product 5.
  */
class MiniSuperstoreSpec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val wh = SuperstoreETL.build(spark, TestSpark.superstoreMini)

  /** `cols` of `df` as strings, ordered by the first (an integer id). */
  private def strings(df: DataFrame, cols: String*): Seq[Seq[String]] =
    df.select(cols.map(c => col(c).cast("string")): _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.head.toInt)

  private def rows(t: String, cols: String*): Seq[Seq[String]] = strings(wh(t), cols: _*)

  private def item(order: String): Seq[Seq[String]] =
    strings(wh("Item").filter(col("order_code") === order),
      "product_id", "quantity", "sales", "discount", "lost_value", "profit")

  test("first-appearance ids follow the processed order, merged rows last") {
    assert(rows("Customer", "customer_id", "customer_code") ==
      Seq(Seq("1", "CU-001"), Seq("2", "CU-003"), Seq("3", "CU-004"), Seq("4", "CU-002")))
    assert(rows("Shipping", "shipping_id", "ship_mode") ==
      Seq(Seq("1", "Second Class"), Seq("2", "First Class"), Seq("3", "Same Day"),
          Seq("4", "Standard Class")))
    assert(rows("Category", "category_id", "category_name") ==
      Seq(Seq("1", "Furniture"), Seq("2", "Technology"), Seq("3", "Office Supplies")))
    assert(rows("Product", "product_id", "product_code", "product_name", "sub_category_id") ==
      Seq(Seq("1", "FUR-CH-001", "Desk Chair®", "1"),
          Seq("2", "FUR-TA-002", "Oak Table 24\" wide", "2"),
          Seq("3", "TEC-PH-004", "Phone X", "3"),
          Seq("4", "OFF-PA-003", "Copy Paper™ Bulk", "4"),
          Seq("5", "OFF-PA-003", "Copy Paper™", "4")))
    assert(rows("Region", "region_id", "region_name", "country_id") ==
      Seq(Seq("1", "Central", "1"), Seq("2", "East", "1")))
    assert(rows("State", "state_id", "state_name", "region_id") ==
      Seq(Seq("1", "Illinois", "1"), Seq("2", "Massachusetts", "2"), Seq("3", "Vermont", "2")))
  }

  test("merged duplicate: measures summed, discount quantity-weighted") {
    assert(wh("Item").count() == 6)
    assert(item("CA-2017-000002") == Seq(Seq("5", "4", "50.00", "0.20", "12.50", "4.00")))
  }

  test("lost value: 0 at discount 0, guarded to 0 at discount 1.0") {
    assert(item("CA-2016-000001") == Seq(
      Seq("1", "2", "100.00", "0.20", "25.00", "10.00"),
      Seq("2", "1", "200.00", "0.00", "0.00", "50.00")))
    assert(item("CA-2017-000003") == Seq(Seq("3", "2", "80.00", "1.00", "0.00", "-80.00")))
  }

  test("city key is (City, State); postal codes lose their leading zero") {
    assert(rows("Location", "location_id", "location_code", "postal_code", "city_id",
                "city_name", "state_id") == Seq(
      Seq("1", "62701", "62701", "1", "Springfield", "1"),
      Seq("2", "1103", "1103", "2", "Springfield", "2"),
      Seq("3", "5401", "5401", "3", "Burlington", "3")))
    // two customers share 01103 Springfield MA: both resolve to location 2
    val byCustomer = wh("Item").filter(col("location_id") === 2)
      .select("customer_id").distinct().collect().map(_.getInt(0)).toSet
    assert(byCustomer == Set(2, 4))
  }

  test("calendar covers both date roles across the year boundaries") {
    assert(rows("Calendar", "calendar_id", "full_date", "year_id", "year_number",
                "month_id", "month_number", "month_name", "day_number") == Seq(
      Seq("1", "2016-12-30", "1", "2016", "1", "12", "December", "30"),
      Seq("2", "2017-01-02", "2", "2017", "2", "1", "January", "2"),
      Seq("3", "2017-03-05", "2", "2017", "3", "3", "March", "5"),
      Seq("4", "2017-03-07", "2", "2017", "3", "3", "March", "7"),
      Seq("5", "2017-03-09", "2", "2017", "3", "3", "March", "9"),
      Seq("6", "2017-04-01", "2", "2017", "4", "4", "April", "1"),
      Seq("7", "2017-04-04", "2", "2017", "4", "4", "April", "4"),
      Seq("8", "2017-12-31", "2", "2017", "5", "12", "December", "31"),
      Seq("9", "2018-01-02", "3", "2018", "6", "1", "January", "2")))
    assert(rows("CalendarMonth", "calendar_month_id", "calendar_month_number",
                "year_id", "year_number") == Seq(
      Seq("1", "12", "1", "2016"), Seq("2", "1", "2", "2017"), Seq("3", "3", "2", "2017"),
      Seq("4", "4", "2", "2017"), Seq("5", "12", "2", "2017"), Seq("6", "1", "3", "2018")))
    val orders = wh("Orders").filter(col("order_code").isin("CA-2016-000001", "CA-2017-000005"))
      .select("order_calendar_id", "shipping_calendar_id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(orders == Set((1, 2), (8, 9)))
  }

  test("product-code lookup is last-wins: every OFF-PA-003 item gets product 5") {
    val ids = wh("Item").filter(col("order_code").isin("CA-2017-000002", "CA-2017-000004"))
      .select("product_id").collect().map(_.getInt(0)).toSeq
    assert(ids.sorted == Seq(5, 5))
  }
}

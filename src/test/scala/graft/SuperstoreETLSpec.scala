package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.superstore.{SuperstoreETL, WarehouseCache}

/** Golden ETL test (SURVEY.md §5): run the full warehouse build on the
  * reference's own CSV and assert the §1.5 ground-truth cardinalities from
  * superstore_dw_export.xlsx, plus spot semantic checks. */
class SuperstoreETLSpec extends AnyFunSuite {
  import TestSpark.spark

  private val csv = WarehouseCache.CsvPath
  private lazy val wh = SuperstoreETL.build(spark, csv)

  test("all 15 tables match the reference's exported cardinalities") {
    val expected = Map(
      "Calendar" -> 1434L, "CalendarMonth" -> 49L, "Customer" -> 793L,
      "Region" -> 4L, "State" -> 49L, "Location" -> 632L,
      "Category" -> 3L, "Product" -> 1894L, "Shipping" -> 4L,
      "Item" -> 9986L, "Orders" -> 5009L, "OrderM" -> 1253L,
      "ProductPerformance" -> 2595L, "ShippingBehavior" -> 48L,
      "ShippingBehaviorS" -> 458L)
    val actual = expected.keys.map(t => t -> wh(t).count()).toMap
    assert(actual == expected,
      s"diff: ${actual.toSet.diff(expected.toSet)} vs expected ${expected.toSet.diff(actual.toSet)}")
  }

  test("surrogate keys are dense 1..n in every dimension") {
    for ((t, key) <- Seq("Calendar" -> "calendar_id", "Customer" -> "customer_id",
                         "Region" -> "region_id", "State" -> "state_id",
                         "Location" -> "location_id", "Category" -> "category_id",
                         "Product" -> "product_id", "Shipping" -> "shipping_id",
                         "CalendarMonth" -> "calendar_month_id")) {
      val ids = wh(t).select(key).collect().map(_.getInt(0)).sorted
      assert(ids.toSeq == (1 to ids.length), s"$t.$key not dense")
    }
  }

  test("dedup-merge preserves Sales/Quantity/Profit totals") {
    val raw = SuperstoreETL.readRaw(spark, csv)
      .agg(sum("Sales"), sum("Quantity"), sum("Profit")).head()
    val item = wh("Item")
      .agg(sum(col("sales").cast("double")), sum("quantity"),
           sum(col("profit").cast("double"))).head()
    // stored Item measures carry the reference's DECIMAL(10,2) storage
    // rounding (≤ half a cent per row), so conservation holds to n×0.005
    val tol = 0.005 * wh("Item").count()
    assert(math.abs(raw.getDouble(0) - item.getDouble(0)) < tol)
    assert(raw.getLong(1) == item.getLong(1))
    assert(math.abs(raw.getDouble(2) - item.getDouble(2)) < tol)
  }

  test("no fact rows were rejected by dimension lookups") {
    // Item fact row count equals the processed frame: every lookup hit.
    val pre = SuperstoreETL.preprocess(SuperstoreETL.readRaw(spark, csv))
    assert(wh("Item").count() == pre.count())
    assert(wh("Orders").count() ==
      pre.select("Order ID").distinct().count())
  }

  test("first-appearance key order: first CSV row's dims get key 1") {
    // CSV row 1: customer CG-12520, ship mode Second Class, category Furniture
    val c = wh("Customer").filter(col("customer_code") === "CG-12520")
      .select("customer_id").head().getInt(0)
    assert(c == 1)
    val s = wh("Shipping").filter(col("ship_mode") === "Second Class")
      .select("shipping_id").head().getInt(0)
    assert(s == 1)
    val cat = wh("Category").filter(col("category_name") === "Furniture")
      .select("category_id").head().getInt(0)
    assert(cat == 1)
  }

  test("cumulative profit equals its own per-group running recomputation") {
    val pp = wh("ProductPerformance")
    // total_profit is snapped to DECIMAL(10,2) per month while
    // cumulative_profit snaps the cumsum of UNROUNDED months (reference
    // semantics), so the recomputation drifts ≤ 0.005 per month (≤48)
    val bad = pp.groupBy("category_id", "state_id")
      .agg(sum("total_profit").as("tp"),
           max_by(col("cumulative_profit"), col("calendar_month_id")).as("cp"))
      .filter(abs(col("tp") - col("cp")) > 0.005 * 48).count()
    assert(bad == 0, "last cumulative_profit must equal the group's total profit")
  }

  test("windows-1252 product names survive the scan") {
    // curly right-quote (0x94) decodes to U+201D only under windows-1252
    // (iso-8859-1 would yield the C1 control char U+0094)
    val n = wh("Product").filter(col("product_name").contains("\u201d")).count()
    assert(n > 0, "expected windows-1252 curly quotes in product names")
  }
}

package graft.superstore

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** The reference's 13-query analytical workload (Data_Analysis.ipynb cells
  * 2–26) over the Spark-built warehouse, each as BOTH a DataFrame program
  * (the engine's native surface) and a Spark SQL text twin (registered
  * views) — Queries13Spec asserts the two formulations agree row-for-row.
  *
  * MySQL-isms are rewritten per SURVEY.md §2: IF(GROUPING()) → CASE WHEN
  * GROUPING() (the q4 DataFrame counts each order under TOTAL instead),
  * GROUP_CONCAT becomes a sorted collect_list join (SUBSTRING_INDEX is a
  * Spark built-in, applied with MySQL's exact separator-counting semantics
  * — see q13), DATEDIFF(a,b) → datediff(a,b). Where the reference's window
  * order is ambiguous under ties (ORDER BY i.sales DESC), a product_name
  * tiebreaker pins determinism — MySQL's tie order is arbitrary anyway.
  *
  * Q1 preserves the reference's join bug (order_calendar_id joined to
  * calendar_month_id — a day-grain FK against a month-grain PK,
  * DA:cell 2; SURVEY.md §7.3.5) for result parity.
  *
  * Each DataFrame program runs as its broadcasts plus one shuffle-free
  * stage: [[fact]] reads the fact as one partition, and the State, Region
  * and Category names come flattened from Location and Product. The SQL
  * twins and [[duckOracles]] keep the reference's join chains, so every
  * DF==SQL and oracle check also checks the flattening.
  */
object Queries13 {
  type WQ = Map[String, DataFrame] => DataFrame

  /** Fact `t` as one partition, meeting the distribution of any aggregate,
    * window or ORDER BY above it. The Superstore tables read here are one
    * parquet file each ([[WarehouseCache.write]], the benchmark), so the
    * scan was one task already, over ~10k rows: broadcast-sized data. */
  private def fact(wh: Map[String, DataFrame], t: String): DataFrame = wh(t).coalesce(1)

  /** Item with the Product columns `cols`, joined on product_id. */
  private def items(wh: Map[String, DataFrame], cols: String*): DataFrame =
    fact(wh, "Item").join(broadcast(wh("Product").select("product_id", cols: _*)), "product_id")

  /** q1 — monthly sales trend (DA:cell 2), including the reference's
    * FK-grain join bug, preserved deliberately. */
  val q1_monthly_sales: WQ = wh =>
    fact(wh, "Orders").join(broadcast(wh("CalendarMonth")),
        col("order_calendar_id") === col("calendar_month_id"))
      .groupBy(col("year_number").as("year"),
               col("calendar_month_number").as("month_num"),
               col("calendar_month_name").as("month_name"))
      .agg(sum("sales_order").as("total_sales"))
      .orderBy("year", "month_num")

  /** q2 — profit by region via the Location→State→Region chain (cell 4). */
  val q2_region_profit: WQ = wh =>
    fact(wh, "Orders")
      .join(broadcast(wh("Location").select("location_id", "region_name")), "location_id")
      .groupBy(col("region_name").as("region"))
      .agg(sum("profit_order").as("total_profit"))
      .orderBy(desc("total_profit"))

  /** q3 — top-10 products by quantity (cell 6). */
  val q3_top_products_qty: WQ = wh =>
    items(wh, "product_name")
      .groupBy("product_name")
      .agg(sum("quantity").as("total_quantity"))
      .orderBy(desc("total_quantity"), col("product_name"))
      .limit(10)

  /** q4 — sales by segment WITH ROLLUP (cell 8): each order counts under its
    * segment and under TOTAL, since `rollup()` plans an Expand whose output
    * has no partitioning, so its final aggregate would shuffle. */
  val q4_segment_rollup: WQ = wh =>
    fact(wh, "Orders")
      .join(broadcast(wh("Customer").select("customer_id", "segment")), "customer_id")
      .select(explode(array(col("segment"), lit("TOTAL"))).as("segment"), col("sales_order"))
      .groupBy("segment")
      .agg(sum("sales_order").as("total_sales"))
      .orderBy("segment")

  /** q5 — rank products by profit, top 10 (cell 10). */
  val q5_profit_rank: WQ = wh =>
    items(wh, "product_name")
      .groupBy("product_name")
      .agg(sum("profit").as("total_profit"))
      .withColumn("ranking", rank().over(Window.orderBy(desc("total_profit"))))
      .orderBy(col("ranking"), col("product_name"))
      .limit(10)

  /** q6 — running sales per state over order dates, default RANGE frame
    * (cell 12): same-date orders tie together. */
  val q6_running_state_sales: WQ = wh =>
    fact(wh, "Orders")
      .join(broadcast(wh("Location").select("location_id", "state_name")), "location_id")
      .join(broadcast(wh("Calendar").select(col("calendar_id"), col("full_date"))),
            col("order_calendar_id") === col("calendar_id"))
      .select(col("state_name"), col("full_date"), col("sales_order"), col("order_code"))
      .withColumn("running_total",
        sum("sales_order").over(Window.partitionBy("state_name").orderBy("full_date")))
      .orderBy("state_name", "full_date", "order_code")

  /** q7 — average delivery time per ship mode via the two role-playing
    * Calendar joins (cell 14), both projected from one read of Calendar. */
  val q7_delivery_time: WQ = wh => {
    val c1 = wh("Calendar").select(col("calendar_id").as("oc_id"), col("full_date").as("od"))
    val c2 = wh("Calendar").select(col("calendar_id").as("sc_id"), col("full_date").as("sd"))
    fact(wh, "Orders")
      .join(broadcast(wh("Shipping")), "shipping_id")
      .join(broadcast(c1), col("order_calendar_id") === col("oc_id"))
      .join(broadcast(c2), col("shipping_calendar_id") === col("sc_id"))
      .groupBy("ship_mode")
      .agg(avg(datediff(col("sd"), col("od"))).as("average_delivery_time"))
      .orderBy("average_delivery_time")
  }

  /** q8 — lost value per ship mode (cell 16). */
  val q8_lost_value: WQ = wh =>
    fact(wh, "Orders")
      .join(broadcast(wh("Shipping")), "shipping_id")
      .groupBy("ship_mode")
      .agg(round(sum("lost_value_order"), 2).as("lost_value"))
      .orderBy(desc("lost_value"))

  /** q9 — category sales/profit/avg discount (cell 18). The 2-dp rounded
    * average is computed as an integer-cents fixed-point snap
    * (floor(sum100/n + 0.5)/100): discount carries exactly 2 decimals, so
    * this equals MySQL's ROUND(AVG(decimal), 2) half-up while every step
    * (exact int sum → one correctly-rounded double division → IEEE
    * floor/+/÷) is bit-identical across engines — the same portability
    * discipline as q18/q28 in graft.operators. */
  val q9_category_stats: WQ = wh =>
    items(wh, "category_name")
      .groupBy("category_name")
      .agg(sum("sales").as("total_sales"), sum("profit").as("total_profit"),
           (floor(sum((col("discount") * 100).cast(LongType)).cast(DoubleType) /
                  count(lit(1)) + 0.5) / 100).as("average_discount"))
      .orderBy(desc("total_sales"))

  /** q10 — cumulative % of sales by state: window-over-aggregate + scalar
    * subquery total (cell 20). */
  val q10_cumulative_pct: WQ = wh =>
    fact(wh, "Orders")
      .join(broadcast(wh("Location").select("location_id", "state_name")), "location_id")
      .groupBy("state_name")
      .agg(sum("sales_order").as("total_sales"))
      .withColumn("accumulated_sales",
        sum("total_sales").over(Window.orderBy("state_name")))
      .withColumn("grand_total", sum("total_sales").over(Window.partitionBy()))
      // pct via q9's engine-portable double snap: floor(x*100+0.5)/100
      .select(col("state_name"), col("total_sales"), col("accumulated_sales"),
              (floor(col("accumulated_sales").cast(DoubleType) /
                     col("grand_total").cast(DoubleType) * 100 * 100 + 0.5) / 100)
                .as("cumulative_percentage"))
      .orderBy("cumulative_percentage")

  /** q11 — monthly state detail from the OrderM aggregate fact (cell 22). */
  val q11_orderm_detail: WQ = wh =>
    fact(wh, "OrderM")
      .join(broadcast(wh("CalendarMonth")), "calendar_month_id")
      .join(broadcast(wh("State").select("state_id", "state_name")), "state_id")
      .select("state_name", "year_number", "calendar_month_number",
              "calendar_month_name", "sales_month", "profit_month",
              "quantity_month", "lost_value_month")
      .orderBy("state_name", "year_number", "calendar_month_number")

  /** q12 — Pareto: products forming 80% of category sales (cell 24);
    * product_name tiebreaks the reference's ambiguous sales-DESC order. */
  val q12_pareto: WQ = wh => {
    val wRun = Window.partitionBy("category_name")
      .orderBy(desc("sales"), col("product_name"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    items(wh, "product_name", "category_name")
      .select("category_name", "product_name", "sales")
      .withColumn("running_sales", sum("sales").over(wRun))
      .withColumn("total_category_sales", sum("sales").over(Window.partitionBy("category_name")))
      .filter(col("running_sales") - col("sales") < col("total_category_sales") * 0.8)
      .orderBy(col("category_name"), desc("running_sales"), col("product_name"))
      .limit(10)
  }

  /** q13 — top-10 product names per category as one ordered string
    * (GROUP_CONCAT + SUBSTRING_INDEX, cell 26). Reproduces MySQL's exact
    * semantics: SUBSTRING_INDEX counts ', ' occurrences INCLUDING those
    * inside product names ("… Chair, Gray" consumes a slot), so the full
    * ordered concat is built first and substring_index cuts it — not a
    * clean top-10-names slice. */
  val q13_top_concat: WQ = wh =>
    items(wh, "product_name", "category_name")
      .groupBy("category_name")
      .agg(
        expr("""substring_index(array_join(transform(
                  array_sort(collect_list(named_struct('s', -sales, 'n', product_name))),
                  x -> x.n), ', '), ', ', 10)""").as("top_products"),
        sum("sales").as("total_sales"))
      .orderBy("category_name")

  val queries: Map[String, WQ] = Map(
    "ss_q1_monthly_sales"       -> q1_monthly_sales,
    "ss_q2_region_profit"       -> q2_region_profit,
    "ss_q3_top_products_qty"    -> q3_top_products_qty,
    "ss_q4_segment_rollup"      -> q4_segment_rollup,
    "ss_q5_profit_rank"         -> q5_profit_rank,
    "ss_q6_running_state_sales" -> q6_running_state_sales,
    "ss_q7_delivery_time"       -> q7_delivery_time,
    "ss_q8_lost_value"          -> q8_lost_value,
    "ss_q9_category_stats"      -> q9_category_stats,
    "ss_q10_cumulative_pct"     -> q10_cumulative_pct,
    "ss_q11_orderm_detail"      -> q11_orderm_detail,
    "ss_q12_pareto"             -> q12_pareto,
    "ss_q13_top_concat"         -> q13_top_concat,
  )

  /** Spark SQL twins (ANSI rewrites of the notebook SQL) — run against
    * temp views registered by [[registerViews]]. */
  val sqlTwins: Map[String, String] = Map(
    "ss_q1_monthly_sales" ->
      """SELECT cm.year_number AS year, cm.calendar_month_number AS month_num,
           cm.calendar_month_name AS month_name, SUM(o.sales_order) AS total_sales
         FROM Orders o JOIN CalendarMonth cm ON o.order_calendar_id = cm.calendar_month_id
         GROUP BY 1, 2, 3 ORDER BY 1, 2""",
    "ss_q2_region_profit" ->
      """SELECT r.region_name AS region, SUM(o.profit_order) AS total_profit
         FROM Orders o
         JOIN Location l ON o.location_id = l.location_id
         JOIN State s ON l.state_id = s.state_id
         JOIN Region r ON s.region_id = r.region_id
         GROUP BY 1 ORDER BY total_profit DESC""",
    "ss_q3_top_products_qty" ->
      """SELECT p.product_name, SUM(i.quantity) AS total_quantity
         FROM Item i JOIN Product p ON i.product_id = p.product_id
         GROUP BY 1 ORDER BY total_quantity DESC, p.product_name LIMIT 10""",
    "ss_q4_segment_rollup" ->
      """SELECT CASE WHEN GROUPING(c.segment) = 1 THEN 'TOTAL' ELSE c.segment END AS segment,
           SUM(o.sales_order) AS total_sales
         FROM Orders o JOIN Customer c ON o.customer_id = c.customer_id
         GROUP BY c.segment WITH ROLLUP ORDER BY segment""",
    "ss_q5_profit_rank" ->
      """SELECT product_name, total_profit,
           RANK() OVER (ORDER BY total_profit DESC) AS ranking
         FROM (SELECT p.product_name, SUM(i.profit) AS total_profit
               FROM Item i JOIN Product p ON i.product_id = p.product_id GROUP BY 1)
         ORDER BY ranking, product_name LIMIT 10""",
    "ss_q6_running_state_sales" ->
      """SELECT s.state_name, c.full_date, o.sales_order, o.order_code,
           SUM(o.sales_order) OVER (PARTITION BY s.state_name ORDER BY c.full_date) AS running_total
         FROM Orders o
         JOIN Location l ON o.location_id = l.location_id
         JOIN State s ON l.state_id = s.state_id
         JOIN Calendar c ON o.order_calendar_id = c.calendar_id
         ORDER BY s.state_name, c.full_date, o.order_code""",
    "ss_q7_delivery_time" ->
      """SELECT sh.ship_mode, AVG(DATEDIFF(c2.full_date, c1.full_date)) AS average_delivery_time
         FROM Orders o
         JOIN Shipping sh ON o.shipping_id = sh.shipping_id
         JOIN Calendar c1 ON o.order_calendar_id = c1.calendar_id
         JOIN Calendar c2 ON o.shipping_calendar_id = c2.calendar_id
         GROUP BY 1 ORDER BY average_delivery_time""",
    "ss_q8_lost_value" ->
      """SELECT sh.ship_mode, ROUND(SUM(o.lost_value_order), 2) AS lost_value
         FROM Orders o JOIN Shipping sh ON o.shipping_id = sh.shipping_id
         GROUP BY 1 ORDER BY lost_value DESC""",
    "ss_q9_category_stats" ->
      """SELECT cat.category_name, SUM(i.sales) AS total_sales,
           SUM(i.profit) AS total_profit,
           FLOOR(CAST(SUM(CAST(i.discount * 100 AS BIGINT)) AS DOUBLE)
             / COUNT(*) + 0.5) / 100 AS average_discount
         FROM Item i
         JOIN Product p ON i.product_id = p.product_id
         JOIN Category cat ON p.category_id = cat.category_id
         GROUP BY 1 ORDER BY total_sales DESC""",
    "ss_q10_cumulative_pct" ->
      """SELECT s.state_name, SUM(o.sales_order) AS total_sales,
           SUM(SUM(o.sales_order)) OVER (ORDER BY s.state_name) AS accumulated_sales,
           FLOOR(CAST(SUM(SUM(o.sales_order)) OVER (ORDER BY s.state_name) AS DOUBLE)
             / CAST((SELECT SUM(sales_order) FROM Orders) AS DOUBLE)
             * 100 * 100 + 0.5) / 100 AS cumulative_percentage
         FROM Orders o
         JOIN Location l ON o.location_id = l.location_id
         JOIN State s ON l.state_id = s.state_id
         GROUP BY s.state_name ORDER BY cumulative_percentage""",
    "ss_q11_orderm_detail" ->
      """SELECT s.state_name, cm.year_number, cm.calendar_month_number,
           cm.calendar_month_name, om.sales_month, om.profit_month,
           om.quantity_month, om.lost_value_month
         FROM OrderM om
         JOIN CalendarMonth cm ON om.calendar_month_id = cm.calendar_month_id
         JOIN State s ON om.state_id = s.state_id
         ORDER BY 1, 2, 3""",
    "ss_q12_pareto" ->
      """WITH sales_cte AS (
           SELECT cat.category_name, p.product_name, i.sales,
             SUM(i.sales) OVER (PARTITION BY cat.category_name
               ORDER BY i.sales DESC, p.product_name ROWS UNBOUNDED PRECEDING) AS running_sales,
             SUM(i.sales) OVER (PARTITION BY cat.category_name) AS total_category_sales
           FROM Item i
           JOIN Product p ON i.product_id = p.product_id
           JOIN Category cat ON p.category_id = cat.category_id)
         SELECT category_name, product_name, sales, running_sales, total_category_sales
         FROM sales_cte WHERE running_sales - sales < 0.8 * total_category_sales
         ORDER BY category_name, running_sales DESC, product_name LIMIT 10""",
    "ss_q13_top_concat" ->
      """SELECT cat.category_name,
           substring_index(array_join(transform(
             array_sort(collect_list(named_struct('s', -i.sales, 'n', p.product_name))),
             x -> x.n), ', '), ', ', 10) AS top_products,
           SUM(i.sales) AS total_sales
         FROM Item i
         JOIN Product p ON i.product_id = p.product_id
         JOIN Category cat ON p.category_id = cat.category_id
         GROUP BY 1 ORDER BY 1""",
  )

  /** Register the warehouse tables as temp views for the SQL twins. */
  def registerViews(wh: Map[String, DataFrame]): Unit =
    wh.foreach { case (name, df) => df.createOrReplaceTempView(name) }

  /** DuckDB oracles for the driver's hash gate, over the parquet warehouse
    * [[WarehouseCache]] materializes (`__WH__` is replaced by
    * [[graft.Verify]] with the actual export path). Dialect notes:
    * decimal measure sums are CAST to DOUBLE at the boundary (the
    * SparkEntry wrappers do the same — exact decimal → one
    * correctly-rounded conversion, identical in both engines); MySQL's
    * GROUP_CONCAT+SUBSTRING_INDEX becomes string_agg → split → first-10
    * slice, which reproduces substring_index's count-separators-anywhere
    * semantics; ss_q12's 0.8 threshold is compared in double exactly as
    * Spark evaluates decimal < decimal*double. */
  private def wt(t: String): String = s"read_parquet('__WH__/$t/*.parquet')"

  val duckOracles: Map[String, String] = Map(
    "ss_q1_monthly_sales" ->
      s"""SELECT cm.year_number AS "year", cm.calendar_month_number AS month_num,
            cm.calendar_month_name AS month_name,
            CAST(SUM(o.sales_order) AS DOUBLE) AS total_sales
          FROM ${wt("Orders")} o
          JOIN ${wt("CalendarMonth")} cm ON o.order_calendar_id = cm.calendar_month_id
          GROUP BY 1, 2, 3""",
    "ss_q2_region_profit" ->
      s"""SELECT r.region_name AS region,
            CAST(SUM(o.profit_order) AS DOUBLE) AS total_profit
          FROM ${wt("Orders")} o
          JOIN ${wt("Location")} l ON o.location_id = l.location_id
          JOIN ${wt("State")} s ON l.state_id = s.state_id
          JOIN ${wt("Region")} r ON s.region_id = r.region_id
          GROUP BY 1""",
    "ss_q3_top_products_qty" ->
      s"""SELECT p.product_name, CAST(SUM(i.quantity) AS BIGINT) AS total_quantity
          FROM ${wt("Item")} i JOIN ${wt("Product")} p ON i.product_id = p.product_id
          GROUP BY 1 ORDER BY total_quantity DESC, p.product_name LIMIT 10""",
    "ss_q4_segment_rollup" ->
      s"""SELECT CASE WHEN GROUPING(c.segment) = 1 THEN 'TOTAL' ELSE c.segment END AS segment,
            CAST(SUM(o.sales_order) AS DOUBLE) AS total_sales
          FROM ${wt("Orders")} o JOIN ${wt("Customer")} c ON o.customer_id = c.customer_id
          GROUP BY ROLLUP (c.segment)""",
    "ss_q5_profit_rank" ->
      s"""SELECT product_name, CAST(total_profit AS DOUBLE) AS total_profit,
            RANK() OVER (ORDER BY total_profit DESC) AS ranking
          FROM (SELECT p.product_name, SUM(i.profit) AS total_profit
                FROM ${wt("Item")} i JOIN ${wt("Product")} p ON i.product_id = p.product_id
                GROUP BY 1)
          ORDER BY ranking, product_name LIMIT 10""",
    "ss_q6_running_state_sales" ->
      s"""SELECT s.state_name, c.full_date,
            CAST(o.sales_order AS DOUBLE) AS sales_order, o.order_code,
            CAST(SUM(o.sales_order) OVER (PARTITION BY s.state_name ORDER BY c.full_date)
              AS DOUBLE) AS running_total
          FROM ${wt("Orders")} o
          JOIN ${wt("Location")} l ON o.location_id = l.location_id
          JOIN ${wt("State")} s ON l.state_id = s.state_id
          JOIN ${wt("Calendar")} c ON o.order_calendar_id = c.calendar_id""",
    "ss_q7_delivery_time" ->
      s"""SELECT sh.ship_mode,
            AVG(date_diff('day', c1.full_date, c2.full_date)) AS average_delivery_time
          FROM ${wt("Orders")} o
          JOIN ${wt("Shipping")} sh ON o.shipping_id = sh.shipping_id
          JOIN ${wt("Calendar")} c1 ON o.order_calendar_id = c1.calendar_id
          JOIN ${wt("Calendar")} c2 ON o.shipping_calendar_id = c2.calendar_id
          GROUP BY 1""",
    "ss_q8_lost_value" ->
      s"""SELECT sh.ship_mode, CAST(SUM(o.lost_value_order) AS DOUBLE) AS lost_value
          FROM ${wt("Orders")} o JOIN ${wt("Shipping")} sh ON o.shipping_id = sh.shipping_id
          GROUP BY 1""",
    "ss_q9_category_stats" ->
      s"""SELECT cat.category_name, CAST(SUM(i.sales) AS DOUBLE) AS total_sales,
            CAST(SUM(i.profit) AS DOUBLE) AS total_profit,
            FLOOR(CAST(SUM(CAST(i.discount * 100 AS BIGINT)) AS DOUBLE)
              / COUNT(*) + 0.5) / 100 AS average_discount
          FROM ${wt("Item")} i
          JOIN ${wt("Product")} p ON i.product_id = p.product_id
          JOIN ${wt("Category")} cat ON p.category_id = cat.category_id
          GROUP BY 1""",
    "ss_q10_cumulative_pct" ->
      s"""SELECT s.state_name, CAST(SUM(o.sales_order) AS DOUBLE) AS total_sales,
            CAST(SUM(SUM(o.sales_order)) OVER (ORDER BY s.state_name) AS DOUBLE)
              AS accumulated_sales,
            FLOOR(CAST(SUM(SUM(o.sales_order)) OVER (ORDER BY s.state_name) AS DOUBLE)
              / CAST((SELECT SUM(sales_order) FROM ${wt("Orders")}) AS DOUBLE)
              * 100 * 100 + 0.5) / 100 AS cumulative_percentage
          FROM ${wt("Orders")} o
          JOIN ${wt("Location")} l ON o.location_id = l.location_id
          JOIN ${wt("State")} s ON l.state_id = s.state_id
          GROUP BY s.state_name""",
    "ss_q11_orderm_detail" ->
      s"""SELECT s.state_name, cm.year_number, cm.calendar_month_number,
            cm.calendar_month_name,
            CAST(om.sales_month AS DOUBLE) AS sales_month,
            CAST(om.profit_month AS DOUBLE) AS profit_month,
            CAST(om.quantity_month AS DOUBLE) AS quantity_month,
            CAST(om.lost_value_month AS DOUBLE) AS lost_value_month
          FROM ${wt("OrderM")} om
          JOIN ${wt("CalendarMonth")} cm ON om.calendar_month_id = cm.calendar_month_id
          JOIN ${wt("State")} s ON om.state_id = s.state_id""",
    "ss_q12_pareto" ->
      s"""WITH sales_cte AS (
            SELECT cat.category_name, p.product_name, i.sales,
              SUM(i.sales) OVER (PARTITION BY cat.category_name
                ORDER BY i.sales DESC, p.product_name ROWS UNBOUNDED PRECEDING) AS running_sales,
              SUM(i.sales) OVER (PARTITION BY cat.category_name) AS total_category_sales
            FROM ${wt("Item")} i
            JOIN ${wt("Product")} p ON i.product_id = p.product_id
            JOIN ${wt("Category")} cat ON p.category_id = cat.category_id)
          SELECT category_name, product_name, CAST(sales AS DOUBLE) AS sales,
            CAST(running_sales AS DOUBLE) AS running_sales,
            CAST(total_category_sales AS DOUBLE) AS total_category_sales
          FROM sales_cte
          WHERE CAST(running_sales - sales AS DOUBLE)
            < CAST(total_category_sales AS DOUBLE) * CAST(0.8 AS DOUBLE)
          ORDER BY category_name, running_sales DESC, product_name LIMIT 10""",
    "ss_q13_top_concat" ->
      s"""SELECT cat.category_name,
            array_to_string(list_slice(string_split(
              string_agg(p.product_name, ', ' ORDER BY i.sales DESC, p.product_name),
              ', '), 1, 10), ', ') AS top_products,
            CAST(SUM(i.sales) AS DOUBLE) AS total_sales
          FROM ${wt("Item")} i
          JOIN ${wt("Product")} p ON i.product_id = p.product_id
          JOIN ${wt("Category")} cat ON p.category_id = cat.category_id
          GROUP BY 1""",
  )
}

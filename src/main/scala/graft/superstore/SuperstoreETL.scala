package graft.superstore

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Reference-parity star-schema ETL (SURVEY.md §1, §7): Superstore CSV →
  * 9 dimensions + 6 facts, as pure DataFrame transformations.
  *
  * The reference (etl.py) is row-at-a-time pandas + MySQL AUTO_INCREMENT;
  * its observable semantics are (a) *first-appearance* surrogate keys —
  * insertion order of pandas drop_duplicates — and (b) merge-then-append
  * duplicate handling (etl.py:57-134). Both are reproduced exactly with a
  * deterministic `pos` ordering column instead of any sequential execution:
  *
  *  - kept rows: pos = Row ID (the CSV is Row-ID-ordered);
  *  - merged duplicate rows are appended AFTER all kept rows in sorted
  *    (Order ID, Product ID) order — pandas groupby sorts its keys
  *    (etl.py:76-79, concat at :130);
  *  - each dimension key = row_number over min(pos) per natural key.
  *
  * Surrogate-key windows are single-partition but bounded by dimension
  * cardinality (≤ thousands) — fact tables never need global sequencing, so
  * the design holds at any fact-table scale (SURVEY.md §7.3).
  *
  * Every dimension (and every internal id map and fact lookup) is
  * computed when its function is called and returned as driver-local
  * rows, under the same cardinality bound every `broadcast()` join here
  * already assumes; [[build]] calls each function once.
  * Facts stay lazy and distributed and join those rows, so no fact ever
  * re-derives a dimension from `pre`.
  */
object SuperstoreETL {

  val rawSchema: StructType = StructType(Seq(
    StructField("Row ID", IntegerType),
    StructField("Order ID", StringType),
    StructField("Order Date", StringType),
    StructField("Ship Date", StringType),
    StructField("Ship Mode", StringType),
    StructField("Customer ID", StringType),
    StructField("Customer Name", StringType),
    StructField("Segment", StringType),
    StructField("Country", StringType),
    StructField("City", StringType),
    StructField("State", StringType),
    StructField("Postal Code", StringType),
    StructField("Region", StringType),
    StructField("Product ID", StringType),
    StructField("Category", StringType),
    StructField("Sub-Category", StringType),
    StructField("Product Name", StringType),
    StructField("Sales", DoubleType),
    StructField("Quantity", IntegerType),
    StructField("Discount", DoubleType),
    StructField("Profit", DoubleType)))

  /** S1 — pinned-schema windows-1252 CSV scan (etl.py:47-54). Spark 4
    * whitelists charsets; the legacy flag restores full Java charset
    * support (windows-1252 ≠ iso-8859-1 in the 0x80–0x9F range: ™ et al). */
  def readRaw(spark: SparkSession, csvPath: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.javaCharsets", "true")
    spark.read
      .option("header", "true")
      .option("encoding", "windows-1252")
      // the CSV escapes quotes by doubling (RFC 4180), e.g. 24"" monitors —
      // Spark's default escape is backslash and silently shifts 291 rows
      .option("escape", "\"")
      .schema(rawSchema)
      .csv(csvPath)
      .withColumn("Order Date", to_date(col("Order Date"), "M/d/yyyy"))
      .withColumn("Ship Date", to_date(col("Ship Date"), "M/d/yyyy"))
      // pandas reads Postal Code as int64 and the reference str()s it, so
      // '05408' (Burlington VT) is stored as '5408' — normalize identically
      // for value-level parity with the exported warehouse
      .withColumn("Postal Code", col("Postal Code").cast(LongType).cast(StringType))
  }

  /** P1/P2 — merge duplicate (Order ID, Product ID) rows in one pass:
    * measures aggregated (quantity-weighted discount), all other columns
    * from the first row; merged rows positioned after every kept row in
    * sorted key order, mirroring the reference's remove-and-append. */
  def preprocess(raw: DataFrame): DataFrame = {
    val grpW = Window.partitionBy("Order ID", "Product ID")
    val withCnt = raw.withColumn("grp_n", count(lit(1)).over(grpW))
    val kept = withCnt.filter(col("grp_n") === 1).drop("grp_n")
      .withColumn("pos", col("Row ID").cast(LongType))

    val otherCols = rawSchema.fieldNames
      .filterNot(Set("Quantity", "Sales", "Discount", "Profit"))
    val merged = withCnt.filter(col("grp_n") > 1)
      .groupBy(col("Order ID").as("k_order"), col("Product ID").as("k_product"))
      .agg(
        min_by(struct(otherCols.map(col): _*), col("Row ID")).as("first_row"),
        sum(col("Quantity")).as("Quantity"),
        sum(col("Sales")).as("Sales"),
        (sum(col("Discount") * col("Quantity")) / sum(col("Quantity"))).as("Discount"),
        sum(col("Profit")).as("Profit"))
      .withColumn("pos",   // offset provably beyond the IntegerType Row-ID domain
        lit(1L << 33) + row_number().over(Window.orderBy("k_order", "k_product")))
      .select(otherCols.map(c => col(s"first_row.`$c`").as(c)) ++
              Seq(col("Sales"), col("Quantity").cast(IntegerType).as("Quantity"),
                  col("Discount"), col("Profit"), col("pos")): _*)

    kept.select(merged.columns.map(c => col(s"`$c`")): _*).unionByName(merged)
  }

  /** First-appearance surrogate key: row_number over min(pos) per natural
    * key — the exact AUTO_INCREMENT order of the reference's row-wise
    * inserts (§7.3). */
  private def firstAppearance(df: DataFrame, idName: String, keys: Seq[String],
                              carry: Seq[String] = Seq.empty): DataFrame = {
    val allCols = (keys ++ carry).distinct
    df.groupBy(allCols.map(c => col(s"`$c`")): _*)
      .agg(min(col("pos")).as("fa"))
      .withColumn(idName, row_number().over(Window.orderBy("fa")).cast(IntegerType))
      .drop("fa")
  }

  // ------------------------------------------------------------- dimensions

  /** A computed dimension as a driver-local relation (`LocalRelation`):
    * plans that join it read its rows, not the lineage that derived them.
    * Catalyst plans each action independently, so a lazy dimension would be
    * recomputed by every table that uses it. Every dimension function below
    * returns its tables (and builds its id maps) through this. */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** Calendar + CalendarMonth (etl.py:163-251): sorted union of the two
    * date roles; year_id = rank of year; calendar_month_id chronological. */
  def calendarDims(pre: DataFrame): (DataFrame, DataFrame) = {
    val dates = pre.select(col("Order Date").as("full_date"))
      .union(pre.select(col("Ship Date")))
      .distinct()
    val withYear = dates
      .withColumn("year_number", year(col("full_date")))
      .withColumn("year_id", dense_rank().over(Window.orderBy("year_number")))
      .withColumn("month_number", month(col("full_date")))
      .withColumn("month_name", date_format(col("full_date"), "MMMM"))
      .withColumn("day_number", dayofmonth(col("full_date")))
      .withColumn("day_id", dayofmonth(col("full_date")))
    val calendarMonth = local(withYear
      .select("year_id", "year_number", "month_number", "month_name")
      .distinct()
      .withColumn("calendar_month_id",
        row_number().over(Window.orderBy("year_number", "month_number")).cast(IntegerType))
      .select(col("calendar_month_id"),
              col("month_number").as("calendar_month_number"),
              col("month_name").as("calendar_month_name"),
              col("year_id"), col("year_number")))
    val calendar = local(withYear
      .withColumn("calendar_id",
        row_number().over(Window.orderBy("full_date")).cast(IntegerType))
      .join(calendarMonth.select(col("calendar_month_id").as("month_id"),
              col("year_id"), col("calendar_month_number").as("month_number")),
            Seq("year_id", "month_number"))
      .select("calendar_id", "full_date", "year_id", "year_number",
              "month_id", "month_number", "month_name", "day_id", "day_number"))
    (calendar, calendarMonth)
  }

  def customerDim(pre: DataFrame): DataFrame =
    local(firstAppearance(pre, "customer_id",
      Seq("Customer ID", "Customer Name", "Segment"))
      .select(col("customer_id"), col("Customer ID").as("customer_code"),
              col("Customer Name").as("customer_name"), col("Segment").as("segment")))

  /** Country/city level ids come from their own first-appearance mappings
    * (etl.py:137-159), not from the owning dimension's key order. */
  def geographyDims(pre: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val countryIds = local(firstAppearance(pre, "country_id", Seq("Country")))
    val cityIds = local(firstAppearance(pre, "city_id", Seq("City", "State")))

    val region = local(firstAppearance(pre, "region_id", Seq("Region", "Country"))
      .join(broadcast(countryIds), "Country")
      .select(col("region_id"), col("Region").as("region_name"),
              col("country_id"), col("Country").as("country_name")))

    val state = local(firstAppearance(pre, "state_id", Seq("State", "Region", "Country"))
      .join(broadcast(region.select(col("region_name").as("Region"), col("region_id"))), "Region")
      .join(broadcast(countryIds), "Country")
      .select(col("state_id"), col("State").as("state_name"),
              col("region_id"), col("Region").as("region_name"),
              col("country_id"), col("Country").as("country_name")))

    val location = local(firstAppearance(pre, "location_id",
        Seq("Postal Code", "City", "State", "Country", "Region"))
      .join(broadcast(state.select(col("state_name").as("State"), col("state_id"))), "State")
      .join(broadcast(region.select(col("region_name").as("Region"), col("region_id"))), "Region")
      .join(broadcast(countryIds), "Country")
      .join(broadcast(cityIds), Seq("City", "State"))
      .select(col("location_id"), col("Postal Code").as("location_code"),
              col("country_id"), col("Country").as("country_name"),
              col("state_id"), col("State").as("state_name"),
              col("city_id"), col("City").as("city_name"),
              col("Postal Code").as("postal_code"),
              col("region_id"), col("Region").as("region_name")))
    (region, state, location)
  }

  def shippingDim(pre: DataFrame): DataFrame =
    local(firstAppearance(pre, "shipping_id", Seq("Ship Mode"))
      .select(col("shipping_id"), col("Ship Mode").as("ship_mode")))

  def productDims(pre: DataFrame): (DataFrame, DataFrame) = {
    val category = local(firstAppearance(pre, "category_id", Seq("Category"))
      .select(col("category_id"), col("Category").as("category_name")))
    val subCatIds = local(firstAppearance(pre, "sub_category_id", Seq("Sub-Category")))
    val product = local(firstAppearance(pre, "product_id",
        Seq("Product ID", "Product Name", "Category", "Sub-Category"))
      .join(broadcast(category.select(col("category_name").as("Category"), col("category_id"))), "Category")
      .join(broadcast(subCatIds), "Sub-Category")
      .select(col("product_id"), col("Product ID").as("product_code"),
              col("Product Name").as("product_name"),
              col("category_id"), col("Category").as("category_name"),
              col("sub_category_id"), col("Sub-Category").as("sub_category_name")))
    (category, product)
  }

  // ------------------------------------------------------------------ facts

  private def lostValue(sales: Column, discount: Column): Column =
    when(discount < 1, sales / (lit(1) - discount) - sales).otherwise(lit(0.0))

  /** MySQL DECIMAL(10,2) storage semantics (setup_database.sql:118-166):
    * the reference computes measures in Python float64 and the INSERT
    * rounds the value's decimal text half-away-from-zero to 2 digits.
    * Spark's round() on a double goes through the same shortest-repr text
    * (Decimal(Double.toString)) with HALF_UP — the identical operation —
    * so this snap reproduces the stored warehouse cell-for-cell (asserted
    * by GoldenExportSpec against superstore_dw_export.xlsx). */
  private def snap2(c: Column): Column =
    round(c.cast(DoubleType), 2).cast(DecimalType(10, 2))

  /** Python-parity float sum: the reference accumulates float64 measures
    * row by row in processed-frame order (etl.py iterrows at :582, :744,
    * :858), and float addition is not associative — an unordered (or exact
    * decimal) sum lands on the other side of a half-cent boundary for a
    * handful of cells (e.g. Orders CA-2017-153045: exact 1370.535 → .54,
    * Python float order-sum reprs 1370.53…9 → .53). Folding the doubles in
    * `pos` order reproduces the reference bit-for-bit. Groups here are
    * bounded (items per order, rows per state-month of one retail dataset)
    * — this is reference-parity code, not the scalable aggregation path
    * (that's Num.dsum's exact decimals in graft.operators). */
  private def fsumOrdered(v: Column, pos: Column): Column = {
    val pairs = sort_array(collect_list(struct(pos.as("p"), v.cast(DoubleType).as("x"))))
    aggregate(transform(pairs, p => p.getField("x")), lit(0.0), (acc, x) => acc + x)
  }

  /** Kahan-parity sum: pandas 2.x groupby().sum() runs Cython `group_sum`
    * — classic Kahan compensated summation (y = v - c; t = s + y;
    * c = t - s - y; s = t) over the frame in row order. Kahan is close to
    * but NOT always the correctly-rounded true sum, and for a couple of
    * cells sitting exactly on a half-cent boundary (OrderM profit_month,
    * ProductPerformance total_profit) the 1-ulp difference flips the
    * stored DECIMAL(10,2) rounding — so we replay the identical float
    * algorithm in `pos` order rather than summing exactly. Used for the
    * measures the reference aggregates via pandas groupby
    * (OrderM/ProductPerformance sales/profit), NOT for its iterrows
    * accumulators (those need the uncompensated [[fsumOrdered]]). */
  private def kahanFold(values: Column): Column =
    aggregate(
      values,
      struct(lit(0.0).as("s"), lit(0.0).as("c")),
      (acc, x) => {
        val y = x - acc.getField("c")
        val t = acc.getField("s") + y
        struct(t.as("s"), (t - acc.getField("s") - y).as("c"))
      },
      acc => acc.getField("s"))

  private def kahanOrdered(v: Column, pos: Column): Column = {
    val pairs = sort_array(collect_list(struct(pos.as("p"), v.cast(DoubleType).as("x"))))
    kahanFold(transform(pairs, p => p.getField("x")))
  }

  /** The reference resolves fact FKs through Python dicts keyed by natural
    * key (etl.py:452-471): duplicated natural keys OVERWRITE, so the
    * last-inserted (= highest) surrogate id wins — product_code maps 1,894
    * rows onto 1,862 codes. A plain join would fan out; this lookup
    * replicates the dict. [[build]] computes each lookup once and hands it
    * to every fact that resolves through it. */
  private def lastWins(dim: DataFrame, id: String, keys: String*): DataFrame =
    local(dim.groupBy(keys.map(c => col(s"`$c`")): _*).agg(max(col(id)).as(id)))

  /** Item fact (etl.py:444-556): one row per processed order-item; inner
    * broadcast joins replace the dict lookups (misses would be rejects —
    * none occur on the reference data, asserted in the spec). The
    * `…ByCode`/`locationByKey` arguments are [[lastWins]] lookups. */
  def itemFact(pre: DataFrame, customerByCode: DataFrame,
               productByCode: DataFrame, calendar: DataFrame,
               locationByKey: DataFrame): DataFrame =
    pre
      .join(broadcast(customerByCode), pre("Customer ID") === col("customer_code"))
      .join(broadcast(productByCode), pre("Product ID") === col("product_code"))
      .join(broadcast(calendar.select(col("calendar_id"), col("full_date"))),
            pre("Order Date") === col("full_date"))
      .join(broadcast(locationByKey),
            pre("Postal Code") === col("postal_code") && pre("City") === col("city_name"))
      .select(col("customer_id"), col("location_id"), col("calendar_id"),
              col("product_id"), col("Order ID").as("order_code"),
              col("Quantity").as("quantity"), snap2(col("Sales")).as("sales"),
              round(col("Discount"), 2).cast(DecimalType(3, 2)).as("discount"),
              snap2(lostValue(col("Sales"), col("Discount"))).as("lost_value"),
              snap2(col("Profit")).as("profit"))

  /** Orders fact (etl.py:557-681): per-order rollup; order-level attributes
    * from the first row (min pos), measures summed, two role-playing
    * calendar keys. */
  def ordersFact(pre: DataFrame, customerByCode: DataFrame,
                 calendar: DataFrame, locationByKey: DataFrame,
                 shipping: DataFrame): DataFrame = {
    val firstCols = Seq("Order Date", "Ship Date", "Customer ID",
      "Postal Code", "City", "Ship Mode")
    val rolled = pre.groupBy(col("Order ID").as("order_code"))
      .agg(
        min_by(struct(firstCols.map(c => col(s"`$c`")): _*), col("pos")).as("f"),
        sum(col("Quantity")).as("quantity_order"),
        fsumOrdered(col("Sales"), col("pos")).as("sales_order"),
        fsumOrdered(col("Profit"), col("pos")).as("profit_order"),
        fsumOrdered(lostValue(col("Sales"), col("Discount")), col("pos")).as("lost_value_order"))
      .select(col("order_code"),
              col("f.`Order Date`").as("od"), col("f.`Ship Date`").as("sd"),
              col("f.`Customer ID`").as("cc"), col("f.`Postal Code`").as("pc"),
              col("f.`City`").as("ct"), col("f.`Ship Mode`").as("sm"),
              col("quantity_order"), snap2(col("sales_order")).as("sales_order"),
              snap2(col("profit_order")).as("profit_order"),
              snap2(col("lost_value_order")).as("lost_value_order"))
    val oc = calendar.select(col("calendar_id").as("order_calendar_id"),
      col("full_date").as("ocd"))
    val sc = calendar.select(col("calendar_id").as("shipping_calendar_id"),
      col("full_date").as("scd"))
    rolled
      .join(broadcast(oc), col("od") === col("ocd"))
      .join(broadcast(sc), col("sd") === col("scd"))
      .join(broadcast(customerByCode), col("cc") === col("customer_code"))
      .join(broadcast(locationByKey),
            col("pc") === col("postal_code") && col("ct") === col("city_name"))
      .join(broadcast(shipping), col("sm") === shipping("ship_mode"))
      .select(col("order_calendar_id"), col("shipping_calendar_id"),
              col("customer_id"), col("location_id"), col("shipping_id"),
              col("order_code"), col("sales_order"),
              col("quantity_order").cast(DecimalType(10, 2)).as("quantity_order"),
              col("lost_value_order"), col("profit_order"))
  }

  /** OrderM (etl.py:685-811): month × state aggregate with lost value. */
  def orderMFact(pre: DataFrame, calendarMonth: DataFrame, state: DataFrame): DataFrame =
    pre
      .groupBy(year(col("Order Date")).as("y"), month(col("Order Date")).as("m"),
               col("State"))
      .agg(kahanOrdered(col("Sales"), col("pos")).as("sales_month"),
           sum(col("Quantity")).cast(DecimalType(10, 2)).as("quantity_month"),
           kahanOrdered(col("Profit"), col("pos")).as("profit_month"),
           // lost_value is the one OrderM measure the reference accumulates
           // row-by-row (etl.py:720-741), not via pandas groupby
           fsumOrdered(lostValue(col("Sales"), col("Discount")), col("pos")).as("lost_value_month"))
      .join(broadcast(calendarMonth.select(col("calendar_month_id"),
              col("year_number").as("y"), col("calendar_month_number").as("m"))),
            Seq("y", "m"))
      .join(broadcast(state.select(col("state_id"), col("state_name").as("State"))), "State")
      .select(col("calendar_month_id"), col("state_id"),
              snap2(col("sales_month")).as("sales_month"), col("quantity_month"),
              snap2(col("lost_value_month")).as("lost_value_month"),
              snap2(col("profit_month")).as("profit_month"))

  /** ProductPerformance (etl.py:815-930): category × state × month with
    * grouped cumulative profit (ROWS running sum ordered by year, month). */
  def productPerformanceFact(pre: DataFrame, category: DataFrame,
                             state: DataFrame, calendarMonth: DataFrame): DataFrame = {
    val w = Window.partitionBy("Category", "State").orderBy("y", "m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre
      .groupBy(col("Category"), col("State"),
               year(col("Order Date")).as("y"), month(col("Order Date")).as("m"))
      .agg(kahanOrdered(col("Sales"), col("pos")).as("total_sales"),
           kahanOrdered(col("Profit"), col("pos")).as("total_profit"),
           sum(col("Quantity")).as("total_quantity"))
      // cumulate the UNROUNDED monthly profit (the reference cumsums raw
      // floats and only the stored value is rounded). pandas group_cumsum
      // is Kahan-compensated like group_sum, so replay the same fold over
      // the window prefix (bounded: ≤48 months per Category×State).
      .withColumn("cumulative_profit", kahanFold(collect_list(col("total_profit")).over(w)))
      .join(broadcast(category.select(col("category_id"), col("category_name").as("Category"))), "Category")
      .join(broadcast(state.select(col("state_id"), col("state_name").as("State"))), "State")
      .join(broadcast(calendarMonth.select(col("calendar_month_id"),
              col("year_number").as("y"), col("calendar_month_number").as("m"))),
            Seq("y", "m"))
      .select(col("category_id"), col("state_id"), col("calendar_month_id"),
              snap2(col("total_sales")).as("total_sales"),
              snap2(col("total_profit")).as("total_profit"),
              snap2(col("cumulative_profit")).as("cumulative_profit"),
              col("total_quantity"))
  }

  /** ShippingBehavior[S] (etl.py:933-1131): mean delay per grain rounded
    * half-even (Python round — NOT half-up, hence bround), freq = item-row
    * count. */
  def shippingBehaviorFacts(pre: DataFrame, shipping: DataFrame,
                            category: DataFrame, region: DataFrame,
                            state: DataFrame): (DataFrame, DataFrame) = {
    def base(grain: String) = pre
      .withColumn("delay", datediff(col("Ship Date"), col("Order Date")))
      .groupBy(col("Ship Mode"), col("Category"), col(grain))
      .agg(bround(avg(col("delay"))).cast(IntegerType).as("shipping_delay"),
           count(lit(1)).cast(IntegerType).as("method_freq"))
      .join(broadcast(shipping), col("Ship Mode") === shipping("ship_mode"))
      .join(broadcast(category.select(col("category_id"), col("category_name").as("Category"))), "Category")
    val sb = base("Region")
      .join(broadcast(region.select(col("region_id"), col("region_name").as("Region"))), "Region")
      .select("shipping_id", "category_id", "region_id", "shipping_delay", "method_freq")
    val sbs = base("State")
      .join(broadcast(state.select(col("state_id"), col("state_name").as("State"))), "State")
      .select("shipping_id", "category_id", "state_id", "shipping_delay", "method_freq")
    (sb, sbs)
  }

  // ------------------------------------------------------------ orchestrate

  /** Full warehouse build: CSV → 15 named tables (SURVEY.md §1.5 gives the
    * expected cardinalities on the reference CSV). The 9 dimensions, their
    * id maps and the fact lookups are computed here, once each, and
    * returned as driver-local relations; the 6 facts are returned lazy. */
  def build(spark: SparkSession, csvPath: String): Map[String, DataFrame] = {
    val pre = preprocess(readRaw(spark, csvPath)).cache()
    val (calendar, calendarMonth) = calendarDims(pre)
    val customer = customerDim(pre)
    val customerByCode = lastWins(customer, "customer_id", "customer_code")
    val (region, state, location) = geographyDims(pre)
    val locationByKey = lastWins(location, "location_id", "postal_code", "city_name")
    val shipping = shippingDim(pre)
    val (category, product) = productDims(pre)
    val productByCode = lastWins(product, "product_id", "product_code")
    val item = itemFact(pre, customerByCode, productByCode, calendar, locationByKey)
    val orders = ordersFact(pre, customerByCode, calendar, locationByKey, shipping)
    val orderM = orderMFact(pre, calendarMonth, state)
    val productPerformance = productPerformanceFact(pre, category, state, calendarMonth)
    val (shippingBehavior, shippingBehaviorS) =
      shippingBehaviorFacts(pre, shipping, category, region, state)
    Map(
      "Calendar" -> calendar, "CalendarMonth" -> calendarMonth,
      "Customer" -> customer, "Region" -> region, "State" -> state,
      "Location" -> location, "Category" -> category, "Product" -> product,
      "Shipping" -> shipping,
      "Item" -> item, "Orders" -> orders, "OrderM" -> orderM,
      "ProductPerformance" -> productPerformance,
      "ShippingBehavior" -> shippingBehavior,
      "ShippingBehaviorS" -> shippingBehaviorS)
  }
}

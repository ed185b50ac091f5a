package graft.superstore

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped materialized warehouse for the SparkEntry `ss_*` queries.
  *
  * On first access per session the full Superstore ETL
  * ([[SuperstoreETL.build]], cell-level-parity-tested against the reference
  * export) runs once and every table is written to parquet under [[dir]];
  * the returned map holds plain parquet scans over that output. Downstream
  * queries therefore plan against ordinary file relations — the realistic
  * deployment shape (ETL job writes the warehouse, query layer reads it) —
  * and the driver's DuckDB oracle can read the very same files, which is
  * what makes the 13-query reference workload hash-attestable.
  *
  * `graft.wh.dir` (set by [[graft.Verify]] to a sibling of its output dir)
  * overrides the location so the oracle SQL's absolute `read_parquet`
  * paths stay valid when the driver later replays them in DuckDB.
  */
object WarehouseCache {
  val CsvPath = "/root/reference/Sample - Superstore.csv"

  val tableNames: Seq[String] = Seq("Calendar", "CalendarMonth", "Category",
    "Customer", "Item", "Location", "OrderM", "Orders", "Product",
    "ProductPerformance", "Region", "Shipping", "ShippingBehavior",
    "ShippingBehaviorS", "State")

  def dir: String = sys.props.getOrElse("graft.wh.dir",
    s"${System.getProperty("java.io.tmpdir")}/graft_wh")

  private val cache =
    new ConcurrentHashMap[(SparkSession, String), Try[Map[String, DataFrame]]]

  def get(spark: SparkSession): Map[String, DataFrame] = {
    val d = dir
    once(spark, d)(write(SuperstoreETL.build(spark, CsvPath), d))
  }

  /** Runs `build` at most once per (session, dir). A failed build is
    * remembered and its exception rethrown to every later caller, so a
    * missing reference CSV fails each `ss_*` query loudly without
    * re-running the ETL per query. */
  private[graft] def once(spark: SparkSession, d: String)(
      build: => Map[String, DataFrame]): Map[String, DataFrame] =
    cache.computeIfAbsent((spark, d), _ => Try(build)).get

  /** Writes each of the 15 tables of a built warehouse to `dir/<table>` as
    * one parquet file and returns plain parquet scans over what was
    * written, so queries plan against the files, not the ETL lineage. */
  def write(built: Map[String, DataFrame], dir: String): Map[String, DataFrame] = {
    tableNames.foreach { t =>
      built(t).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t")
    }
    val spark = built(tableNames.head).sparkSession
    tableNames.map(t => t -> spark.read.parquet(s"$dir/$t")).toMap
  }
}

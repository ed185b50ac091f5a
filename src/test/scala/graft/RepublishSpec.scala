package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.superstore.{SuperstoreETL, WarehouseCache}

/** Batch-republish id-stability: the reference's surrogate ids are
  * order-coupled GLOBALLY (calendar_id = row_number over sorted dates,
  * dims key on first appearance), which is WHY incremental maintenance of
  * this schema was analyzed and declined (NOTES_r2) in favor of batch
  * republish. This spec demonstrates the republish invariants once:
  *
  *  - appending rows whose dates/entities sort AFTER everything existing
  *    is id-stable: every existing calendar/customer/product id survives
  *    the rebuild unchanged, and new entities take the next ids;
  *  - appending a row with an EARLIER date renumbers every later
  *    calendar id by exactly one — the non-incremental coupling, made
  *    visible rather than assumed.
  */
class RepublishSpec extends AnyFunSuite {
  import TestSpark.spark

  private val src = WarehouseCache.CsvPath

  /** Copy of the source CSV with `rows` appended (windows-1252, CRLF —
    * the source file's own conventions). */
  private def withAppended(rows: Seq[String]): String = {
    val out = Files.createTempFile("superstore-append", ".csv")
    Files.write(out, Files.readAllBytes(Paths.get(src)))
    Files.write(out, rows.mkString("", "\r\n", "\r\n").getBytes("windows-1252"),
      StandardOpenOption.APPEND)
    out.toString
  }

  private def idMap(df: org.apache.spark.sql.DataFrame,
                    id: String, key: String): Map[String, Int] =
    df.select(col(key).cast("string"), col(id).cast("int"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  test("append-at-end republish keeps existing ids; earlier-date append renumbers") {
    val base = SuperstoreETL.build(spark, src)
    val calBase = idMap(base("Calendar"), "calendar_id", "full_date")
    val custBase = idMap(base("Customer"), "customer_id", "customer_code")
    val prodBase = idMap(base("Product"), "product_id", "product_code")

    // ---- late append: one new customer + product on a date after history
    val lateCsv = withAppended(Seq(
      "9995,CA-2018-999001,3/1/2018,3/6/2018,Standard Class,ZZ-99990," +
        "Zed Zulu,Consumer,United States,Austin,Texas,73301,Central," +
        "TEC-ZZ-10099999,Technology,Phones,Test Phone Model Z,100.0,1,0,20.0"))
    val late = SuperstoreETL.build(spark, lateCsv)
    val calLate = idMap(late("Calendar"), "calendar_id", "full_date")
    val custLate = idMap(late("Customer"), "customer_id", "customer_code")
    val prodLate = idMap(late("Product"), "product_id", "product_code")

    // every pre-existing id survives unchanged
    calBase.foreach { case (d, id) =>
      assert(calLate(d) == id, s"calendar id for $d changed: $id -> ${calLate(d)}") }
    custBase.foreach { case (c, id) =>
      assert(custLate(c) == id, s"customer id for $c changed") }
    prodBase.foreach { case (p, id) =>
      assert(prodLate(p) == id, s"product id for $p changed") }
    // new entities take the next ids
    assert(custLate("ZZ-99990") == custBase.values.max + 1)
    assert(prodLate("TEC-ZZ-10099999") == prodBase.values.max + 1)
    assert(calLate.size == calBase.size + 2) // new order + ship dates

    // ---- early append: a date before all history shifts every later id
    val earlyCsv = withAppended(Seq(
      "9995,CA-2010-999002,1/1/2010,1/6/2010,Standard Class,ZZ-99991," +
        "Yara Yellow,Consumer,United States,Austin,Texas,73301,Central," +
        "TEC-ZZ-10099998,Technology,Phones,Test Phone Model Y,100.0,1,0,20.0"))
    val early = SuperstoreETL.build(spark, earlyCsv)
    val calEarly = idMap(early("Calendar"), "calendar_id", "full_date")
    assert(calEarly.size == calBase.size + 2)
    calBase.foreach { case (d, id) =>
      assert(calEarly(d) == id + 2,
        s"calendar id for $d expected shift by 2 (two new earlier dates), " +
          s"got $id -> ${calEarly(d)}")
    }
  }
}

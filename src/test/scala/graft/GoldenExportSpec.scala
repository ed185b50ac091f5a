package graft

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.superstore.{SuperstoreETL, WarehouseCache}

/** Value-level golden parity against the reference's de-facto ground truth:
  * `superstore_dw_export.xlsx` (written by the reference's
  * generate_excel.py:50-111 from its MySQL warehouse), extracted to CSV by
  * tools/extract_xlsx.py (stdlib xlsx→csv, committed under
  * src/test/resources/golden). Every cell of all 15 tables is compared:
  * strings/ints/dates exactly (dates via the Excel 1900 serial the export
  * uses), doubles with the 2-decimal tolerance of SURVEY.md §7.5 — the
  * reference computed money columns in float64 (85.29000000000001-style
  * artifacts), ours are exact decimal, so bit equality is not the target.
  */
class GoldenExportSpec extends AnyFunSuite {
  import TestSpark.spark

  private val csv = WarehouseCache.CsvPath
  private lazy val wh = SuperstoreETL.build(spark, csv)
  private val goldenDir = "src/test/resources/golden"
  private val excelEpoch = LocalDate.of(1899, 12, 30)
  private val Tolerance = 0.005

  private val tables = Seq("Calendar", "CalendarMonth", "Category",
    "Customer", "Item", "Location", "OrderM", "Orders", "Product",
    "ProductPerformance", "Region", "Shipping", "ShippingBehavior",
    "ShippingBehaviorS", "State")

  for (t <- tables) test(s"$t matches the reference export cell-by-cell") {
    val ours = wh(t)
    val golden = spark.read
      .option("header", "true").option("escape", "\"")
      .csv(s"$goldenDir/$t.csv")

    assert(golden.columns.sorted.toSeq == ours.columns.sorted.toSeq,
      s"$t column sets differ: golden ${golden.columns.toSeq} vs ours ${ours.columns.toSeq}")

    val cols = ours.schema.fields.map(f => f.name -> f.dataType)
    val doubleCols = cols.collect {
      case (n, DoubleType | FloatType) => n
      case (n, _: DecimalType) => n  // exact-decimal money columns: the
      // golden side is the reference's float64, so tolerance-compare
    }.toSet

    // normalize a row to (stableKey, doubleValues): stable = every
    // non-float column stringified (dates as Excel serials), so sorting by
    // it pairs rows for the tolerance compare on the float columns
    def normalizedOurs: Seq[(String, Seq[Double])] =
      ours.collect().toSeq.map { r =>
        val stable = cols.collect {
          case (n, DateType) if !doubleCols(n) =>
            val d = r.getAs[java.sql.Date](n)
            if (d == null) "" else
              ChronoUnit.DAYS.between(excelEpoch, d.toLocalDate).toString
          case (n, _) if !doubleCols(n) =>
            Option(r.getAs[Any](n)).map(_.toString).getOrElse("")
        }
        val dbl = cols.collect { case (n, _) if doubleCols(n) =>
          Option(r.getAs[Any](n)).map(_.asInstanceOf[Number].doubleValue)
            .getOrElse(Double.NaN)
        }
        (stable.mkString("\u0001"), dbl.toSeq)
      }

    def normalizedGolden: Seq[(String, Seq[Double])] =
      golden.collect().toSeq.map { r =>
        def cell(n: String): String =
          Option(r.getAs[String](r.fieldIndex(n))).getOrElse("")
        val stable = cols.collect { case (n, _) if !doubleCols(n) => cell(n) }
        val dbl = cols.collect { case (n, _) if doubleCols(n) =>
          val v = cell(n); if (v.isEmpty) Double.NaN else v.toDouble
        }
        (stable.mkString("\u0001"), dbl.toSeq)
      }

    val a = normalizedOurs.sortBy(_._1)
    val b = normalizedGolden.sortBy(_._1)
    assert(a.size == b.size, s"$t row count: ours ${a.size} vs golden ${b.size}")

    a.map(_._1).zip(b.map(_._1)).zipWithIndex
      .collectFirst { case ((x, y), i) if x != y => (i, x, y) }
      .foreach { case (i, x, y) =>
        fail(s"$t stable-column mismatch at sorted row $i:\n  ours   ${x.replace("\u0001", " | ")}\n  golden ${y.replace("\u0001", " | ")}")
      }

    val dblNames = cols.collect { case (n, _) if doubleCols(n) => n }
    a.zip(b).zipWithIndex.foreach { case (((k, xs), (_, ys)), i) =>
      xs.zip(ys).zipWithIndex.foreach { case ((x, y), j) =>
        val ok = (x.isNaN && y.isNaN) || math.abs(x - y) <= Tolerance
        assert(ok, s"$t.${dblNames(j)} at sorted row $i (key ${k.replace("\u0001", " | ")}): ours $x vs golden $y")
      }
    }
  }
}

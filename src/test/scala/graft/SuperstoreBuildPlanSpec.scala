package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Window}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.superstore.{Queries13, SuperstoreETL, WarehouseCache}

/** Shape of the warehouse build on the mini fixture: dimensions come back
  * computed (driver-local rows), so no fact plan re-derives one. Their
  * values are checked by hand in [[MiniSuperstoreSpec]]. Over the written
  * warehouse, each of the 13 queries runs without a shuffle. */
class SuperstoreBuildPlanSpec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val wh = SuperstoreETL.build(spark, TestSpark.superstoreMini)

  test("every dimension build returns is a LocalRelation") {
    for (t <- Seq("Calendar", "CalendarMonth", "Customer", "Region", "State",
                  "Location", "Category", "Product", "Shipping"))
      assert(wh(t).queryExecution.logical.isInstanceOf[LocalRelation], t)
  }

  test("fact plans hold no surrogate-key window; ProductPerformance only its own") {
    // `pre` is cached, so its dedup windows sit behind an InMemoryRelation
    // leaf; any Window left in a fact plan would be a re-derived dimension
    def windows(t: String): Int =
      wh(t).queryExecution.optimizedPlan.collect { case w: Window => w }.size
    for (t <- Seq("Item", "Orders", "OrderM", "ShippingBehavior", "ShippingBehaviorS"))
      assert(windows(t) == 0, t)
    assert(windows("ProductPerformance") == 1)
  }

  test("no Queries13 DataFrame query over the written warehouse shuffles") {
    object Plans extends AdaptiveSparkPlanHelper
    val files = WarehouseCache.write(wh, TestSpark.tempDir("graft_wh_plan"))
    val shuffling = Queries13.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val df = q(files)
      df.collect() // AQE settles its final plan on execution
      val plan = df.queryExecution.executedPlan
      val shuffles = Plans.collectWithSubqueries(plan) { case s: ShuffleExchangeExec => s }
      if (shuffles.isEmpty) None else Some(s"$name:\n$plan")
    }
    assert(shuffling.isEmpty, shuffling.mkString("\n"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Window}

import graft.superstore.SuperstoreETL

/** Shape of the warehouse build on the mini fixture: dimensions come back
  * computed (driver-local rows), so no fact plan re-derives one. Their
  * values are checked by hand in [[MiniSuperstoreSpec]]. */
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
}

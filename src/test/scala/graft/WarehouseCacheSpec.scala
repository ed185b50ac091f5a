package graft

import java.io.FileNotFoundException
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.superstore.WarehouseCache

/** The warehouse is built at most once per (session, dir), whether the
  * build succeeds or throws. Each test keys its own dir, so nothing here
  * touches the warehouse the `ss_*` queries read. */
class WarehouseCacheSpec extends AnyFunSuite {
  import TestSpark.spark

  test("a failing build runs once and every later get rethrows its failure") {
    val calls = new AtomicInteger
    val d = s"warehouse-cache-spec-fail-${System.nanoTime()}"
    def get() = WarehouseCache.once(spark, d) {
      calls.incrementAndGet()
      throw new FileNotFoundException("no reference CSV")
    }
    val thrown = (1 to 5).map(_ => intercept[FileNotFoundException](get()))
    assert(calls.get == 1, "the build must not re-run after it failed")
    assert(thrown.forall(_ eq thrown.head), "later gets must rethrow the first failure")
    assert(thrown.head.getMessage == "no reference CSV")
  }

  test("a successful build runs once per (session, dir)") {
    val calls = new AtomicInteger
    val d = s"warehouse-cache-spec-ok-${System.nanoTime()}"
    def get() = WarehouseCache.once(spark, d) {
      calls.incrementAndGet()
      Map("One" -> spark.range(1).toDF())
    }
    val first = get()
    assert((1 to 4).map(_ => get()).forall(_ eq first))
    assert(calls.get == 1)
  }
}

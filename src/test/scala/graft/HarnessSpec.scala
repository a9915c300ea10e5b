package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The runnable mains' timed action: the per-key split adds up to the
  * timed wall clock, the action is planned once, and a failing key
  * still gets the between-key hygiene. */
class HarnessSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val timer = new Harness.Timer(spark)

  test("a key's build + plan + exec is its wall time, and it runs jobs") {
    val r = timer.time("join_inner_hash")(
      SparkEntry.queries("join_inner_hash")(spark, sf))
    assert(r.ok, r)
    assert(math.abs(r.build + r.plan + r.exec - r.wall) <= 0.02 * r.wall, r)
    assert(r.build >= 0 && r.plan >= 0 && r.exec > 0, r)
    assert(r.jobs >= 1 && r.stages >= 1 && r.tasks >= r.stages, r)
  }

  test("a noop-write key executes exactly one QueryExecution") {
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    // time() drains the listener bus before it returns
    try assert(timer.time("scan_projected")(
      SparkEntry.queries("scan_projected")(spark, sf)).ok)
    finally spark.listenerManager.unregister(l)
    assert(seen.get == 1)
  }

  test("a throwing key reports -1 and still releases its caches") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = timer.time("boom") {
      ops.OpCache.track(spark.range(10).toDF("a")).count()
      spark.range(5).toDF("b").cache().count()
      throw new IllegalStateException("boom")
    }
    assert(!r.ok && r.wall == -1.0)
    assert(ops.OpCache.tracked(spark) == 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet.forall(before))
  }
}

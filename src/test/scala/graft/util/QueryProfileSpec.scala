package graft.util

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** A `QueryProfile` window reports the work of its body and nothing else:
  * its totals are the sums over its stage records, a streaming query's
  * micro-batch jobs (which Structured Streaming runs under its own job
  * group) are counted, and work queued on the listener bus before the
  * window opens is not.
  */
class QueryProfileSpec extends AnyFunSuite with SparkSpec {

  private def aggregation() =
    spark.range(0, 200000, 1, 4).groupBy((col("id") % 97).as("k")).count()

  test("a two-stage aggregation: totals are the sums over its stage records") {
    val (rows, p) = QueryProfile.measure(spark)(aggregation().collect())
    assert(rows.length == 97)
    assert(p.jobs >= 1)
    assert(p.stages >= 2, p.stageRecords)
    assert(p.tasks == p.stageRecords.map(_.tasks).sum)
    assert(p.cpuSec == p.stageRecords.map(_.cpuSec).sum)
    assert(p.tasks >= 5, p.stageRecords) // 4 map tasks and at least 1 reduce
    assert(p.cpuSec > 0)
    assert(p.shuffleWriteMb > 0)
    assert(p.wallSec > 0)
    assert(p.stageRecords.forall(s => s.name.nonEmpty && !s.name.contains('\n')))
  }

  test("st06's micro-batch jobs are attributed to the window") {
    val (_, p) = QueryProfile.measure(spark) {
      val sf001 = java.nio.file.Paths.get(sfSmoke).resolveSibling("sf0.01").toString
      graft.SparkEntry.queries("st06_stream_cdc_apply")(spark, sf001).collect()
    }
    spark.catalog.clearCache()
    assert(p.jobs > 0)
    assert(p.cpuSec > 0)
  }

  test("a window with no job, opened straight after a heavy action, reports no work") {
    // a slow listener on the same bus keeps the heavy action's task-end
    // events queued after the action returns, as a busy bus does
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(10)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      spark.range(0, 2000000, 1, 64).selectExpr("id % 1013 AS k", "id AS v")
        .groupBy("k").agg(sum("v")).collect()
      val (n, p) = QueryProfile.measure(spark)(1 + 1)
      assert(n == 2)
      assert(p.jobs == 0)
      assert(p.tasks == 0)
      assert(p.stages == 0)
    } finally spark.sparkContext.removeSparkListener(slow)
  }
}

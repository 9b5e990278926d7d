package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's per-query runner: a query past its timeout is cancelled
  * and its thread is gone before the next query starts. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("a timed-out query is cancelled and its thread joined before the next query runs") {
    @volatile var worker: Thread = null
    val (_, ok) = Bench.runTimed(spark, "stuck", timeoutMs = 500L) {
      worker = Thread.currentThread()
      spark.sparkContext.parallelize(Seq(1), 1).map { x => Thread.sleep(60000L); x }.count(): Unit
    }
    assert(!ok, "a timed-out query is not a success")
    assert(worker != null && !worker.isAlive, "the timed-out query's thread outlived runTimed")
    val (_, next) = Bench.runTimed(spark, "next", timeoutMs = 60000L) {
      assert(spark.sparkContext.parallelize(1 to 10, 2).count() == 10L)
    }
    assert(next)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Metrics.measure]] counts exactly the Spark work of its body. */
class MetricsSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark

  test("a narrow scan shuffles no bytes, a repartition does") {
    val (_, narrow) = Metrics.measure(spark)(spark.range(0, 10000, 1, 4).selectExpr("id * 2 AS x").collect())
    assert(narrow.jobs === 1L)
    assert(narrow.shuffleBytes === 0L)
    assert(narrow.tasks === 4L)
    val (_, wide) = Metrics.measure(spark)(spark.range(0, 10000, 1, 4).repartition(3).collect())
    assert(wide.shuffleWriteBytes > 0L)
    assert(wide.shuffleReadBytes > 0L)
    assert(wide.stages >= 2L)
  }

  test("back-to-back measures do not share events") {
    val (_, first) = Metrics.measure(spark)(spark.range(0, 1000, 1, 2).repartition(2).collect())
    val (_, second) = Metrics.measure(spark)(())
    assert(first.jobs > 0L)
    assert(second === Counters(0, 0, 0, 0, 0, 0, 0, 0))
    val (_, third) = Metrics.measure(spark)(spark.range(0, 1000, 1, 2).repartition(2).collect())
    assert(third.jobs === first.jobs)
    assert(third.tasks === first.tasks)
  }

  test("a persisted frame left unreleased shows in cachedRddsLeft") {
    val df = spark.range(0, 100, 1, 2).selectExpr("id % 7 AS k").persist()
    try {
      val (n, leaked) = Metrics.measure(spark)(df.count())
      assert(n === 100L)
      assert(leaked.cachedRddsLeft === 1)
      // already persisted before the body: not this body's leak
      val (_, again) = Metrics.measure(spark)(df.count())
      assert(again.cachedRddsLeft === 0)
    } finally df.unpersist(blocking = true)
    val (_, released) = Metrics.measure(spark) {
      val t = spark.range(0, 100, 1, 2).selectExpr("id + 1 AS k").persist()
      try t.count() finally t.unpersist(blocking = true)
    }
    assert(released.cachedRddsLeft === 0)
  }
}

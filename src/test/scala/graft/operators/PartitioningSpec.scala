package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class PartitioningSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("spread widens a single-file parquet scan to default parallelism") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_spread") { dir =>
      (1 to 1000).map(i => (i.toLong, s"row $i")).toDF("id", "txt")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
      val out = Partitioning.spread(df)
      assert(out.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
    }
  }

  test("spread is an identity (same plan, no physical planning) on a wide input") {
    import spark.implicits._
    SparkTestBase.withTargetDir("graft_spread_wide") { dir =>
      (1 to 2000).map(i => (i.toLong, "x" * 64)).toDF("id", "txt")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      // force the byte-stats estimate above parallelism: tiny split targets
      val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
      val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes", "4m")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
      spark.conf.set("spark.sql.files.openCostInBytes", "1")
      try {
        val df = spark.read.parquet(dir)
        // estimate = bytes / min(1k, max(1, bytes/4)) >= 4 = parallelism -> no-op
        assert(Partitioning.spread(df) eq df, "wide input must pass through untouched")
      } finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      }
    }
  }

  test("spread decides from logical stats without touching df.rdd (no physical plan)") {
    import spark.implicits._
    val df = (1 to 10).toDF("n")
    val out = Partitioning.spread(df)
    // a local relation is tiny -> spread repartitions; and the ORIGINAL
    // frame must not have been physically planned by the decision
    assert(out ne df)
    // executedPlan is a lazy val inside QueryExecution; spread must not
    // have forced it on the input frame. There is no public "was it
    // forced" probe, so assert the observable contract instead: the
    // decision completes without running a job (no partitions computed).
    assert(out.rdd.getNumPartitions === spark.sparkContext.defaultParallelism)
  }
}

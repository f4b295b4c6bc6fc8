package graft.operators

import org.apache.spark.GraftTestHooks
import org.scalatest.funsuite.AnyFunSuite

import graft.{Metrics, SparkTestBase}

class KCoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def core(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    import spark.implicits._
    KCore.kcore(edges.toDF("src", "dst"), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Scalar batch-peel reference (order-independence makes any peel
    * schedule correct; batch removal mirrors the operator). */
  private def scalarKcore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var sym = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    var changed = true
    while (changed) {
      val deg = sym.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = sym.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != sym.size
      sym = next
    }
    sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
  }

  // 4-clique {0,1,2,3} + a path 3-10-11-12 hanging off it; k=3 keeps
  // exactly the clique (each clique node has degree 3 inside it) and
  // peels the path node-by-node-batch
  private val triangleChain =
    (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)) ++
      Seq((3L, 10L), (10L, 11L), (11L, 12L))

  test("triangle chain: the clique survives, the tail peels in cascade") {
    val edges = triangleChain
    val got = core(edges, k = 3)
    assert(got === scalarKcore(edges, 3))
    assert(got.keySet === Set(0L, 1L, 2L, 3L))
    assert(got.values.toSet === Set(3L))
  }

  test("matches the scalar reference on a hashed graph across k") {
    val n = 60L
    val edges = (0L until n).flatMap(i =>
      Seq((i, (i * 7 + 3) % n), (i, (i * 11 + 5) % n), (i, (i * 13 + 1) % n)))
    for (k <- Seq(2, 4, 5, 6, 7)) {
      assert(core(edges, k) === scalarKcore(edges, k), s"k=$k")
    }
  }

  test("k larger than every degree yields an empty core, not a hang") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    assert(core(edges, k = 3) === Map.empty)
  }

  test("duplicates, reversals, self-loops and nulls follow the edge discipline") {
    import spark.implicits._
    val edges = Seq(
      (Some(0L), Some(1L)), (Some(1L), Some(0L)), (Some(0L), Some(1L)), // dup + reverse
      (Some(2L), Some(2L)), // self-loop
      (None, Some(1L)), (Some(0L), None), // nulls
      (Some(1L), Some(2L)), (Some(2L), Some(0L)))
    val got = KCore.kcore(edges.toDF("src", "dst"), k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the triangle 0-1-2 survives at k=2 with degree exactly 2 each
    assert(got === Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("triangle chain runs a pinned number of jobs") {
    // the live edge count rides each round's checkpoint; AQE runs each
    // shuffle stage as its own job, so the figure is a pin, not a formula —
    // any extra per-round action (a count() per round) raises it
    val (got, counters) = Metrics.measure(spark)(core(triangleChain, k = 3))
    assert(got.keySet === Set(0L, 1L, 2L, 3L))
    assert(counters.jobs === 16)
  }

  test("a peel cut short by maxIter fails loudly") {
    import spark.implicits._
    val e = intercept[IllegalStateException](
      KCore.kcore(triangleChain.toDF("src", "dst"), k = 3, maxIter = 1).collect())
    assert(e.getMessage.contains("did not converge"))
  }

  test("checkpoints reliably under a checkpoint dir, same rows as the local run") {
    val local = core(triangleChain, k = 3)
    GraftTestHooks.withCheckpointDir(spark.sparkContext) { dir =>
      assert(core(triangleChain, k = 3) === local)
      assert(GraftTestHooks.filesUnder(dir) > 0, "no checkpoint files were written")
    }
  }
}

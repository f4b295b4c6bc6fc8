package graft.operators

import org.apache.spark.GraftTestHooks
import org.scalatest.funsuite.AnyFunSuite

import graft.{Metrics, SparkTestBase}

class LabelPropSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def labelsOf(edges: Seq[(Long, Long)], nodes: Seq[Long],
                       iters: Int): Map[Long, Long] = {
    import spark.implicits._
    LabelProp.communities(edges.toDF("src", "dst"), nodes.toDF("node"), iters = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Two disjoint triangles: one labeling round, then a fixed point. */
  private val twoTriangles = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 12L), (12L, 10L))
  private val twoTriangleNodes = Seq(0L, 1L, 2L, 10L, 11L, 12L)

  /** Scalar synchronous-LPA reference with the same tie rule. */
  private def scalarLpa(edges: Seq[(Long, Long)], nodes: Seq[Long], iters: Int): Map[Long, Long] = {
    val sym = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var l = nodes.map(v => v -> v).toMap
    (1 to iters).foreach { _ =>
      l = nodes.map { v =>
        val votes = sym.getOrElse(v, Nil).map(l).groupBy(identity)
          .view.mapValues(_.size).toSeq
        if (votes.isEmpty) v -> v
        else v -> votes.minBy { case (lab, cnt) => (-cnt, lab) }._1
      }.toMap
    }
    l
  }

  test("two triangles joined by one bridge edge collapse to two communities") {
    // triangle {0,1,2}, triangle {10,11,12}, bridge 2-10
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 12L), (12L, 10L), (2L, 10L))
    val nodes = Seq(0L, 1L, 2L, 10L, 11L, 12L)
    val got = labelsOf(edges, nodes, iters = 5)
    assert(got === scalarLpa(edges, nodes, iters = 5))
    // the two triangles end up internally uniform
    assert(got(0L) === got(1L))
    assert(got(10L) === got(11L) && got(11L) === got(12L))
  }

  test("matches the scalar reference round-for-round on a hashed graph") {
    val nodes = (0L until 40L)
    val edges = nodes.flatMap(i => Seq((i, (i * 7 + 3) % 40), (i, (i * 11 + 5) % 40)))
    (0 to 4).foreach { k =>
      assert(labelsOf(edges, nodes, iters = k) === scalarLpa(edges, nodes, iters = k), s"iters=$k")
    }
  }

  test("duplicate and reversed edges do not double a neighbor's vote") {
    // node 0's neighbors: 1 (listed three times, twice reversed) and 2, 3
    // (once each). With dedup, labels {1,2,3} all have one vote and the
    // smallest label 1 wins; double-counting 1's votes would also pick 1,
    // so make 2 and 3 carry label 2 via their own round-0 edge 2-3.
    val edges = Seq((0L, 1L), (0L, 1L), (1L, 0L), (0L, 2L), (0L, 3L), (2L, 3L))
    val nodes = Seq(0L, 1L, 2L, 3L)
    assert(labelsOf(edges, nodes, iters = 2) === scalarLpa(edges, nodes, iters = 2))
  }

  test("isolated nodes and self-loops keep their own label; nulls dropped") {
    import spark.implicits._
    val edges = Seq((Some(0L), Some(1L)), (Some(5L), Some(5L)), (None, Some(1L)), (Some(0L), None))
      .toDF("src", "dst")
    val nodes = Seq(0L, 1L, 5L, 9L).toDF("node")
    val got = LabelProp.communities(edges, nodes, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0-1 swap-converges to {0,0} or stays oscillating — scalar reference decides
    assert(got(5L) === 5L && got(9L) === 9L)
    assert(got(0L) === 1L && got(1L) === 0L) // odd round count of a 2-cycle swap
  }

  test("modularity: exact integer Q for hand-checkable partitions") {
    import spark.implicits._
    // two triangles + bridge; m = 7 undirected edges
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 12L), (12L, 10L), (2L, 10L))
      .toDF("src", "dst")
    def q(labels: Map[Long, Long]): (Long, Long, Long) = {
      val r = LabelProp.modularity(edges,
        labels.toSeq.toDF("node", "label")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // perfect 2-community split: in_c = 3 each, deg = {7, 7}, m = 7
    // Q*4m^2 = 2 * (4*7*3 - 49) = 2 * 35 = 70
    val split = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 1L, 11L -> 1L, 12L -> 1L)
    assert(q(split) === ((2L, 7L, 70L)))
    // everything in one community: in = m, Q*4m^2 = 4*7*7 - (2*7)^2 = 0
    val one = split.keys.map(_ -> 0L).toMap
    assert(q(one) === ((1L, 7L, 0L)))
    // LPA's own labeling should beat the one-community baseline
    val nodes = split.keys.toSeq.toDF("node")
    val lpa = LabelProp.communities(edges, nodes, iters = 5)
    assert(LabelProp.modularity(edges, lpa).head().getLong(2) > 0L)
  }

  test("fixed point exits early: fewer jobs than the round budget") {
    // two disjoint triangles converge in 1 round (every node adopts its
    // triangle's smallest label and round 2 changes nothing); a 50-round
    // budget must therefore run ~2 rounds of jobs, not 50. Each round is
    // at least one job (the eager checkpoint), so an early exit is visible
    // as a job count far below the budget. Labels must match the full run.
    val (got, counters) = Metrics.measure(spark)(
      labelsOf(twoTriangles, twoTriangleNodes, iters = 50))
    assert(got === scalarLpa(twoTriangles, twoTriangleNodes, iters = 50))
    assert(counters.jobs < 25, s"expected an early exit well under the 50-round budget, saw ${counters.jobs} jobs")
    // the exact count (AQE runs each shuffle stage as its own job, so this
    // is a pin, not a formula): any extra per-round action raises it
    assert(counters.jobs === 20)
  }

  test("checkpoints reliably under a checkpoint dir, same rows as the local run") {
    val local = labelsOf(twoTriangles, twoTriangleNodes, iters = 50)
    GraftTestHooks.withCheckpointDir(spark.sparkContext) { dir =>
      assert(labelsOf(twoTriangles, twoTriangleNodes, iters = 50) === local)
      assert(GraftTestHooks.filesUnder(dir) > 0, "no checkpoint files were written")
    }
  }
}

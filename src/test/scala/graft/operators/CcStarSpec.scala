package graft.operators

import org.apache.spark.GraftTestHooks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Star-contraction CC: equivalence with min-label propagation on
  * shallow graphs, logarithmic rounds on DEEP ones (the diameter-50
  * duplicate chain min-label cannot finish inside its budget), and the
  * loud-maxIter contract on both operators (verdict r12 ask #4). */
class CcStarSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** A path 0-1-2-...-(n-1), shifted by `base`. */
  private def chain(n: Int, base: Long = 0L): DataFrame =
    (0 until n - 1).map(i => (base + i, base + i + 1)).toDF("id_a", "id_b")

  test("star CC equals min-label CC on a mixed shallow graph") {
    // triangles, a small star, a 4-path, isolated pairs — the near-dup shapes
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),         // triangle
      (10L, 11L), (10L, 12L), (10L, 13L),    // star
      (20L, 21L), (21L, 22L), (22L, 23L),    // path
      (30L, 31L), (40L, 41L)                 // pairs
    ).toDF("id_a", "id_b")
    val star = labelsOf(CcStar.connectedComponentsStar(pairs))
    val minl = labelsOf(Dedup.connectedComponents(pairs))
    assert(star == minl)
    assert(star(3L) == 1L && star(13L) == 10L && star(23L) == 20L && star(41L) == 40L)
  }

  test("diameter-50 chain: star converges inside its O(log^2 n) budget") {
    val pairs = chain(51, base = 1000L) // 51 nodes, diameter 50
    val labels = labelsOf(CcStar.connectedComponentsStar(pairs, maxIter = 12))
    assert(labels.size == 51)
    assert(labels.values.toSet == Set(1000L))
  }

  test("min-label CC on the same chain throws LOUDLY at its round budget") {
    // the contract the r12 verdict asked to be pinned: a truncated
    // propagation is a WRONG labeling, so it must throw, never return
    val pairs = chain(51, base = 0L)
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(pairs, maxIter = 10).collect())
    assert(e.getMessage.contains("did not converge"))
  }

  test("star CC throws loudly when maxIter is too small to contract") {
    val pairs = chain(300)
    val e = intercept[IllegalStateException](
      CcStar.connectedComponentsStar(pairs, maxIter = 1))
    assert(e.getMessage.contains("did not converge"))
  }

  test("validate=false returns the identical labeling, skipping only the checks") {
    // the r13 ask-#5 opt-out: validation is three extra edge/label-sized
    // joins AFTER convergence — the labels themselves must not depend on it
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (20L, 21L), (21L, 22L), (22L, 23L),
      (30L, 31L)
    ).toDF("id_a", "id_b")
    val validated = labelsOf(CcStar.connectedComponentsStar(pairs))
    val unvalidated = labelsOf(CcStar.connectedComponentsStar(pairs, validate = false))
    assert(unvalidated == validated)
  }

  test("many parallel chains keep components separate") {
    val pairs = (0 until 20).map(c => chain(50, base = c * 1000L))
      .reduce(_ unionByName _)
    val labels = labelsOf(CcStar.connectedComponentsStar(pairs))
    assert(labels.size == 20 * 50)
    (0 until 20).foreach { c =>
      assert(labels(c * 1000L + 49L) == c * 1000L)
    }
  }

  test("star CC at 1e10-scale ids (the ANSI overflow regime) is exact") {
    val big = 10_000_000_000L
    val pairs = chain(30, base = big)
    val labels = labelsOf(CcStar.connectedComponentsStar(pairs))
    assert(labels.size == 30 && labels.values.toSet == Set(big))
  }

  test("incrementalComponents equals full CC over the union (merge, extend, new nodes)") {
    // day 0: two separate chains 0..9 and 100..109, one isolated pair
    // 500-501; day 1: (a) an edge WELDING the two chains, (b) edges
    // EXTENDING chain 2 with brand-new nodes 110..115, (c) a wholly new
    // component 700-701, (d) a redundant intra-component edge 2-5
    val day0Edges = chain(10).unionByName(chain(10, base = 100L))
      .unionByName(Seq((500L, 501L)).toDF("id_a", "id_b"))
    val day0 = CcStar.connectedComponentsStar(day0Edges)
    val batch = Seq(
      (9L, 100L),                                   // weld
      (109L, 110L), (110L, 111L), (111L, 112L),     // extend with new nodes
      (112L, 113L), (113L, 114L), (114L, 115L),
      (700L, 701L),                                 // brand-new component
      (2L, 5L)                                      // redundant internal
    ).toDF("id_a", "id_b")
    val got = labelsOf(CcStar.incrementalComponents(day0, batch))
    val want = labelsOf(CcStar.connectedComponentsStar(
      day0Edges.unionByName(batch)))
    assert(got === want, "incremental merge diverged from the full recompute")
    // the welded chain collapsed to min-label 0; untouched 500-501 kept
    assert(got(115L) === 0L && got(500L) === 500L && got(700L) === 700L)
  }

  test("incrementalComponents with a fully-internal batch is the identity") {
    val day0Edges = chain(10)
    val day0 = CcStar.connectedComponentsStar(day0Edges)
    val batch = Seq((1L, 7L), (0L, 9L)).toDF("id_a", "id_b")
    assert(labelsOf(CcStar.incrementalComponents(day0, batch)) === labelsOf(day0))
  }

  test("reliable checkpointing produces the same labels") {
    val pairs = chain(40)
    val local = labelsOf(CcStar.connectedComponentsStar(pairs))
    GraftTestHooks.withCheckpointDir(spark.sparkContext) { dir =>
      assert(labelsOf(CcStar.connectedComponentsStar(pairs)) == local)
      assert(GraftTestHooks.filesUnder(dir) > 0, "no checkpoint files were written")
    }
  }

  test("incrementalComponents checkpoints reliably under a checkpoint dir, same rows") {
    val day0 = CcStar.connectedComponentsStar(chain(10))
    val batch = chain(5, base = 9L).unionByName(Seq((100L, 101L)).toDF("id_a", "id_b"))
    val local = CcStar.incrementalComponents(day0, batch).collect().toSet
    GraftTestHooks.withCheckpointDir(spark.sparkContext) { dir =>
      assert(CcStar.incrementalComponents(day0, batch).collect().toSet == local)
      assert(GraftTestHooks.filesUnder(dir) > 0, "no checkpoint files were written")
    }
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by synchronous batch peeling — the density
  * counterpart to [[Dedup.connectedComponents]] (reachability) and
  * [[LabelProp.communities]] (assortative groups): repeatedly delete
  * EVERY node of degree < k until none remains; what survives is the
  * k-core. The k-core is UNIQUE regardless of deletion order (removing
  * any sub-threshold node can only lower other degrees, so the fixpoint
  * is order-independent), which makes the result a pure function of
  * (edge set, k) and lets the oracle replay the peel as chained SQL
  * levels. Classic curation signals: the dense interaction core of a
  * link / co-citation / co-occurrence graph vs its peelable fringe,
  * spam-farm detection (artificially dense cores), and bounded-degeneracy
  * certificates before triangle-heavy analyses.
  *
  * Scale shape per round: one map-side-combined degree count over the
  * live edge list (reusing its node hash layout), then two semi joins
  * filtering both endpoints against the node-sized survivor frame, then
  * one repartition restoring the node layout for the next round — the
  * edge list moves at most twice per round and shrinks monotonically.
  * Rounds run on [[Fixpoint]]: the convergence signal (live edge count)
  * RIDES the round's eager checkpoint as an observed metric, so each
  * round is exactly one job.
  * Batch peeling converges in rounds bounded by the peeling-cascade
  * depth, not node count (each round removes every currently
  * sub-threshold node at once); `maxIter` bounds pathological chains
  * LOUDLY, like connectedComponents — a truncated peel is a WRONG core.
  */
object KCore {

  /** Nodes of the k-core with their within-core degree: (node:long,
    * core_deg:long), empty when no k-core exists. `edges` needs
    * (src, dst) long columns, treated UNDIRECTED with self-loops and
    * duplicates dropped (same discipline as [[LabelProp.communities]] —
    * a duplicate edge would double-count a degree). */
  def kcore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxIter >= 1, "maxIter must be >= 1")
    val e0 = Partitioning.spread(edges.select(
      col("src").cast("long").as("src"), col("dst").cast("long").as("dst")))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    val init = Fixpoint.checkpoint(e0.select(col("src").as("node"), col("dst").as("nbr"))
      .union(e0.select(col("dst").as("node"), col("src").as("nbr")))
      .distinct()
      .repartition(col("node")))

    val core = Fixpoint.run("kcore", init, maxIter, count(lit(1))) { live =>
      val keep = live.groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("node"))
      live
        .join(keep, Seq("node"), "left_semi")
        .join(keep.withColumnRenamed("node", "nbr"), Seq("nbr"), "left_semi")
        .select(col("node"), col("nbr"))
        .repartition(col("node"))
    } { (prevEdges, nLive, _, _) => nLive == prevEdges || nLive == 0L }
      // a truncated peel silently reports a SUPER-graph of the k-core —
      // sub-threshold nodes would survive. Fail loudly instead.
      .orThrow("kcore", "the peeling cascade is longer than expected; raise maxIter")
    core.groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
  }
}

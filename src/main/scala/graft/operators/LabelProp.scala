package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation over an undirected edge table — the
  * community counterpart to [[PageRank]] (authority) and
  * [[Dedup.connectedComponents]] (reachability). Communities are the
  * mid-granularity signal a curation pipeline wants when CC is too coarse
  * (everything touching anything collapses) and per-pair similarity too
  * fine: near-dup *families*, crawl host clusters, co-interaction groups.
  *
  * Semantics are the classic LPA update made deterministic: every node's
  * label starts as its own id; each round, a node adopts the most frequent
  * label among its NEIGHBORS (not itself), breaking count ties toward the
  * SMALLEST label. Updates are synchronous (round r reads only round r-1
  * labels), so after a fixed number of rounds the labeling is a pure
  * function of the edge set — bit-identical across engines, executor
  * counts, and reduction orders, which is what lets the `label_prop`
  * oracle replay every round as a chained SQL CTE. Synchronous LPA can
  * oscillate on bipartite structures instead of converging; a fixed round
  * budget makes that a documented property, not a hang.
  *
  * Scale shape per round: one join and ONE aggregate exchange. The votes
  * are the symmetrized edge table joined to the (node, label) frame on
  * the neighbor (at 100 TB the edge table is laid out by neighbor once,
  * checkpointed, and every round reuses that layout, so only the
  * node-sized label frame moves, or is broadcast while it is small); each
  * node adds one self row carrying its old label; then a single
  * node-keyed aggregate takes the deterministic `mode` of the votes
  * (most frequent label, ties to the smallest — partial counts merge
  * exactly, so the winner is independent of partitioning) and the old
  * label, which also drops vote-only nodes absent from `nodes`. No
  * (node, label) count, no argmax pass, no join back. Rounds run on
  * [[Fixpoint]], the driver shared with [[Dedup.connectedComponents]]:
  * each round eagerly checkpoints the node-sized label frame and the
  * round's changed-label count rides that same job as an observed metric,
  * so the loop EXITS EARLY at a fixed point: a synchronous round that
  * changes zero labels is a fixed point of the update map, every later
  * round is identical, and the stop round is a pure function of the edge
  * set — determinism intact. Oscillating (e.g. bipartite swap) structures
  * never hit zero and run the full `iters` budget, as documented above.
  * The edge checkpoint is released when the loop ends.
  */
object LabelProp {

  /** Labels after `iters` synchronous rounds (or the fixed point, if one
    * is reached sooner): (node:long, label:long).
    * `edges` needs (src, dst) long columns and is treated as UNDIRECTED:
    * each edge votes in both directions, self-loops and duplicate edges
    * are dropped (a duplicate would double a neighbor's vote and make the
    * result depend on upstream dedup discipline). `nodes` lists each id
    * once; nodes absent from it are ignored; nodes with no surviving edge
    * keep their own id as label. NULL ids/endpoints are dropped: an edge
    * with no identity cannot vote. */
  def communities(edges: DataFrame, nodes: DataFrame, nodeCol: String = "node",
                  iters: Int = 5): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    val n = nodes.select(col(s"`$nodeCol`").cast("long").as("node"))
      .where(col("node").isNotNull)
    val e0 = Partitioning.spread(edges.select(
      col("src").cast("long").as("src"), col("dst").cast("long").as("dst")))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    // symmetrize, dedup, and lay out by the JOIN side (nbr) once; every
    // round's join then reuses this exchange and only labels move
    val sym = Fixpoint.checkpoint(e0.select(col("src").as("node"), col("dst").as("nbr"))
      .union(e0.select(col("dst").as("node"), col("src").as("nbr")))
      .distinct()
      .repartition(col("nbr")), eager = false)

    // an exhausted budget is the documented oscillation case, not an error
    try Fixpoint.run("lpa", n.select(col("node"), col("node").as("label")), iters,
      count(when(col("__changed"), 1))) { prev =>
      val labels = prev.select(col("node"), col("label"))
      val none = lit(null).cast("long")
      val votes = sym.join(labels.withColumnRenamed("node", "nbr"), Seq("nbr"))
        .select(col("node"), col("label").as("vote"), none.as("old"))
      // labels has n's node set as an invariant: the self rows keep every
      // node of n (an isolated one has no vote and keeps its own id, its
      // old label, so diffing against `old` is exact) and drop the rest
      votes.unionByName(labels.select(col("node"), none.as("vote"), col("label").as("old")))
        .groupBy(col("node"))
        .agg(mode(col("vote"), deterministic = true).as("mode"), max(col("old")).as("old"))
        .where(col("old").isNotNull)
        .select(col("node"),
          coalesce(col("mode"), col("node")).as("label"),
          (coalesce(col("mode"), col("node")) =!= col("old")).as("__changed"))
    } { (_, changed, _, _) => changed == 0 }.frame.select(col("node"), col("label"))
    finally Fixpoint.release(sym)
  }

  /** EXACT integer Newman modularity of a labeling over an undirected
    * edge set — the quality score that tells you whether [[communities]]
    * found real structure or noise. Standard Q = Σ_c [ in_c/m −
    * (deg_c/2m)² ] is a rational with denominator 4m²; this returns the
    * integer numerator `q_x4m2 = Σ_c (4m·in_c − deg_c²)` alongside `m`,
    * so Q = q_x4m2 / (4m²) exactly and two engines can compare without a
    * single float (the oracle replays the integer form).
    *
    * `in_c` counts undirected intra-community edges, `deg_c` sums member
    * degrees, `m` is the undirected edge count after the same
    * symmetrize/dedup/self-loop discipline as [[communities]]. Scale
    * shape: one edge-keyed join against the node-sized label frame per
    * endpoint (the same layout the rounds use) and two
    * map-side-combined aggregates in a SINGLE pass — q_x4m2 factors as
    * m2·Σin2_c − Σdeg_c², so the half-edge count m2 = Σdeg_c comes out
    * of the same community aggregate instead of a separate count() job
    * that would materialize the edge⋈label frame twice. The Σ terms are
    * accumulated in DecimalType(38,0) (deg_c² alone wraps Long once a
    * community holds ~3e9 half-edges — reachable at 100 TB) and the
    * final cast back to BIGINT throws under ANSI instead of wrapping
    * silently, so overflow is loud. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e0 = Partitioning.spread(edges.select(
      col("src").cast("long").as("src"), col("dst").cast("long").as("dst")))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    val sym = e0.select(col("src").as("node"), col("dst").as("nbr"))
      .union(e0.select(col("dst").as("node"), col("src").as("nbr")))
      .distinct()
    val lab = labels.select(col("node").cast("long").as("node"), col("label").cast("long").as("label"))
    // directed view: every undirected edge appears twice in sym
    val both = sym
      .join(lab.withColumnRenamed("node", "__n1").withColumnRenamed("label", "c1"),
        col("node") === col("__n1"))
      .join(lab.withColumnRenamed("node", "__n2").withColumnRenamed("label", "c2"),
        col("nbr") === col("__n2"))
      .select(col("c1"), col("c2"))
    val perC = both.groupBy(col("c1").as("community"))
      .agg(
        count(lit(1)).as("deg_c"), // sum of member degrees
        count(when(col("c1") === col("c2"), 1)).as("in2_c")) // 2 * in_c
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    perC.agg(
        count(lit(1)).cast("long").as("n_communities"),
        // Σ_c deg_c counts every directed half-edge exactly once = m2 = 2m
        sum(col("deg_c")).as("__m2"),
        sum(col("in2_c").cast(dec)).as("__in2_sum"),
        sum(col("deg_c").cast(dec) * col("deg_c").cast(dec)).as("__deg2_sum"))
      .select(
        col("n_communities"),
        // an empty edge set has no half-edges — fail loudly, as the old
        // driver-side require did, instead of emitting a NULL-filled row
        when(col("__m2").isNull, raise_error(lit("modularity needs at least one edge"))
          .cast("long"))
          .otherwise(expr("__m2 div 2")).cast("long").as("m_edges"),
        // Σ_c (4m·in_c − deg_c²) = m2·Σin2_c − Σdeg_c² (4m·in_c = m2·in2_c)
        (col("__m2").cast(dec) * col("__in2_sum") - col("__deg2_sum"))
          .cast("long").as("q_x4m2"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines.
  *
  * Every near-dup variant follows the same scale-safe shape:
  * candidate generation by BUCKETING (LSH bands / inverted index / bit
  * chunks) followed by exact verification WITHIN buckets — never an
  * all-pairs cross join. At 100 TB the bucket join shuffles on short keys,
  * partial aggregation shrinks map outputs, and hot buckets are bounded by
  * an explicit cap (skew guard) so one degenerate shingle cannot produce a
  * quadratic task.
  */
object Dedup {

  /** Character n-gram shingle set (codegen'd builtins only). */
  private def shingleArr(textCol: String, n: Int): Column =
    // NB sequence(1, 0) DESCENDS in Spark - short texts must yield an empty
    // set explicitly, not a bogus [1,0]-indexed pair of whole-text shingles
    array_distinct(expr(
      s"CASE WHEN length(`$textCol`) < $n THEN array() " +
        s"ELSE transform(sequence(1, length(`$textCol`) - ${n - 1}), i -> substr(`$textCol`, i, $n)) END"))

  /** Collision-free multi-column content key: each column is hashed
    * INDEPENDENTLY (fixed-width image), null tagged distinctly from any
    * value, then the fixed-width parts are hashed together — no sentinel
    * character a cell value could collide with, no separator a value could
    * shift content across column boundaries (advisor finding r3). */
  private def exactKey(dedupCols: Seq[String]): Column = {
    val parts = dedupCols.map { c =>
      val v = col(s"`$c`").cast("string")
      when(v.isNull, lit("N")).otherwise(concat(lit("V"), sha2(v, 256)))
    }
    sha2(concat_ws("", parts: _*), 256)
  }

  /** Exact deduplication: group identical values of `dedupCols`, keep the
    * row with the smallest `idCol`. Hash-groupBy: one shuffle on the content
    * hash, map-side combine, no sort.
    *
    * Rows with a NULL id pass through UNTOUCHED: a null id has no identity
    * to win or lose the keep-min race with, and the previous behavior —
    * the null-condition join silently DELETING them, duplicates or not —
    * is the one thing an exact-dedup operator must never do. */
  def exact(df: DataFrame, idCol: String, dedupCols: Seq[String]): DataFrame = {
    val nullIds = df.where(col(s"`$idCol`").isNull)
    val w = df.where(col(s"`$idCol`").isNotNull).withColumn("__graft_key", exactKey(dedupCols))
    // the keep-side key is RENAMED: lineage-shared column names degrade the
    // self-join key equality to a trivially-true key==key predicate, leaving
    // the id equality alone to carry the join — which silently keeps a
    // non-representative row whenever the same id value recurs under a
    // DIFFERENT content key (ids are not required to be globally unique)
    val keep = w.groupBy(col("__graft_key")).agg(min(col(s"`$idCol`")).as("__graft_keep"))
      .withColumnRenamed("__graft_key", "__graft_kkey")
    w.join(keep, col("__graft_key") === col("__graft_kkey") && col(s"`$idCol`") === col("__graft_keep"), "inner")
      .drop("__graft_key", "__graft_kkey", "__graft_keep")
      .unionByName(nullIds)
  }

  /** Quality-aware representative selection: within each group of
    * identical `keyCols` values, keep the row with the HIGHEST
    * `qualityCol` (ties → lowest id) rather than [[exact]]'s lowest-id
    * rule — the "keep the best copy" policy web pipelines apply when
    * duplicates differ in extraction quality (longest text, highest
    * classifier score).
    *
    * One shuffle on the content key, and the winner is picked by the
    * bounded-heap [[graft.plans.TopKAggregate.topKByScore]] with k=1 —
    * constant state per group, map-side combined, never a per-group window
    * sort (the plan-shape rule `weightedSampleK` pinned). Rows with a NULL
    * id or NULL quality pass through untouched, same contract as [[exact]]:
    * a row that cannot compete must not be silently deleted. */
  def keepBest(df: DataFrame, idCol: String, keyCols: Seq[String], qualityCol: String): DataFrame = {
    val id = col(s"`$idCol`")
    val q = col(s"`$qualityCol`")
    val unranked = df.where(id.isNull || q.isNull)
    val ranked = df.where(id.isNotNull && q.isNotNull).withColumn("__graft_key", exactKey(keyCols))
    val winners = ranked.groupBy(col("__graft_key"))
      .agg(graft.plans.TopKAggregate.topKByScore(q.cast("double"), id.cast("long"), 1).as("__top"))
      // the winner key is RENAMED so the self-join below resolves to the two
      // distinct attributes (lineage-shared names degrade to a trivially
      // true key==key predicate, leaving the id equality to carry a join it
      // only survives when ids happen to be globally unique)
      .select(col("__graft_key").as("__graft_wkey"),
        element_at(col("__top"), 1).getField("id").as("__graft_keep"))
    ranked.join(winners,
        col("__graft_key") === col("__graft_wkey") && id.cast("long") === col("__graft_keep"),
        "inner")
      .drop("__graft_key", "__graft_wkey", "__graft_keep")
      .unionByName(unranked)
  }

  /** Exact-duplicate clusters: (representative id, cluster size). */
  def exactClusters(df: DataFrame, idCol: String, dedupCols: Seq[String]): DataFrame = {
    df.withColumn("__graft_key", exactKey(dedupCols))
      .groupBy(col("__graft_key"))
      .agg(min(col(s"`$idCol`")).as("representative"), count(lit(1)).as("cluster_size"))
      .drop("__graft_key")
  }

  /** Connected components over an undirected pair set (id_a, id_b):
    * iterative min-label propagation — label(v) <- min(label(v), labels of
    * neighbors) to fixpoint. Near-dup graphs have tiny diameters (clusters
    * of near-identical docs), so convergence is a handful of rounds;
    * `maxIter` bounds pathological chains. Vertices come from the pair set
    * (unpaired docs form no component). Returns (id, component) where
    * component = min reachable id.
    *
    * Scale shape (delta iteration, the Flink/Pregel pattern):
    *   - edges are exploded both directions ONCE, hash-partitioned on `dst`
    *     and persisted — every round's message join reuses that partitioning
    *     instead of re-shuffling the (large) edge set;
    *   - rounds 2+ join edges against only the FRONTIER (labels that changed
    *     last round), which shrinks geometrically — a label that stopped
    *     changing can send no new minimum;
    *   - each round is EXACTLY one job: [[Fixpoint]] checkpoints the
    *     stepped labels eagerly and the changed-label count rides that same
    *     job as an observed metric;
    *   - rounds, per-round changed counts and walls are logged
    *     (`graft.fixpoint op=cc round=N metric=M ms=T`) so a run that
    *     converges slowly is diagnosable from the driver log.
    * Checkpoints are reliable when the context has a checkpoint dir (see
    * [[Fixpoint]]). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // both directions from ONE scan: a union of two selects would compute
    // the (potentially expensive) upstream pair pipeline twice. Pairs arrive
    // deduplicated (unordered, id_a < id_b) from every pair generator here,
    // so no distinct() — that would shuffle the full edge set once more.
    val n = spark.sparkContext.defaultParallelism
    val edges = pairs.select(explode(array(
      struct(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst")),
      struct(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(n, col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val result = try {
      val init = Fixpoint.checkpoint(edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("component"), lit(true).as("changed")))
      Fixpoint.run("cc", init, maxIter, count(when(col("changed"), 1))) { labels =>
        val frontier = labels.where(col("changed")).select(col("id"), col("component"))
        val msgs = edges.join(frontier, edges("dst") === frontier("id"))
          .groupBy(col("src")).agg(min(col("component")).as("neighbor_min"))
        labels.join(msgs, labels("id") === msgs("src"), "left")
          .select(labels("id"),
            least(labels("component"), coalesce(col("neighbor_min"), labels("component"))).as("component"),
            (coalesce(col("neighbor_min"), labels("component")) < labels("component")).as("changed"))
      } { (_, changed, _, _) => changed == 0 }
    } finally edges.unpersist(false)
    // partial labels are WRONG labels: a component wider than maxIter hops
    // would silently split. Near-dup graphs are tiny-diameter, so hitting
    // this means the input is not the pair set this operator is for —
    // deep (path-shaped) graphs belong to [[CcStar.connectedComponentsStar]],
    // whose contraction depth is O(log² n) regardless of diameter.
    result.orThrow("connectedComponents", "the pair graph has a longer path " +
        "than expected; raise maxIter, or use CcStar.connectedComponentsStar " +
        "for deep (high-diameter) graphs")
      .select(col("id"), col("component"))
  }

  /** Operational dedup report: the cluster-size histogram of a near-dup
    * pair graph — (cluster size, number of clusters of that size). This is
    * the number every dedup run gets judged by (how much mass sits in
    * mega-clusters vs pairs); two small aggregates over the component
    * labels, nothing beyond [[connectedComponents]]'s own cost. */
  def clusterSizeReport(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      .select(col("sz").cast("long").as("sz"), col("n_clusters"))

  /** Near-dup removal end-to-end: keep ONE representative (min id) per
    * connected component of the pair graph, plus every unpaired doc. */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val nonReps = connectedComponents(pairs)
      .where(col("id") =!= col("component"))
      .select(col("id"))
    df.join(nonReps, df(s"`$idCol`") === nonReps("id"), "left_anti")
  }

  /** MinHash signature: k (a*x+b) mod p permutations over xxhash64'd
    * shingles (p = 2^61-1, exact 128-bit mulMod), deterministic across JVMs
    * (fixed seed). Computed by the native codegen'd
    * [[graft.plans.MinHashSignature]] expression — the k x shingles loop is
    * the dominant CPU of candidate generation and ran boxed in a UDF. */
  private def minhashSigCol(k: Int, hashes: Column): Column = {
    val p = (1L << 61) - 1 // Mersenne prime
    val rnd = new scala.util.Random(0x9E3779B97F4A7C15L)
    val as = Array.fill(k)(1 + (rnd.nextLong().abs % (p - 1)))
    val bs = Array.fill(k)(rnd.nextLong().abs % p)
    graft.plans.VectorExpressions.minhashSignature(hashes, as, bs)
  }

  /** MinHash + banded LSH near-duplicate pairs with exact Jaccard
    * verification inside candidate buckets.
    *
    * numHashes=256 split into 32 bands of 8 rows: a pair at Jaccard 0.9 is
    * caught with prob 1-(1-0.9^8)^32 ≈ 1-1e-8 while a background pair at
    * Jaccard 0.25 collides with only ~5e-4 probability — band width is the
    * lever that keeps the candidate set linear when the corpus has high
    * background similarity (short 4-row bands admit ~12%% of ALL pairs as
    * candidates on a word-salad corpus; that quadratic candidate set, not
    * the signature pass, is what kills LSH at scale). The plan stays
    * linear: shingle -> signature (narrow), explode 32 bands (narrow),
    * groupBy band key (one shuffle), pairs within buckets, verified by an
    * id-join (second shuffle).
    *
    * @param maxBucket skew guard: buckets larger than this are dropped (a
    *        bucket of b docs yields b^2/2 candidates; a degenerate band key
    *        must not quadratic-bomb a task). Dropped buckets are counted in
    *        logs by the caller if needed.
    */
  /** bands=0 -> auto: pick the widest rows-per-band whose S-curve inflection
    * (1/b)^(1/r) sits safely below the threshold. Wide bands are what keep
    * the candidate set linear when background similarity is high; narrow
    * bands are needed for low thresholds to retain recall. Shared by the
    * batch and incremental operators so their recall S-curves stay the
    * same by construction. */
  private def effectiveBands(numHashes: Int, bands: Int, threshold: Double): Int = {
    val autoBands = Seq(2, 4, 8, 16).filter(numHashes % _ == 0)
      .filter(r => math.pow(numHashes.toDouble / r, -1.0 / r) <= threshold - 0.1)
      .lastOption.map(numHashes / _).getOrElse(numHashes / 2)
    val effBands = if (bands > 0) bands else autoBands
    require(numHashes % effBands == 0, "bands must divide numHashes")
    effBands
  }

  /** (doc_id, sh, shx): shingle sets + their hashes (~5x text bytes).
    * [[minhashPairs]] and the incremental operators read it twice (the
    * signature stage and the verification join), so they build it with
    * [[Fixpoint.materialized]] at [[ShingleLevel]] before the plan that
    * reads it: a lazy cache there was first built concurrently by two AQE
    * stages, and `dedup_minhash`'s jobs and shuffle bytes differed between
    * runs. */
  private def shingled(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int): DataFrame =
    Partitioning.spread(df.select(
      col(s"`$idCol`").cast("long").as("doc_id"), col(s"`$textCol`").as("__text")))
      .select(col("doc_id"), shingleArr("__text", shingleSize).as("sh"))
      .withColumn("shx", transform(col("sh"), s => xxhash64(s)))

  /** Serialized, unlike graft's other caches: shingle arrays are the
    * largest intermediate, several times smaller serialized, which decides
    * whether the cache spills at 100 TB (at sf0.1 both levels time the same). */
  private val ShingleLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** (doc_id, band, bucket) LSH band keys of the shingle-hash frame. Empty
    * shingle sets (short/empty docs) all share the degenerate all-MaxValue
    * signature — they must not become candidates of each other, so they
    * are filtered before signing. */
  private def bandKeys(sh: DataFrame, numHashes: Int, effBands: Int): DataFrame = {
    val rows = numHashes / effBands
    sh.where(size(col("shx")) > 0)
      .withColumn("sig", minhashSigCol(numHashes, col("shx")))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${effBands - 1}), b -> xxhash64(concat_ws(',', slice(sig, b * $rows + 1, $rows)), b))")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** The verified near-duplicate pairs (id_a, id_b, jaccard), passed to
    * `use`. They are lazy over the shingle cache, which is built before
    * `use` runs and released when it returns, so `use` runs every action
    * over them; a frame over the pairs that escapes it fails when run
    * ([[Fixpoint.materialized]]). */
  def minhashPairs[T](df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8, shingleSize: Int = 5,
                      numHashes: Int = 256, bands: Int = 0, maxBucket: Int = 64)
                     (use: DataFrame => T): T = {
    val effBands = effectiveBands(numHashes, bands, threshold)
    Fixpoint.materialized(shingled(df, idCol, textCol, shingleSize), ShingleLevel) { withShingles =>
      val buckets = bandKeys(withShingles, numHashes, effBands)
        .groupBy("band", "bucket")
        .agg(collect_list("doc_id").as("ids"))
        .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      val candidatePairs = buckets
        .select(array_sort(array_distinct(col("ids"))).as("s"))
        .select(explode(Pairs.fromSortedLongs(col("s"))).as("pair"))
        .select(col("pair._1").as("id_a"), col("pair._2").as("id_b"))
        .distinct()
      use(verifyJaccard(candidatePairs, withShingles.select(col("doc_id"), col("sh")), threshold))
    }
  }

  /** Incremental near-dedup — the production shape for a 100 TB corpus
    * growing by daily batches: flag NEW documents that near-duplicate any
    * EXISTING corpus document, without ever pairing corpus docs with each
    * other. Id spaces need NOT be disjoint: verification resolves each pair
    * side against its own frame (a shared id means "same doc" and is never
    * flagged against itself).
    *
    * Scale shape: both sides go through the same deterministic
    * shingle→signature→band pipeline as [[minhashPairs]]; the corpus's
    * band keys collapse to capped buckets in ONE shuffle (the only
    * corpus-wide movement), while the small batch's band keys join in by
    * BROADCAST — so batch size, not corpus size, drives the join. Exact
    * Jaccard verification then touches only candidate pairs. Recall
    * follows the same S-curve as the batch operator (32 bands × 8 rows:
    * a true pair at j=0.89 is missed with ~2e-7 probability). */
  def incrementalNearDuplicates[T](corpus: DataFrame, newDocs: DataFrame,
                                   idCol: String, textCol: String,
                                   threshold: Double = 0.8, shingleSize: Int = 5,
                                   numHashes: Int = 256, bands: Int = 0,
                                   maxBucket: Int = 64)(use: DataFrame => T): T = {
    val effBands = effectiveBands(numHashes, bands, threshold)
    // (new_id, corpus_id, jaccard) is lazy over both shingle caches: `use`
    // runs every action over it before they are released
    Fixpoint.materialized(shingled(corpus, idCol, textCol, shingleSize), ShingleLevel) { corpusSh =>
      Fixpoint.materialized(shingled(newDocs, idCol, textCol, shingleSize), ShingleLevel) { newSh =>
        // one corpus shuffle; degenerate buckets capped exactly like the batch op
        val corpusBuckets = bandKeys(corpusSh, numHashes, effBands).groupBy("band", "bucket")
          .agg(collect_list("doc_id").as("cids"))
          .where(size(col("cids")) <= maxBucket)
        val candidates = corpusBuckets
          .join(broadcast(bandKeys(newSh, numHashes, effBands).withColumnRenamed("doc_id", "new_id")),
            Seq("band", "bucket"))
          .select(col("new_id").as("id_a"), explode(col("cids")).as("id_b"))
          .where(col("id_a") =!= col("id_b"))
          .distinct()
        // two-sided verify: new ids resolve only against batch shingles,
        // corpus ids only against corpus shingles — correct even when id
        // spaces overlap
        use(verifyJaccardSides(candidates, newSh.select(col("doc_id"), col("sh")),
          corpusSh.select(col("doc_id"), col("sh")), threshold, broadcastProbes = true)
          .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"), col("jaccard")))
      }
    }
  }

  /** Exact incremental dedup — the cheap first pass of the daily-batch
    * loop, run before the near-dup LSH probe: flag new docs whose content
    * (over `dedupCols`) byte-for-byte equals an existing corpus doc.
    * Returns (new_id, corpus_id) with corpus_id = min matching id.
    *
    * Scale shape: both sides reduce to the collision-free content key;
    * the corpus side aggregates to one row per distinct content (map-side
    * combine), then the join is batch-driven — AQE broadcasts the batch
    * key set, so corpus content keys stream past it without a
    * corpus-sized shuffle to a new partitioning. */
  def exactIncremental(corpus: DataFrame, newDocs: DataFrame,
                       idCol: String, dedupCols: Seq[String]): DataFrame = {
    val corpusKeys = corpus
      .select(col(s"`$idCol`").cast("long").as("corpus_id"), exactKey(dedupCols).as("__k"))
      .groupBy(col("__k")).agg(min(col("corpus_id")).as("corpus_id"))
    val batchKeys = newDocs
      .select(col(s"`$idCol`").cast("long").as("new_id"), exactKey(dedupCols).as("__k"))
    corpusKeys.join(broadcast(batchKeys), Seq("__k"))
      .select(col("new_id"), col("corpus_id"))
  }

  /** The materializable LSH band-key index of a corpus: (doc_id, band,
    * bucket), ~`bands` short rows per document — small enough to keep as a
    * parquet table alongside a 100 TB corpus (this is what makes daily
    * incremental dedup cheap: the corpus text is never re-shingled). The
    * SAME (threshold, shingleSize, numHashes, bands) must be passed when
    * probing, or the band boundaries (and so the recall S-curve) silently
    * diverge — persist these parameters with the table. */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                threshold: Double = 0.8, shingleSize: Int = 5,
                numHashes: Int = 256, bands: Int = 0): DataFrame = {
    bandKeys(shingled(df, idCol, textCol, shingleSize), numHashes,
      effectiveBands(numHashes, bands, threshold))
  }

  /** Incremental near-dedup against a PRECOMPUTED [[bandIndex]] — the
    * steady-state production loop: the index is maintained as a table
    * (append the batch's band keys after each run), so a daily batch costs
    *   - ONE shuffle of the (small) index to capped buckets,
    *   - a BROADCAST of the batch's band keys,
    *   - exact verification that re-shingles ONLY candidate corpus docs
    *     (a semi-join by id — candidate count is O(batch), not O(corpus)).
    * The corpus TEXT is touched only for candidates; nothing corpus-sized
    * is shingled, signed or shuffled. Same parameters => same S-curve as
    * [[minhashPairs]]/[[incrementalNearDuplicates]] by construction. */
  def incrementalNearDuplicatesIndexed[T](corpus: DataFrame, corpusIndex: DataFrame,
                                          newDocs: DataFrame,
                                          idCol: String, textCol: String,
                                          threshold: Double = 0.8, shingleSize: Int = 5,
                                          numHashes: Int = 256, bands: Int = 0,
                                          maxBucket: Int = 64)(use: DataFrame => T): T = {
    val effBands = effectiveBands(numHashes, bands, threshold)
    // the batch's shingles feed its band keys and the verify join: built
    // once, released when `use` returns
    Fixpoint.materialized(shingled(newDocs, idCol, textCol, shingleSize), ShingleLevel) { newSh =>
      val corpusBuckets = corpusIndex.groupBy("band", "bucket")
        .agg(collect_list("doc_id").as("cids"))
        .where(size(col("cids")) <= maxBucket)
      val candidates = corpusBuckets
        .join(broadcast(bandKeys(newSh, numHashes, effBands).withColumnRenamed("doc_id", "new_id")),
          Seq("band", "bucket"))
        .select(col("new_id").as("id_a"), explode(col("cids")).as("id_b"))
        .where(col("id_a") =!= col("id_b"))
        .distinct()
      // re-shingle only the candidate corpus docs: semi-join by id, then the
      // same shingle builtin as the index build (no cache - the frame is
      // candidate-sized and used once)
      val candCorpusSh = corpus
        .select(col(s"`$idCol`").cast("long").as("doc_id"), col(s"`$textCol`").as("__text"))
        .join(candidates.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), shingleArr("__text", shingleSize).as("sh"))
      use(verifyJaccardSides(candidates, newSh.select(col("doc_id"), col("sh")),
        candCorpusSh, threshold, broadcastProbes = true)
        .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"), col("jaccard")))
    }
  }

  /** Streaming near-dup probe — [[incrementalNearDuplicatesIndexed]] as a
    * STRUCTURED STREAM: new documents arrive continuously and each
    * micro-batch is flagged against the materialized corpus artifacts.
    * Works on a batch frame too (same plan, no persist).
    *
    * Inputs are the two tables a deployment maintains alongside the
    * corpus: `corpusIndex` = [[bandIndex]] output and `corpusShingles` =
    * (doc_id, sh) — a stream cannot semi-join the corpus text by its own
    * candidate ids (a static subquery can't be filtered by stream rows),
    * so verification joins the materialized shingle table instead; the
    * join is still an equi-join keyed on corpus_id.
    *
    * Plan shape per micro-batch: the stream side carries its shingle set
    * through band explosion (batch-sized × bands rows, no stream-stream
    * self-join anywhere), joins the static capped buckets, explodes
    * candidate ids, joins the static shingle table, verifies exact
    * Jaccard inline, and emits (new_id, corpus_id, jaccard) in APPEND
    * mode — no watermark needed because nothing aggregates. The
    * `dropDuplicates` collapses multi-band collisions of the same pair;
    * its state grows with distinct flagged pairs, which is bounded by
    * ingest volume per run (a long-lived deployment restarts the probe
    * per day/window, or swaps in dropDuplicatesWithinWatermark keyed on
    * an ingest-time column). Same parameters => same S-curve and the
    * SAME flagged pairs as the batch operator, which is what the shared
    * oracle pins. */
  def incrementalNearDuplicatesStream(newDocs: DataFrame, corpusIndex: DataFrame,
                                      corpusShingles: DataFrame,
                                      idCol: String, textCol: String,
                                      threshold: Double = 0.8, shingleSize: Int = 5,
                                      numHashes: Int = 256, bands: Int = 0,
                                      maxBucket: Int = 64): DataFrame = {
    val effBands = effectiveBands(numHashes, bands, threshold)
    val rows = numHashes / effBands
    val newSh = newDocs
      .select(col(s"`$idCol`").cast("long").as("new_id"), col(s"`$textCol`").as("__text"))
      .select(col("new_id"), shingleArr("__text", shingleSize).as("sh_a"))
      .withColumn("shx", transform(col("sh_a"), s => xxhash64(s)))
    // band keys with the shingle set carried along (no self-join back)
    val banded = newSh.where(size(col("shx")) > 0)
      .withColumn("sig", minhashSigCol(numHashes, col("shx")))
      .select(col("new_id"), col("sh_a"), posexplode(expr(
        s"transform(sequence(0, ${effBands - 1}), b -> xxhash64(concat_ws(',', slice(sig, b * $rows + 1, $rows)), b))")))
      .select(col("new_id"), col("sh_a"), col("pos").as("band"), col("col").as("bucket"))
    val corpusBuckets = corpusIndex.groupBy("band", "bucket")
      .agg(collect_list("doc_id").as("cids"))
      .where(size(col("cids")) <= maxBucket)
    val b = corpusShingles.select(col("doc_id").as("corpus_id"), col("sh").as("sh_b"))
    banded.join(corpusBuckets, Seq("band", "bucket"))
      .select(col("new_id"), col("sh_a"), explode(col("cids")).as("corpus_id"))
      .where(col("new_id") =!= col("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
      .join(b, Seq("corpus_id"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", try_divide(col("inter"), size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** The (doc_id, sh) shingle-set table to materialize alongside
    * [[bandIndex]] for the streaming probe's verification join. */
  def shingleTable(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 5): DataFrame =
    df.select(col(s"`$idCol`").cast("long").as("doc_id"), col(s"`$textCol`").as("__text"))
      .select(col("doc_id"), shingleArr("__text", shingleSize).as("sh"))

  /** Exact Jaccard over shingle sets for candidate pairs. */
  private def verifyJaccard(pairs: DataFrame, shingleSets: DataFrame, threshold: Double): DataFrame =
    verifyJaccardSides(pairs, shingleSets, shingleSets, threshold)

  /** Two-sided variant for the incremental operators: id_a resolves ONLY
    * against `shA` (batch side) and id_b ONLY against `shB` (corpus side).
    * A union keyed on bare doc_id would silently emit duplicated/wrong
    * pairs the moment a batch id collides with a corpus id — id spaces of
    * independently-produced daily batches are NOT reliably disjoint from
    * the corpus, so the operator must not assume they are.
    *
    * Verify shape (round 11, driven by the 100x ScaleCheck point): each
    * pair explodes into TWO side-tagged probe rows (side, doc_id, id_a,
    * id_b — 2 rows/pair, no payload), and ONE join against the side-tagged
    * union of the shingle tables attaches each doc's shingles; a
    * (id_a, id_b)-keyed aggregate then reassembles the two arrays and the
    * intersect runs per pair. Why not the obvious two id-joins: below the
    * broadcast threshold they plan as BHJ (shingles stream, zero shuffle),
    * but the moment the static size estimate of the shingle side crosses
    * it they flip to sort-merge and shuffle the FULL corpus-sized shingle
    * table — measured at 100x data: a 734 MB exchange that is pure
    * overhead when the pair set is 25k rows. With the probe shape the
    * candidate pipeline has exactly ONE consumer, the probe side is tiny
    * (AQE converts the join to broadcast at any realistic duplicate mass,
    * so the corpus STREAMS), and the only exchange is the candidate-mass-
    * sized reassembly — bytes proportional to duplicate mass, not corpus
    * size. The side tag keeps the two-sided id-resolution contract: a
    * probe row only ever matches its own frame.
    *
    * `broadcastProbes` forces the probe side's broadcast instead of
    * leaving the conversion to AQE. AQE's conversion is a RACE: the join's
    * child stages are submitted concurrently, and if the shingle-union
    * exchange materializes before the (tiny) probe stage reports its size,
    * the sort-merge plan sticks and the corpus shuffles anyway — measured
    * on the 100x incremental probe: a 751 MB exchange serving 11k pairs,
    * while the structurally identical batch operator won the same race.
    * The incremental/streaming callers pass true: their candidate set is
    * BATCH-bounded by construction (candidates <= batch bands x maxBucket),
    * so the broadcast can never be corpus-sized. The full batch operator
    * leaves it false — its pair set is duplicate-mass-sized, which a
    * pathological corpus can make too big to force into executor memory. */
  private def verifyJaccardSides(pairs: DataFrame, shA: DataFrame, shB: DataFrame,
                                 threshold: Double,
                                 broadcastProbes: Boolean = false): DataFrame = {
    val probes0 = pairs.select(col("id_a"), col("id_b"),
      posexplode(array(col("id_a"), col("id_b"))).as(Seq("side", "doc_id")))
    val probes = if (broadcastProbes) broadcast(probes0) else probes0
    // the union is narrow: neither shingle table moves for it
    val shBoth = shA.select(lit(0).as("side"), col("doc_id"), col("sh"))
      .unionByName(shB.select(lit(1).as("side"), col("doc_id"), col("sh")))
    val matched = probes.join(shBoth, Seq("side", "doc_id"))
    matched.groupBy(col("id_a"), col("id_b"))
      // exactly one row per side per pair (pair ids are distinct within a
      // pair and each resolves against one frame), so first-non-null IS
      // that side's array; a doc missing from its shingle frame leaves a
      // null -> null jaccard -> filtered, same as the old inner joins
      .agg(first(when(col("side") === 0, col("sh")), ignoreNulls = true).as("sh_a"),
        first(when(col("side") === 1, col("sh")), ignoreNulls = true).as("sh_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      // try_divide: two empty sets would be 0/0 (ANSI mode throws); an empty
      // set is similar to nothing
      .withColumn("jaccard", try_divide(col("inter"), size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Containment near-dup pairs: `max(|A∩B|/|A|, |A∩B|/|B|) >= threshold`
    * over distinct word n-gram sets — the ASYMMETRIC complement of
    * [[ngramJaccardPairs]]. Symmetric Jaccard misses a short document
    * embedded verbatim in a much longer one (a wire story inside a long
    * article dilutes |A∪B|); containment scores that pair ~1.0 from the
    * short side. Same inverted-index pipeline, same rare-gram shuffle —
    * only the final integer-count comparison differs.
    *
    * Both numerator and denominators are computed over the POST-CUTOFF
    * gram sets (`na_cut`/`nb_cut`, df <= maxDf): `common` can only count
    * rare grams, so dividing it by full-set sizes would systematically
    * underestimate containment for exactly the short template-family docs
    * this operator targets (a fully embedded doc whose grams are hot
    * would score < 1.0 and slip the threshold). With cut denominators the
    * ratio stays internally consistent — it IS exact containment over the
    * rare-gram subsets, and equals full-set containment whenever no gram
    * exceeds `maxDf`. */
  def ngramContainmentPairs[T](df: DataFrame, idCol: String, textCol: String,
                               threshold: Double = 0.8, n: Int = 3, maxDf: Int = 1000)
                              (use: DataFrame => T): T =
    ngramPairCounts(df, idCol, textCol, n, maxDf) { pc =>
      use(pc.withColumn("containment",
          greatest(col("common").cast("double") / col("na_cut"),
            col("common").cast("double") / col("nb_cut")))
        .where(col("containment") >= threshold)
        .select(col("id_a"), col("id_b"), col("containment")))
    }

  /** Word n-gram Jaccard near-dup via inverted-index join (no minhash
    * approximation in candidate generation; exactness bounded only by the
    * hot-shingle cutoff; what the cutoff discards is measurable exactly
    * via [[ngramHotGrams]]). */
  def ngramJaccardPairs[T](df: DataFrame, idCol: String, textCol: String,
                           threshold: Double = 0.5, n: Int = 3, maxDf: Int = 1000)
                          (use: DataFrame => T): T =
    // full-set denominators only — skip the cut-count pass entirely (an
    // unused inner join is NOT pruned by Catalyst; it must not be planned)
    ngramPairCounts(df, idCol, textCol, n, maxDf, withCutCounts = false) { pc =>
      use(pc.withColumn("jaccard",
          col("common").cast("double") / (col("na") + col("nb") - col("common")))
        .where(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard")))
    }

  /** Shared inverted-index pair pipeline:
    * (id_a, id_b, common, na, nb[, na_cut, nb_cut when `withCutCounts`])
    * for every pair sharing at least one rare gram — public so a caller
    * needing SEVERAL similarity measures (jaccard AND containment, or a
    * custom overlap rule) derives them all from ONE pass instead of
    * re-running the tokenize/self-join per measure. `na`/`nb` are
    * the FULL distinct-gram-set sizes; `na_cut`/`nb_cut` count only grams
    * surviving the df <= maxDf cutoff — the consistent denominator when
    * the numerator (`common`) is itself cutoff-bounded (see
    * [[ngramContainmentPairs]]; Jaccard keeps the full denominators, where
    * the cutoff bias is symmetric and mild). The cut counts cost one extra
    * pass over the inverted index (gram-keyed semi-join + doc-keyed
    * aggregate) plus two pair-frame joins — callers that only need the
    * full-set denominators pass `withCutCounts = false` and the columns
    * (and their plan cost) are omitted entirely: Catalyst cannot prune an
    * unused INNER join (it may change cardinality), so the pruning has to
    * happen here.
    *
    * Scale shape: explode n-grams -> drop n-grams occurring in more than
    * `maxDf` docs (they generate the quadratic buckets and carry no
    * discriminative signal — standard practice) -> self-join the inverted
    * index on the n-gram (shuffle on short string keys) -> count common
    * n-grams per pair -> attach per-doc distinct gram counts. */
  def ngramPairCounts[T](df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, maxDf: Int = 1000,
                         withCutCounts: Boolean = true)(use: DataFrame => T): T = {
    // Tokenize ONCE per row and spread partitions for the CPU-bound
    // gramming. Writing split() inline in the gram lambda re-evaluates the
    // regex split per gram index (O(tokens^2) splits per document), and a
    // single input file would run it all on one task. The gram arrays feed
    // the counts, the df aggregate, both self-join sides and the cut counts,
    // so they are built once before that plan and released when `use`
    // returns; the pair frame is lazy over them.
    Fixpoint.materialized(Partitioning.spread(df.select(
      col(s"`$idCol`").cast("long").as("doc_id"), col(s"`$textCol`").as("__text")))
      .select(col("doc_id"), split(lower(trim(col("__text"))), "\\s+").as("t"))
      // gram identity MUST stay byte-identical across the gram operators
      // (novelty/decontamination cross-checks) — one shared builder
      .select(col("doc_id"),
        array_distinct(TextAnalysis.wordGrams(col("t"), n)).as("grams"))) { toks =>
      val counts = toks.select(col("doc_id"), size(col("grams")).as("n_grams"))
      val inv = toks.select(col("doc_id"), explode(col("grams")).as("gram"))
      // Recall lost to the maxDf cutoff is surfaced by [[ngramHotGrams]] — an
      // exact aggregate over the same inverted index — NOT by a side-effecting
      // accumulator here: an accumulator ticked inside a transformation UDF
      // over-counts on task retry (Spark guarantees exactly-once accumulator
      // updates only inside actions) and the UDF blocked codegen of the
      // document-frequency aggregate.
      val dfs = inv.groupBy("gram").agg(count(lit(1)).as("df"))
      // the cutoff set: every gram a containment denominator may count.
      // df=1 grams stay IN this set (a gram unique to one doc is part of
      // that doc's identity, it just cannot produce a pair) — only the
      // pair-generating self-join below additionally drops them.
      val kept = dfs.where(col("df") <= maxDf)
      // both self-join sides re-derive this from the gram arrays - an explode
      // over them is cheaper than building a second copy
      val filtered = inv.join(kept.where(col("df") > 1).select("gram"), "gram")
      val pairsCommon = filtered.as("x").join(filtered.as("y"), "gram")
        .where(col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .agg(count(lit(1)).as("common"))
      val withFull = pairsCommon
        .join(counts.select(col("doc_id").as("id_a"), col("n_grams").as("na")), "id_a")
        .join(counts.select(col("doc_id").as("id_b"), col("n_grams").as("nb")), "id_b")
      use(
        if (!withCutCounts) withFull
        else {
          // per-doc size of the post-cutoff gram set — one extra
          // vocabulary-keyed join + doc-keyed aggregate over the already-
          // built inverted index. Every doc in a pair shares >= 1 rare gram,
          // so it is guaranteed present here (inner join loses nothing).
          val cutCounts = inv.join(kept.select("gram"), "gram")
            .groupBy("doc_id").agg(count(lit(1)).as("n_cut"))
          withFull
            .join(cutCounts.select(col("doc_id").as("id_a"), col("n_cut").as("na_cut")), "id_a")
            .join(cutCounts.select(col("doc_id").as("id_b"), col("n_cut").as("nb_cut")), "id_b")
        })
    }
  }

  /** The hot grams [[ngramJaccardPairs]]'s `maxDf` cutoff discards, with
    * their document frequencies — (n_hot, max_df, hot_gram_docs). Run this
    * when tuning `maxDf`: near-dups that share ONLY grams hotter than the
    * cutoff are invisible to the pair operator, and that recall loss must
    * be measurable, not a side-channel. Exact (a plain aggregate over the
    * same tokenize→gram→explode pipeline — retry-safe, unlike the
    * accumulator this replaced). One shuffle on the gram key with map-side
    * combine; the summary agg moves one row per hot gram. */
  def ngramHotGrams(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, maxDf: Int = 1000): DataFrame = {
    // evalBarrier between the gram projection and the explode: fused, the
    // generator re-evaluates the tokenize/gram lambda per output element
    // (~15x at sf0.1). The sibling pair operator builds this projection
    // once (it has multiple consumers); this one-shot aggregate only needs
    // the streaming barrier.
    val inv = Partitioning.evalBarrier(
      Partitioning.spread(df.select(
        col(s"`$idCol`").cast("long").as("doc_id"), col(s"`$textCol`").as("__text")))
        .select(col("doc_id"), split(lower(trim(col("__text"))), "\\s+").as("t"))
        .select(col("doc_id"),
          array_distinct(expr(
            s"CASE WHEN size(t) < $n THEN array() " +
              s"ELSE transform(sequence(1, size(t) - ${n - 1}), i -> concat_ws(' ', slice(t, i, $n))) END")).as("grams")))
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    inv.groupBy("gram").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf)
      .agg(count(lit(1)).as("n_hot"),
        coalesce(max(col("df")), lit(0L)).cast("long").as("max_df"),
        coalesce(sum(col("df")), lit(0L)).cast("long").as("hot_gram_docs"))
  }

  /** SimHash near-dup pairs: 64-bit signatures (the codegen'd
    * [[graft.plans.SimHash64]] expression — MurmurHash3 bit votes over
    * whitespace tokens), candidates from exact match on any of 4 16-bit
    * chunks (pigeonhole: hamming<=3 guarantees a chunk collision), verified
    * with bit_count(xor) <= maxHamming. Null texts produce a null signature
    * and are filtered out before chunking — a null sig would still explode
    * into 4 null-bucket rows (transform over a null arg yields an array of
    * nulls, not null), and groupBy groups nulls together. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    val sigs = Partitioning.spread(df.select(
      col(s"`$idCol`").cast("long").as("doc_id"), col(s"`$textCol`").as("__text")))
      .select(col("doc_id"),
        graft.plans.VectorExpressions.simhash64(split(lower(col("__text")), "\\s+")).as("sig"))
    pairsFromSignatures64(sigs, maxHamming, maxBucket)
  }

  /** Near-dup pairs from ANY precomputed 64-bit signature frame
    * (doc_id, sig) — the banded-pigeonhole join behind [[simhashPairs]],
    * shared with the image dHash dedup ([[graft.operators.Multimodal
    * .pngDHash64]] signatures): candidates from exact match on any of 4
    * 16-bit chunks (hamming<=3 guarantees a chunk collision), verified
    * with bit_count(xor) <= maxHamming. Null signatures are dropped
    * before chunking. */
  /** (chunk, bucket, doc_id, sig) pigeonhole rows of a 64-bit signature
    * frame: 4 rows per signature, one per 16-bit chunk — the shared key
    * space of [[pairsFromSignatures64]], the materialized
    * [[writeSignatureStore]] layout, and the incremental
    * [[probeSignatureStore]] join, so batch and incremental paths
    * collide by construction. */
  private def chunked64(sigFrame: DataFrame): DataFrame =
    sigFrame
      .select(col("doc_id").cast("long").as("doc_id"), col("sig").cast("long").as("sig"))
      .where(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"),
        posexplode(expr(
          "transform(sequence(0, 3), c -> shiftright(sig, c * 16) & 65535)")))
      .select(col("doc_id"), col("sig"), col("pos").as("chunk"), col("col").as("bucket"))

  def pairsFromSignatures64(sigFrame: DataFrame,
                            maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole covers hamming<=3; raise chunks for more")
    val chunked = chunked64(sigFrame)

    val buckets = chunked.groupBy("chunk", "bucket")
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("members"))
      .where(size(col("members")) > 1 && size(col("members")) <= maxBucket)

    // sort by (doc_id, sig) — doc_id is unique within a chunk-bucket, so
    // this matches the former sortBy(_._1); pair expansion is the codegen'd
    // Pairs comprehension, not a UDF
    buckets.select(array_sort(array_distinct(col("members"))).as("ms"))
      .select(explode(Pairs.fromSortedMembers(col("ms"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("sig_a"), col("p._3").as("id_b"), col("p._4").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // -------------------------------------------------------------------
  // Materialized 64-bit signature store — the multimodal near-dup
  // family's incremental law ([[bandIndex]] / knnProbeStored applied to
  // perceptual signatures): fingerprint the corpus ONCE, persist the
  // pigeonhole layout, and flag each daily media batch against the
  // RELOADED store without ever re-pairing corpus against corpus.
  // -------------------------------------------------------------------

  /** Materialize a signature frame (doc_id, sig) as its pigeonhole rows,
    * partitioned by chunk (4 fixed directories — bucket stays a column:
    * 65536 values x 4 chunks as directories would be small-file litter).
    * Appends are pure per-document rows, so [[addSignatureBatch]] merge
    * equals a full rebuild row-for-row with no stats sidecar to
    * re-stamp. */
  def writeSignatureStore(sigs: DataFrame, path: String,
                          filesPerPartition: Int = 1): Unit =
    graft.sources.Sinks.writePartitioned(
      chunked64(sigs), path, Seq("chunk"), filesPerPartition)

  /** Append a day's signatures to the store. Re-adding an already-stored
    * doc_id is the caller's bug (its pairs would duplicate); dedup
    * upstream. */
  def addSignatureBatch(path: String, sigs: DataFrame): Unit =
    // chunk layout before the append — one file per chunk dir instead of
    // one per (task x chunk), so later store scans list and open fewer
    // small files
    chunked64(sigs).repartition(col("chunk"))
      .write.mode("append").partitionBy("chunk").parquet(path)

  /** Reload the raw (doc_id, sig) frame from a store: chunk 0 carries
    * each signature exactly once (partition-pruned single-directory
    * read). Feeding this back into [[pairsFromSignatures64]] must equal
    * the direct operator on the original frame — the store is invisible
    * to the result. */
  def readSignatureStore(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).where(col("chunk") === 0)
      .select(col("doc_id"), col("sig"))

  /** Flag a NEW batch's signatures against the stored corpus: the
    * incremental twin of [[pairsFromSignatures64]], returning
    * (new_id, corpus_id, hamming) for every cross pair at
    * hamming <= maxHamming.
    *
    * Scale shape (the incrementalNearDuplicates argument): the batch's
    * pigeonhole rows BROADCAST; the corpus store is scanned once and
    * never shuffled or grouped — the join is broadcast-hash on
    * (chunk, bucket), output is match-sized, and the only shuffle is the
    * final pair distinct. Cost per probe is O(corpus scan) + O(matches),
    * independent of corpus pair structure; the store pre-paid the
    * chunk explosion at write time. */
  def probeSignatureStore(spark: SparkSession, path: String, newSigs: DataFrame,
                          maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole covers hamming<=3; raise chunks for more")
    val store = spark.read.parquet(path)
    val batch = chunked64(newSigs)
      .withColumnRenamed("doc_id", "new_id").withColumnRenamed("sig", "new_sig")
    store.join(broadcast(batch), Seq("chunk", "bucket"))
      .where(col("doc_id") =!= col("new_id"))
      .withColumn("hamming", bit_count(col("sig").bitwiseXOR(col("new_sig"))))
      .where(col("hamming") <= maxHamming)
      .select(col("new_id"), col("doc_id").as("corpus_id"), col("hamming"))
      .distinct()
  }
}

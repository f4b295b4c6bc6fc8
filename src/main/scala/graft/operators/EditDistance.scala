package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact edit-distance similarity join: all pairs with
  * `levenshtein(text_a, text_b) <= maxDistance` — the q-gram
  * string-similarity join of Gravano et al. (VLDB 2001) with AllPairs
  * prefix filtering (Bayardo et al., WWW 2007), re-expressed as a Spark
  * dataflow. Never an all-pairs cross join.
  *
  * Lossless candidate generation:
  *
  *  - q-gram bound: one edit touches at most `q` of a string's q-grams,
  *    so `d` edits destroy at most `q*d` DISTINCT grams; two strings
  *    within distance `d` therefore share at least
  *    `max(|G_a|, |G_b|) - q*d` distinct grams.
  *  - prefix filter: order all grams globally by (document frequency,
  *    gram). Two sets sharing >= t elements must collide within their
  *    `|G| - t + 1` smallest elements; with `t = max(|G_a|,|G_b|) - q*d`
  *    that prefix is at most `q*d + 1` grams per string. So the inverted
  *    index holds only each string's `q*d + 1` GLOBALLY-RAREST grams —
  *    corpus-hot grams ("the", " th") never enter the candidate join,
  *    which kills the n² hot-bucket blowup a full gram index suffers on
  *    natural text.
  *  - length window: `abs(len_a - len_b) <= d` (an edit moves length by
  *    at most 1), applied inside the candidate join.
  *
  * Survivors verify with the codegen'd `levenshtein(_, _, threshold)`
  * builtin (banded DP: O(d·n) with early exit, not O(n²)). The gram path
  * needs every true pair to share a gram, guaranteed above
  * `q*(maxDistance+1)` characters; shorter strings route to a separate
  * exact-length-bucket arm with an overlap band so cross-boundary pairs
  * are seen exactly once. Short-text corpora can make those buckets
  * arbitrarily large, so a `maxShortBucket` skew cap (same pattern as the
  * LSH operators' maxBucket) drops over-cap length buckets loudly — a
  * documented recall cap instead of a silent quadratic task.
  *
  * Scale shape: gram df counts are one map-side-combined shuffle; the
  * prefix index is `(q*d+1)` rows per document (corpus-linear, hot-gram
  * free); the verify join re-attaches texts only to surviving pairs.
  */
object EditDistance {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def editDistancePairs[T](df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int, q: Int = 3, maxShortBucket: Long = 100000L)(use: DataFrame => T): T = {
    require(maxDistance >= 1, "maxDistance must be >= 1")
    require(q >= 2, "q must be >= 2")
    require(maxShortBucket >= 1, "maxShortBucket must be >= 1")
    val d = maxDistance
    val prefixLen = q * d + 1
    val minLongLen = q * (d + 1) // above this, >= 1 shared gram is guaranteed

    val base = df.select(col(s"`$idCol`").cast("long").as("doc_id"),
      col(s"`$textCol`").as("text"))
      .where(col("text").isNotNull)
    val longs = base.where(length(col("text")) > minLongLen)
    // the short set OVERLAPS the long set by d characters: a pair with one
    // side <= minLongLen has its other side <= minLongLen + d (length
    // window), so the short arm sees both sides of every such pair. The
    // short arm then requires at least one CORE-short side, and the gram
    // arm requires both sides long — each true pair is covered exactly once
    val shorts = base.where(length(col("text")) <= minLongLen + d)
      .withColumn("core", length(col("text")) <= minLongLen)

    // distinct q-grams per string (evalBarrier: fused with the explode the
    // generator would re-run the gram lambda per output element)
    val grams = longs.select(col("doc_id"), length(col("text")).as("len"),
      array_distinct(expr(
        s"transform(sequence(1, length(text) - ${q - 1}), i -> substr(text, i, $q))")).as("gs"))
    val inv = Partitioning.evalBarrier(grams)
      .select(col("doc_id"), col("len"), explode(col("gs")).as("gram"))

    // global gram order (df, hash), then each string's q*d+1 rarest grams.
    // The distinct q-gram space is bounded by |alphabet|^q (q=3 ASCII-ish
    // text: tens of thousands), so the df table BROADCASTS — the corpus
    // gram rows never shuffle for the df attach. Grams travel as 8-byte
    // xxhash64 keys from here on: a hash collision can only ADD a
    // candidate pair, and every candidate is levenshtein-verified, so the
    // result stays exact. (For large q over wide alphabets swap the
    // broadcast for a shuffle join.)
    // the df-count aggregate and the prefix join both read this frame in
    // one plan; uncached, the CPU-heavy gram pipeline above (tokenize +
    // per-window substr + hash) evaluates twice per call. Built once, and
    // released when `use`, which runs every action over the lazy pairs,
    // returns
    Fixpoint.materialized(
        inv.select(col("doc_id"), col("len"), xxhash64(col("gram")).as("gh"))) { hashedInv =>
      val dfCounts = hashedInv.groupBy(col("gh")).agg(count(lit(1)).as("gdf"))
      // rarest-prefix selection through the bounded-heap aggregate: the
      // previous collect_list + array_sort + slice shuffled EVERY gram row
      // into the doc group (measured: the 8.8 GB exchange dominating
      // edit_pairs at 100x) just to keep q*d+1 of them; the heap keeps
      // (q*d+1) candidates per doc per map partition, so the exchange
      // carries ~prefixLen rows per doc. Selection and order are identical:
      // top-k by (-gdf DESC, gh ASC) == ascending (gdf, gh) prefix, with
      // duplicate-hash rows surviving in both formulations.
      val prefixInv = hashedInv.join(broadcast(dfCounts), "gh")
        .groupBy(col("doc_id"))
        .agg(first(col("len")).as("len"),
          graft.plans.TopKAggregate.topKByScore(
            -col("gdf").cast("double"), col("gh"), prefixLen).as("pref"))
        .select(col("doc_id"), col("len"), explode(col("pref.id")).as("gh"))

      val cand = prefixInv.as("a").join(prefixInv.as("b"),
          col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id") &&
            abs(col("a.len") - col("b.len")) <= d)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()

      val verified = cand
        .join(longs.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
        .join(longs.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
        .select(col("id_a"), col("id_b"),
          levenshtein(col("ta"), col("tb"), d).as("dist"))
        .where(col("dist") >= 0) // threshold form returns -1 past the bound

      // short strings: too few grams for the bound — pair by exact length
      // bucket (a true pair's lengths differ by <= d, so each bucket joins
      // its 2d+1 neighbors), then verify identically. The short set is NOT
      // inherently bounded (a names/queries corpus can be ALL short), so a
      // skew cap bounds the per-bucket quadratic exactly like the LSH
      // operators' maxBucket: a length bucket over `maxShortBucket` rows is
      // dropped from the probe side with a warning — a documented recall
      // cap, never a silent quadratic task
      val lenCounts = shorts.groupBy(length(col("text")).as("lb")).agg(count(lit(1)).as("n"))
      val hot = lenCounts.where(col("n") > maxShortBucket).collect()
      if (hot.nonEmpty) log.warn(
        s"graft.edit short-length buckets over cap $maxShortBucket dropped: " +
          hot.map(r => s"len=${r.getInt(0)} n=${r.getLong(1)}").mkString(", "))
      val okLens = lenCounts.where(col("n") <= maxShortBucket).select(col("lb"))
      val shortPairs = shorts.select(col("doc_id").as("id_a"), col("text").as("ta"),
          col("core").as("core_a"),
          explode(sequence(length(col("text")) - d, length(col("text")) + d)).as("lb"))
        .join(shorts.select(col("doc_id").as("id_b"), col("text").as("tb"),
          col("core").as("core_b"), length(col("text")).as("lb"))
          .join(broadcast(okLens), "lb"), "lb")
        .where(col("id_a") < col("id_b") && (col("core_a") || col("core_b")))
        .select(col("id_a"), col("id_b"),
          levenshtein(col("ta"), col("tb"), d).as("dist"))
        .where(col("dist") >= 0)

      use(verified.unionByName(shortPairs))
    }
  }
}

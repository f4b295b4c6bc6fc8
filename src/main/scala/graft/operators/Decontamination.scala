package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination: remove training documents that share a long
  * word n-gram with an evaluation set — the published GPT-3/PaLM-style
  * procedure (n-gram collision against the benchmark, typically n in 8..13).
  *
  * Scale shape: the benchmark side is SMALL (eval suites are thousands of
  * documents), the corpus side is the 100 TB one. So: build the DISTINCT
  * benchmark n-gram set and BROADCAST it; the corpus side explodes its
  * grams (narrow) and probes the broadcast in an equi-join — no shuffle of
  * corpus data at all until the final distinct over contaminated doc ids
  * (tiny). Matching is exact string equality, so there are no hash-
  * collision false positives. (If the benchmark gram set ever outgrew the
  * broadcast threshold, swap the probe for a `xxhash64` key set — a
  * collision can only over-flag, never miss.)
  */
object Decontamination {

  // the ONE shared gram definition — byte-identical across the gram-based
  // operators so their outputs stay mutually comparable
  private def grams(toks: Column, n: Int): Column = TextAnalysis.wordGrams(toks, n)

  /** Exploded (id?, gram) rows with an [[Partitioning.evalBarrier]] between
    * the gram projection and the explode: fused into one stage, the
    * generator re-evaluates the tokenize/gram lambda per output element
    * (~15x slower at sf0.1). The barrier keeps the path streaming — no
    * cache, no shuffle. */
  private def explodedGrams(df: DataFrame, textCol: String, n: Int,
                            idCol: Option[String]): DataFrame = {
    val keyCols = idCol.toSeq.map(c => col(s"`$c`").cast("long").as("doc_id"))
    val projected = df.select(
      keyCols :+ grams(TextAnalysis.tokens(col(s"`$textCol`")), n).as("__grams"): _*)
    Partitioning.evalBarrier(projected)
      .select(keyCols.map(_ => col("doc_id")) :+ explode(col("__grams")).as("gram"): _*)
  }

  /** Distinct ids of documents sharing at least one word `n`-gram with any
    * benchmark text. Tokenization: lowercased whitespace tokens (matches
    * [[TextAnalysis.tokens]]). */
  def contaminatedIds(docs: DataFrame, idCol: String, textCol: String,
                      benchmark: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    require(n >= 2, "n-gram decontamination needs n >= 2")
    val benchGrams = explodedGrams(benchmark, benchTextCol, n, None).distinct()
    val docGrams = explodedGrams(docs, textCol, n, Some(idCol))
    // exact string equality in the join condition; broadcast the small side
    docGrams.join(broadcast(benchGrams), "gram")
      .select(col("doc_id")).distinct()
  }

  /** Scale path: Bloom-prefiltered decontamination. When the benchmark gram
    * set outgrows what a broadcast of raw strings tolerates (~100M grams is
    * gigabytes of UTF-8 but only ~10 bits/key as a Bloom filter), probe a
    * broadcast Bloom filter FIRST — a narrow per-row test that discards
    * ~all of the corpus's grams — and send only the surviving candidates to
    * the exact-equality confirm join. A Bloom filter can over-flag but
    * never miss, and every candidate is re-checked exactly, so the result
    * is IDENTICAL to [[contaminatedIds]] — the filter only moves work off
    * the join. The Bloom bitset is an OR of per-item hashes, so its bits
    * (and therefore the candidate set) are insertion-order-independent and
    * deterministic. The probe is a codegen'd Catalyst expression
    * ([[graft.plans.BloomMightContain]]) hashing the UTF-8 bytes in place —
    * no UDF boxing on the corpus-sized path; the confirm join then touches
    * ~fpp of the corpus grams. */
  def contaminatedIdsBloom[T](docs: DataFrame, idCol: String, textCol: String,
                              benchmark: DataFrame, benchTextCol: String, n: Int = 8,
                              fpp: Double = 0.01)(use: DataFrame => T): T = {
    require(n >= 2, "n-gram decontamination needs n >= 2")
    // three consumers (count, Bloom build, confirm join) read the benchmark
    // grams: built once, released when `use`, which runs every action over
    // the lazy id frame, returns
    Fixpoint.materialized(explodedGrams(benchmark, benchTextCol, n, None).distinct()) { benchGrams =>
      val expected = benchGrams.count() // small side; one tiny job
      if (expected == 0L) // bloom_filter_agg yields null on empty input (NPE in readFrom)
        use(docs.sparkSession.emptyDataFrame.select(lit(0L).as("doc_id")).where(lit(false)))
      else {
        val bloom = benchGrams.stat.bloomFilter("gram", expected, fpp)
        val candidates = explodedGrams(docs, textCol, n, Some(idCol))
          .where(graft.plans.BloomExpression.mightContain(col("gram"), bloom))
        // NO broadcast hint on the confirm: the whole point of this path is
        // a benchmark too big to ship as raw strings. Post-prefilter the
        // candidate side is ~fpp of the corpus grams, so Spark's stats
        // (AQE) pick the broadcast side — usually the candidates — on their
        // own.
        use(candidates.join(benchGrams, "gram").select(col("doc_id")).distinct())
      }
    }
  }

  /** Graded contamination: per document, the share of its DISTINCT word
    * `n`-grams that appear in the benchmark — the score behind "remove at
    * >X% overlap" policies (a verbatim benchmark copy scores 10000, one
    * shared idiom in a long document rounds to 0), where the binary
    * [[contaminatedIds]] flag would treat both the same.
    *
    * Scale shape: benchmark gram set broadcast exactly as in
    * [[contaminatedIds]]; the corpus side dedups each document's grams
    * IN-ROW (`array_distinct` before the explode — per-doc distinctness
    * needs no corpus-wide shuffle), probes the broadcast, and folds to
    * per-doc counts in ONE map-side-combined shuffle keyed by doc_id.
    * The ratio is integer per-10k (`n_hit * 10000 div n_grams`) — no
    * float division for engines to disagree about.
    *
    * Output: (doc_id, n_grams, n_hit, ratio_x1e4) for every document with
    * at least one `n`-gram; shorter documents have no grams to score and
    * are absent (score them as 0-risk upstream if needed). */
  def contaminationRatio(docs: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    require(n >= 2, "n-gram contamination scoring needs n >= 2")
    val benchGrams = explodedGrams(benchmark, benchTextCol, n, None).distinct()
      .withColumn("__hit", lit(1L))
    // per-doc distinct happens IN-ROW (array_distinct) — a corpus-wide
    // .distinct() shuffle for a per-document property would be pure waste.
    // The fold still counts DISTINCT grams (not rows): with duplicate
    // doc_id rows the in-row dedup alone would double-count shared grams
    // and silently diverge from the "document's distinct n-grams"
    // contract; count_distinct keeps it exact in the SAME single shuffle
    // (the two distinct aggregates plan through one Expand).
    val projected = docs.select(
      col(s"`$idCol`").cast("long").as("doc_id"),
      array_distinct(grams(TextAnalysis.tokens(col(s"`$textCol`")), n)).as("__grams"))
    Partitioning.evalBarrier(Partitioning.spread(projected))
      .select(col("doc_id"), explode(col("__grams")).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_grams"),
        coalesce(countDistinct(when(col("__hit") === 1L, col("gram"))), lit(0L)).as("n_hit"))
      .withColumn("ratio_x1e4", expr("n_hit * 10000 div n_grams"))
  }

  /** Drop contaminated documents (left anti join against the flagged ids —
    * the id set is small, so the anti join broadcasts too). */
  def dropContaminated(docs: DataFrame, idCol: String, textCol: String,
                       benchmark: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    // enforce the repo-wide long-id convention LOUDLY: on a non-integral id
    // (string UUIDs) the cast below would yield null ids, the anti-join
    // condition would be null for every row, and ALL contaminated docs
    // would silently pass through — a no-op on a safety-critical operator
    val idType = docs.schema(idCol).dataType
    val integral = {
      import org.apache.spark.sql.types._
      idType == ByteType || idType == ShortType || idType == IntegerType || idType == LongType
    }
    require(integral,
      s"dropContaminated requires an integral id column, got `$idCol`: $idType " +
        "(map non-integral ids to a long surrogate first)")
    val bad = contaminatedIds(docs, idCol, textCol, benchmark, benchTextCol, n)
    docs.join(broadcast(bad),
      docs(s"`$idCol`").cast("long") === bad("doc_id"), "left_anti")
  }

  /** SEMANTIC decontamination — the embedding-space complement of the
    * n-gram operators above: an eval example paraphrased into different
    * surface tokens shares no 8-grams with its source but still sits next
    * to it in embedding space, so modern decontamination (e.g. the
    * Phi/FineWeb recipes) also flags training vectors whose cosine
    * against ANY benchmark vector reaches a threshold. Comparison runs on
    * the ppm grid (`round(cosine·1e6) >= tauPpm`, the [[Similarity
    * .hardNegatives]] discipline — a ~1e-15 cross-engine float difference
    * cannot cross a 1e-6 grid cell outside a measure-zero boundary).
    *
    * Returns one row per flagged corpus vector: (vid, n_hits,
    * max_cos_ppm). Scale shape: the benchmark side is require-bounded and
    * enters the plan through a `limit` (a statically bounded × N nested
    * loop — linear in the corpus with a |bench| constant, the same shape
    * as hardNegatives); corpus-side math stays in the codegen'd dot
    * kernel and the per-vid aggregate is map-side combined. */
  def semanticContaminated(corpus: DataFrame, idCol: String, embCol: String,
                           bench: DataFrame, benchIdCol: String, benchEmbCol: String,
                           tauPpm: Long, maxBench: Int = 100): DataFrame = {
    require(tauPpm > -1000000 && tauPpm <= 1000000, "tauPpm is a cosine on the 1e6 grid")
    require(maxBench >= 1 && maxBench <= 1000,
      "benchmark set must be bounded (<= 1000) — it multiplies the corpus scan")
    def norm(c: Column): Column = sqrt(graft.plans.VectorExpressions.dot(c, c))
    val b = bench.select(col(s"`$benchIdCol`").cast("long").as("bench_id"),
        col(s"`$benchEmbCol`").cast("array<double>").as("be"))
      .limit(maxBench) // static row bound: audits as a bounded-side join
    val base = corpus.select(col(s"`$idCol`").cast("long").as("vid"),
      col(s"`$embCol`").cast("array<double>").as("ce"))
    val dot = graft.plans.VectorExpressions.dot(col("ce"), col("be"))
    val cosPpm = round(dot / (norm(col("ce")) * norm(col("be"))) * lit(1000000d), 0)
      .cast("long")
    base.crossJoin(broadcast(b))
      .select(col("vid"), cosPpm.as("cos_ppm"))
      .where(col("cos_ppm") >= tauPpm)
      .groupBy(col("vid"))
      .agg(count(lit(1)).as("n_hits"), max(col("cos_ppm")).as("max_cos_ppm"))
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QueryDef.Scale
import graft.operators.MaskTransform

/** Query registry: ANN/PQ/IVF similarity, sketches and quantiles,
  * retrieval/ranking, classification, text quality. */
private[graft] trait EntryAnnSketchText { this: EntryCore =>

  /** Semantic decontamination: vectors 0..9 as the benchmark, the rest
    * as the training corpus, flagged at cosine >= 0.25 on the ppm grid;
    * full per-flagged-vector value oracle. */
  private[graft] def qDecontaminateSemantic(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    graft.operators.Decontamination.semanticContaminated(
        emb.where(col("vec_id") >= 10), "vec_id", "embedding",
        emb.where(col("vec_id") < 10), "vec_id", "embedding",
        tauPpm = 250000L, maxBench = 10)
      .orderBy("vid")
  }


  /** Product-quantization ANN: integer-grid codebooks (hash init + 1
    * Lloyd round), 8 subspaces x 16 codes over dim 64, ADC probe against
    * vec 0 — training, encoding and probe all replayed exactly by the
    * oracle. */
  private[graft] def qAnnPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    graft.operators.ProductQuant.adcTopK(
      table(spark, dir, "embeddings"), "vec_id", "embedding", q,
      k = 10, m = 8, nCodes = 16, lloydIters = 1, excludeId = Some(0L))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("pq_dist").asc, col("vid").asc)))
      .select(col("vid").as("vec_id"), col("pq_dist"), col("rank"))
  }


  /** Exact integer-L2 top-10 on the quantization grid — the brute-force
    * ANN ground truth, shuffle-free. */
  private[graft] def qAnnL2Topk(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    graft.operators.ProductQuant.l2TopK(
      table(spark, dir, "embeddings"), "vec_id", "embedding", q, k = 10, excludeId = Some(0L))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("l2_dist").asc, col("vid").asc)))
      .select(col("vid").as("vec_id"), col("l2_dist"), col("rank"))
  }


  /** PQ recall@10 against the exact-L2 ground truth on the same grid —
    * the evaluation every ANN deployment runs before trusting the
    * approximate path. One-row integer report. */
  private[graft] def qPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    val emb = table(spark, dir, "embeddings")
    val pq = graft.operators.ProductQuant.adcTopK(emb, "vec_id", "embedding", q,
      k = 10, m = 8, nCodes = 16, lloydIters = 1, excludeId = Some(0L)).select(col("vid"))
    val exact = graft.operators.ProductQuant.l2TopK(emb, "vec_id", "embedding", q,
      k = 10, excludeId = Some(0L)).select(col("vid"))
    pq.join(exact, Seq("vid"))
      .agg(count(lit(1)).as("__n"))
      .select(lit(10L).as("k"), col("__n").cast("long").as("n_common"),
        expr("(__n * 1000000) div 10").cast("long").as("recall_ppm"))
  }


  /** Retrieval eval: nDCG@10 + MRR of the PQ ADC ranking against the
    * exact-L2 graded truth on the same grid — the regression gate a
    * retrieval pipeline runs after every index rebuild. All metrics are
    * ppm integers; the log2 discounts are Scala-computed constants
    * embedded as literals in BOTH plans (see
    * [[graft.operators.Ranking.dcgDiscountsPpm]]). */
  private[graft] def qRankingEval(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    val emb = table(spark, dir, "embeddings")
    def ranked(df: DataFrame, distCol: String) = df.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col(distCol).asc, col("vid").asc)))
      .select(col("vid"), col("rank"))
    val sys = ranked(graft.operators.ProductQuant.adcTopK(emb, "vec_id", "embedding", q,
      k = 10, m = 8, nCodes = 16, lloydIters = 1, excludeId = Some(0L)), "pq_dist")
    val truth = ranked(graft.operators.ProductQuant.l2TopK(emb, "vec_id", "embedding", q,
      k = 10, excludeId = Some(0L)), "l2_dist")
    graft.operators.Ranking.evalRanking(sys, truth, k = 10)
  }


  /** Hard-negative mining: for probes 0..4, the 3 most cosine-similar
    * vectors with a DIFFERENT label — contrastive-training pairs. */
  private[graft] def qHardNegatives(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.hardNegatives(
      table(spark, dir, "embeddings"), "vec_id", "embedding", "label",
      probeIds = Seq(0L, 1L, 2L, 3L, 4L), k = 3)


  /** Streaming ADC probe: the PQ codebook (trained on the static corpus)
    * and distance table ride the plan as literals, so scoring an incoming
    * vector stream is a STATELESS projection — the pattern for flagging
    * near-query vectors at ingest. AvailableNow one-shot; the oracle is
    * the batch PQ replay aggregated over every vector. */
  private[graft] def qStreamPqProbe(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    val emb = table(spark, dir, "embeddings")
    val subDim = q.length / 8
    val rows = graft.operators.ProductQuant.quantizedRows(emb, "vec_id", "embedding", 8, subDim)
    val cb = graft.operators.ProductQuant.trainCodebooks(rows, m = 8, subDim = subDim,
      nCodes = 16, lloydIters = 1)
    val src = streamTable(spark, dir, "embeddings")
    val scored = graft.operators.ProductQuant.adcScores(src, "vec_id", "embedding", cb, q, m = 8)
      .where(col("vid") =!= 0L)
    graft.streaming.Streaming.drain(scored, "stream_pq_probe", "append").agg(
      count(lit(1)).as("n"),
      sum(col("pq_dist")).cast("long").as("dist_sum"),
      min(col("pq_dist")).cast("long").as("dist_min"),
      max(col("pq_dist")).cast("long").as("dist_max"),
      sum(col("vid")).cast("long").as("id_sum"))
  }


  /** PQ-code-blocked near-dup candidate pairs over the embeddings —
    * quantization cells as blocking keys (the embedding analogue of LSH
    * band buckets), exact grid-L2 verification. */
  private[graft] def qDedupPqCodes(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ProductQuant.codeBlockedPairs(
      table(spark, dir, "embeddings"), "vec_id", "embedding",
      m = 4, subDim = 16, maxL2 = 20000000000000L, nCodes = 4, lloydIters = 1)


  /** Corpus PQ reconstruction-error report — the drift metric that
    * triggers codebook retraining; exact-integer aggregate oracle. */
  private[graft] def qPqError(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    val emb = table(spark, dir, "embeddings")
    val subDim = q.length / 8
    val rows = graft.operators.ProductQuant.quantizedRows(emb, "vec_id", "embedding", 8, subDim)
    val cb = graft.operators.ProductQuant.trainCodebooks(rows, m = 8, subDim = subDim,
      nCodes = 16, lloydIters = 1)
    graft.operators.ProductQuant.quantizationError(emb, "vec_id", "embedding", cb, m = 8)
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(col("q_err")).cast("long").as("total_err"),
        expr("(sum(q_err) - pmod(sum(q_err), count(1))) div count(1)").cast("long").as("mean_err"))
  }


  /** Batched ADC probe — the serving shape: 5 query vectors scored
    * against the whole corpus in ONE scan (row codes computed once, the
    * 5 distance tables riding as one literal). Full integer compare:
    * every (query_id, vec_id, pq_dist) must equal 5 independent
    * single-query replays, which is what the oracle computes. */
  private[graft] def qAnnPqBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val probes = emb.where(col("vec_id").isin(0L, 1L, 2L, 3L, 4L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray).toSeq
    val subDim = probes.head.length / 8
    val rows = graft.operators.ProductQuant.quantizedRows(emb, "vec_id", "embedding", 8, subDim)
    val cb = graft.operators.ProductQuant.trainCodebooks(rows, m = 8, subDim = subDim,
      nCodes = 16, lloydIters = 1)
    graft.operators.ProductQuant.adcScoresBatch(emb, "vec_id", "embedding", cb, probes, m = 8)
      .select(col("query_id"), col("vid").as("vec_id"), col("pq_dist"))
  }


  /** IVFADC: coarse quantizer (8 inverted lists) + PQ on residuals +
    * 2-list routed ADC probe — the FAISS-style billion-vector
    * architecture, fully replayed by the oracle. */
  private[graft] def qAnnIvfPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    graft.operators.ProductQuant.ivfAdcTopK(
      table(spark, dir, "embeddings"), "vec_id", "embedding", q,
      k = 10, m = 8, nLists = 8, nProbe = 2, nCodes = 16, lloydIters = 1,
      excludeId = Some(0L))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("pq_dist").asc, col("vid").asc)))
      .select(col("vid").as("vec_id"), col("pq_dist"), col("rank"))
  }


  /** IVFADC probed through the ON-DISK inverted-list layout: residuals
    * written hive-partitioned by list_idx, probe filter = partition
    * pruning (only nProbe of nLists directories are listed — asserted in
    * ScanPruningSpec). Same oracle as ann_ivfpq_topk: the layout must
    * change WHERE bytes live, never the answer. */
  private[graft] def qAnnIvfPqPruned(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    // layout dir is per-sf: dynamic overwrite only replaces lists present
    // in THIS corpus, so two scale factors sharing a dir could leak stale
    // lists into each other's probes
    val layout = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_layout_${Integer.toHexString(dir.hashCode)}").getAbsolutePath
    graft.operators.ProductQuant.ivfAdcTopKPruned(
      table(spark, dir, "embeddings"), "vec_id", "embedding", q, layout,
      k = 10, m = 8, nLists = 8, nProbe = 2, nCodes = 16, lloydIters = 1,
      excludeId = Some(0L))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("pq_dist").asc, col("vid").asc)))
      .select(col("vid").as("vec_id"), col("pq_dist"), col("rank"))
  }


  /** IVFADC + exact refine — ADC shortlist of 50, exact grid re-rank to
    * 10. The refine stage's value is measurable: whenever PQ approximation
    * error reorders the true neighbors inside the shortlist, the refined
    * top-10 differs from `ann_ivfpq_topk`'s — and both are oracle-pinned,
    * so the disagreement itself is verified. */
  private[graft] def qAnnIvfPqRefine(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    graft.operators.ProductQuant.ivfAdcTopKRefined(
      table(spark, dir, "embeddings"), "vec_id", "embedding", q,
      k = 10, kShort = 50, m = 8, nLists = 8, nProbe = 2, nCodes = 16, lloydIters = 1,
      excludeId = Some(0L))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("exact_dist").asc, col("vid").asc)))
      .select(col("vid").as("vec_id"), col("pq_dist"), col("exact_dist"), col("rank"))
  }


  /** MMR diversification over the exact top-20: greedy λ=0.7 selection on
    * the ppm grid, oracle-replayed as a recursive CTE. */
  private[graft] def qAnnMmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    graft.operators.Similarity.mmrRerank(
      table(spark, dir, "embeddings"), "vec_id", "embedding", q,
      k = 10, nCandidates = 20, lamX10 = 7, excludeId = Some(0L))
  }


  /** Winnowing fingerprint dedup (MOSS): kernel-selected k-gram hashes,
    * bucket join on the 60-bit fingerprint, Jaccard >= 0.5 over the
    * fingerprint sets. The oracle recomputes selection hash-for-hash
    * (same md5-prefix integer both engines). */
  private[graft] def qDedupWinnow(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Winnow.pairs(
        table(spark, dir, "documents"), "doc_id", "text",
        k = 5, w = 4, threshold = 0.5, maxDf = 50L)
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("id_a") + col("id_b")), lit(0L)).cast("long").as("pair_id_sum"),
        coalesce(sum(col("n_shared")), lit(0L)).cast("long").as("shared_sum"))


  /** Multi-pass sorted-neighborhood dedup over the edit_pairs planted-
    * variant corpus: both passes' candidates, Levenshtein-verified. The
    * n_matches bar is the full planted set — single-pass finds 16 of 50,
    * the reverse-key second pass finds the rest. */
  private[graft] def qSortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(col("doc_id"), col("text"))
    // Planted-variant offsets are N·1e12 REPO-WIDE (advisor r12): the old
    // N·1e6 offsets collide with real doc_ids once a scaled corpus passes
    // ~1M documents (the 100x ScaleCheck corpora shift ids to ~1e10), and
    // because the oracle replays the same arithmetic the collision would
    // silently change query semantics without failing the compare. 1e12
    // clears the 100x id range by 100x and stays 6 orders below Long.Max.
    val planted = docs.where(col("doc_id") % 10 === 0).select(
      (col("doc_id") + 1000000000000L).as("doc_id"),
      expr("concat(substr(text, 1, 5), '#', substr(text, 7))").as("text"))
    // dist >= 0 below = "within maxDist": the banded verify reports -1
    // past the bound, which is exactly the oracle's dist <= 2 condition
    graft.operators.SortedNeighborhood.candidatesWithDist(
        docs.unionByName(planted), "doc_id", "text", window = 5, blockLen = 4,
        maxDist = 2)
      .agg(count(lit(1)).as("n_candidates"),
        count(when(col("dist") >= 0, 1)).as("n_matches"),
        coalesce(sum(when(col("dist") >= 0, col("id_a") + col("id_b"))), lit(0L))
          .cast("long").as("pair_id_sum"),
        coalesce(sum(when(col("dist") >= 0, col("dist"))), lit(0L))
          .cast("long").as("dist_sum"))
  }


  /** Fellegi–Sunter record linkage over the customer table with planted
    * duplicates (every 10th customer re-enters with a `#`→`-` name edit
    * and a 50-cent balance jitter): SNM candidates under the reversed
    * lowercased name (blockLen 3 = the last three custkey digits, so
    * customers k and k+1000·j meet as name-similar FALSE candidates and
    * populate the possible band), integer log-odds weights name(lev≤2)
    * +24/−8, nation +6/−6, segment +4/−4, balance-within-$1 +10/−10;
    * bands: match ≥ 30, possible [10, 30). The planted twin scores
    * 24+6+4+10 = 44. */
  private[graft] def qRecordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    def shape(d: DataFrame) = d.select(
      col("c_custkey").cast("long").as("cust_id"), lower(col("c_name")).as("nm"),
      col("c_nationkey").cast("long").as("nat"), col("c_mktsegment").as("seg"),
      round(col("c_acctbal") * 100, 0).cast("long").as("bal"))
    val planted = shape(c.where(col("c_custkey") % 10 === 0))
      .select((col("cust_id") + 10000000000000L).as("cust_id"),
        concat(substring(col("nm"), 1, 8), lit("-"), substring(col("nm"), 10, 1000)).as("nm"),
        col("nat"), col("seg"), (col("bal") + 50L).as("bal"))
    val rules = Seq(
      graft.operators.RecordLinkage.FieldRule("nm",
        (a, b) => levenshtein(a, b, 2) >= 0, 24L, -8L),
      graft.operators.RecordLinkage.FieldRule("nat", (a, b) => a === b, 6L, -6L),
      graft.operators.RecordLinkage.FieldRule("seg", (a, b) => a === b, 4L, -4L),
      graft.operators.RecordLinkage.FieldRule("bal",
        (a, b) => abs(a - b) <= 100L, 10L, -10L))
    graft.operators.RecordLinkage.fsScores(
        shape(c).unionByName(planted), "cust_id",
        keys = Seq(reverse(col("nm"))), rules, window = 5, blockLen = 3)
      .agg(count(lit(1)).as("n_candidates"),
        count(when(col("score") >= 30, 1)).as("n_match"),
        count(when(col("score") >= 10 && col("score") < 30, 1)).as("n_possible"),
        coalesce(sum(when(col("score") >= 30, col("id_a") + col("id_b"))), lit(0L))
          .cast("long").as("match_id_sum"),
        coalesce(sum(when(col("score") >= 30, col("score"))), lit(0L))
          .cast("long").as("match_score_sum"))
  }


  /** Accent-fold dedup key: every 10th document re-enters with its vowels
    * rewritten to accented forms (à é î ö ú — canonical decompositions,
    * so the NFD+strip-Mn fold restores the original), and the folded
    * corpus collapses each planted pair into one key group. Grouping is
    * on md5 of the folded text — the snapshotDiff fingerprint discipline;
    * the fold itself is a codegen'd expression with an ASCII fast path,
    * so the un-planted 90% of the corpus pays one byte scan and zero
    * allocations. */
  private[graft] def qFoldAccents(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"), lower(col("text")).as("t"))
    val planted = docs.where(col("doc_id") % 10 === 0).select(
      (col("doc_id") + 2000000000000L).as("doc_id"),
      translate(col("t"), "aeiou", "àéîöú").as("t"))
    val folded = docs.unionByName(planted).select(
      col("doc_id"), col("t"),
      graft.operators.UnicodeFold.foldAccents(col("t")).as("f"))
    val groups = folded
      .select(col("doc_id"), (col("f") =!= col("t")).cast("long").as("changed"),
        md5(col("f")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), sum(col("changed")).as("nc"), sum(col("doc_id")).as("ids"))
    groups.agg(
      sum(col("n")).cast("long").as("n_docs"),
      sum(col("nc")).cast("long").as("n_changed"),
      count(lit(1)).as("n_groups"),
      count(when(col("n") >= 2, 1)).as("n_dup_groups"),
      coalesce(sum(when(col("n") >= 2, col("ids"))), lit(0L)).cast("long").as("dup_id_sum"))
  }


  /** Aho–Corasick phrase blocklist over the corpus: five phrases (three
    * multi-word — beyond [[graft.operators.TextAnalysis.blocklistHits]]'s
    * single-word contract), every occurrence counted including
    * boundary-sharing overlaps, one automaton pass per row regardless of
    * list size. */
  private[graft] def qBlocklistPhrases(spark: SparkSession, dir: String): DataFrame = {
    val phrases = Seq("big table", "table table", "slow query", "hash join", "stream")
    val hits = graft.operators.PhraseMatch.phraseHits(col("text"), phrases)
    table(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"), hits.as("hits"))
      .agg(count(when(col("hits") > 0, 1)).as("n_docs_hit"),
        coalesce(sum(col("hits")), lit(0L)).cast("long").as("total_hits"),
        coalesce(sum(when(col("hits") > 0, col("doc_id"))), lit(0L))
          .cast("long").as("hit_id_sum"),
        coalesce(max(col("hits")), lit(0L)).cast("long").as("max_hits"))
  }


  /** Count-Min heavy hitters: the depth×width cell table (4×1024 rows —
    * CONSTANT shuffle regardless of vocabulary) answers point queries for
    * the exact top-10 tokens; output carries exact vs estimate so the
    * overestimate bound is visible data, not a comment.
    *
    * Relationship to `vocab_cms`: that query exercises Spark's BUILT-IN
    * `stat.countMinSketch` and can only oracle its (eps, confidence)
    * CONTRACT, because the built-in's hashing is engine-private. This one
    * is the portable complement — md5-slice hashing makes every cell
    * replayable, so DuckDB checks the sketch itself, not just its bound. */
  private[graft] def qCmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = sketchTokens(table(spark, dir, "documents"))
    val cells = graft.operators.Sketches.cmsAggregate(toks, "tok", depth = 4, width = 1024)
    // the top-10 is collected ONCE (10 rows — bounded by the limit) and
    // re-enters the plan as a local relation: referencing the uncached
    // aggregate twice would re-run the corpus-sized token count for the
    // probe side and again for the join side (review r12 finding)
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("tok").asc).limit(10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    import spark.implicits._
    val topDf = top.toDF("tok", "exact")
    graft.operators.Sketches.cmsEstimates(cells, topDf.select(col("tok")), "tok",
        depth = 4, width = 1024)
      .join(broadcast(topDf), Seq("tok"))
      .select(col("tok"), col("exact"), col("est"),
        (col("est") - col("exact")).cast("long").as("overcount"))
  }


  private[graft] def qHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val grams = fiveTokenShingles(table(spark, dir, "documents"))
    val regs = graft.operators.Sketches.hllRegisters(grams, "gram", m = 1024)
    val regSummary = regs.agg(
      count(lit(1)).as("n_filled"),
      coalesce(sum(col("rho")), lit(0L)).cast("long").as("sum_rho"),
      coalesce(max(col("rho")), lit(0L)).cast("long").as("max_rho"))
    val exact = grams.agg(countDistinct(md5(col("gram"))).as("exact_distinct"))
    regSummary.crossJoin(exact)
      .select(lit(1024L).as("m"), col("n_filled"), col("sum_rho"), col("max_rho"),
        col("exact_distinct"))
  }


  /** Production-shape twin of `hll_distinct` (verdict r12 ask #6): the
    * register table ALONE. `hll_distinct` deliberately carries a
    * corpus-linear exact-distinct comparator — the oracle's ground truth,
    * 1.69 GB of shuffle at 100× — which is the right correctness query
    * but the wrong thing for the bench to track. This twin is what a
    * production pipeline actually runs: ≤ m = 1024 register rows out of
    * one max-aggregate, KB-scale shuffle at ANY corpus size. The
    * (bucket+1)-weighted checksum pins every register exactly, so the
    * oracle is full-strength on the sketch state itself. */
  private[graft] def qHllRegistersOnly(spark: SparkSession, dir: String): DataFrame = {
    val regs = graft.operators.Sketches.hllRegisters(
      fiveTokenShingles(table(spark, dir, "documents")), "gram", m = 1024)
    regs.agg(
        count(lit(1)).as("n_filled"),
        coalesce(sum(col("rho")), lit(0L)).cast("long").as("sum_rho"),
        coalesce(max(col("rho")), lit(0L)).cast("long").as("max_rho"),
        coalesce(sum((col("bucket") + 1) * col("rho")), lit(0L))
          .cast("long").as("reg_checksum"))
      .select(lit(1024L).as("m"), col("n_filled"), col("sum_rho"), col("max_rho"),
        col("reg_checksum"))
  }


  /** Production-shape twin of `cms_heavy_hitters`/`stream_cms` for the
    * BATCH plan: the depth×width cell table alone, summarized by the same
    * position-weighted checksum the streaming twin uses — no exact top-k
    * comparator, so the bench tracks the sketch's constant cost (≤ 4096
    * cells regardless of vocabulary). */
  private[graft] def qCmsCellsOnly(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.operators.Sketches.cmsAggregate(
      sketchTokens(table(spark, dir, "documents")), "tok", depth = 4, width = 1024)
    cells.agg(
      count(lit(1)).as("n_cells"),
      coalesce(sum(col("cnt")), lit(0L)).cast("long").as("total_mass"),
      coalesce(max(col("cnt")), lit(0L)).cast("long").as("max_cell"),
      coalesce(sum((col("r") * 1024 + col("c")) * col("cnt")), lit(0L))
        .cast("long").as("cell_checksum"))
  }


  /** Portable mergeable quantile sketch (verdict r12 ask #3): bottom-k
    * hash-priority sample over document lengths, quantile picks at
    * p25/p50/p75/p99 on the x1e4 integer grid. The oracle replays the
    * ENTIRE sketch state — same md5 priorities, same `ORDER BY prio
    * LIMIT k`, same integer rank arithmetic — unlike `quantile_sketch`,
    * whose GK state is engine-private and contract-checkable only. See
    * [[graft.operators.QuantileSketch]] for why the deterministic
    * bottom-k summary stands in for KLL's randomized compaction. */
  private[graft] def qQuantileBottomk(spark: SparkSession, dir: String): DataFrame = {
    val sk = graft.operators.QuantileSketch.build(
      docLengths(spark, dir), "doc_id", "len", k = 1024)
    graft.operators.QuantileSketch.estimates(sk, Seq(2500, 5000, 7500, 9900))
      .orderBy("q_x1e4")
  }


  /** The bottom-k merge theorem as assertion, mirroring
    * `sketch_shard_merge`: 8 per-shard sketches (doc_id mod 8) merge into
    * EXACTLY the single-pass whole-corpus sketch — the oracle recomputes
    * the whole sketch and pins n_mismatch to 0, so one divergent (prio,
    * v) row fails the compare. */
  private[graft] def qQuantileBottomkMerge(spark: SparkSession, dir: String): DataFrame = {
    val src = docLengths(spark, dir).withColumn("shard", expr("doc_id % 8"))
    val whole = graft.operators.QuantileSketch.build(src, "doc_id", "len", k = 1024)
    val merged = graft.operators.QuantileSketch.merge(
      graft.operators.QuantileSketch.buildPerShard(src, "shard", "doc_id", "len", k = 1024),
      k = 1024)
    merged.as("m").join(whole.as("w"),
        col("m.prio") === col("w.prio") && col("m.v") === col("w.v"), "full_outer")
      .agg(
        count(lit(1)).as("sketch_rows"),
        count(when(col("m.prio").isNull || col("w.prio").isNull, 1)).as("n_mismatch"),
        coalesce(sum(coalesce(col("m.prio"), col("w.prio")) % 1000003), lit(0L))
          .cast("long").as("prio_checksum"),
        coalesce(sum(coalesce(col("m.v"), col("w.v"))), lit(0L)).cast("long").as("v_sum"))
  }


  /** True KLL (Karnin–Lang–Liberty 2016) over document lengths — the
    * SPACE-OPTIMAL quantile-sketch member next to the portable bottom-k:
    * O((1/ε)·log log) retained items vs the sample's O(1/ε²), at the
    * price of randomized, merge-order-dependent state no other engine
    * can replay. Oracled by CONTRACT, the `vocab_cms` pattern for
    * engine-private sketches: the query computes each estimate's EXACT
    * rank with a corpus pass and pins |rank − q·n| ≤ ε·n (ε = 0.05, ~10×
    * the empirical error at capacity 256 — the gate never flakes) plus
    * the deterministic invariant total-weight == n. */
  private[graft] def qQuantileKll(spark: SparkSession, dir: String): DataFrame = {
    val qs = Seq(2500, 5000, 7500, 9900)
    val lens = docLengths(spark, dir).select(col("len"))
    val row = lens.agg(
      graft.plans.KllAggregate.kllSketch(col("len"), 256).as("sk"),
      count(lit(1)).as("n")).collect()(0)
    val items = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getInt(0), r.getLong(1)))
    val n = row.getLong(1)
    val state = graft.plans.KllAggregate.stateOf(items, n, 256)
    val weightExact = if (state.totalWeight == n) 1L else 0L
    val ests = qs.map(q => q -> state.estimate(q))
    // exact rank INTERVAL of each estimate in ONE corpus pass (the
    // ground-truth term — this is the correctness query; the production
    // shape is the sketch aggregate alone). The contract is the
    // duplicate-safe form: a value with heavy duplicate mass occupies the
    // whole rank interval [count(<e), count(<=e)], and a PERFECT sketch
    // can only place the target inside it — so the bound is
    // count(<e) <= target + eps*n AND count(<=e) >= target - eps*n,
    // never |count(<=e) - target| (which a 30%-mass value would blow
    // through with a flawless sketch).
    val rankCols = ests.flatMap { case (q, e) => Seq(
      count(when(col("len") < e, 1)).as(s"lt$q"),
      count(when(col("len") <= e, 1)).as(s"le$q")) }
    val ranks = lens.agg(rankCols.head, rankCols.tail: _*).collect()(0)
    import spark.implicits._
    val eps = 0.05
    qs.zipWithIndex.map { case (q, i) =>
      val (lt, le) = (ranks.getLong(2 * i), ranks.getLong(2 * i + 1))
      val target = q.toDouble / 10000 * n
      val within = if (lt <= target + eps * n && le >= target - eps * n) 1L else 0L
      (q.toLong, n, weightExact, within)
    }.toDF("q_x1e4", "n", "weight_exact", "within_bound").orderBy("q_x1e4")
  }


  /** KLL shard merge: 8 per-shard sketches merged driver-side. The coins
    * differ run to run, but two things never do — total weight (exactly
    * n, conserved through every compaction and merge) and the (ε, δ)
    * rank bound — and those are what the oracle pins. */
  private[graft] def qQuantileKllMerge(spark: SparkSession, dir: String): DataFrame = {
    val qs = Seq(2500, 5000, 7500, 9900)
    val lens = docLengths(spark, dir).withColumn("shard", expr("doc_id % 8"))
    val shardRows = lens.groupBy(col("shard")).agg(
      graft.plans.KllAggregate.kllSketch(col("len"), 256).as("sk"),
      count(lit(1)).as("n")).collect()
    val states = shardRows.map { r =>
      graft.plans.KllAggregate.stateOf(
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getLong(1))),
        r.getLong(2), 256)
    }
    val merged = states.reduce { (a, b) => a.mergeIn(b); a }
    val n = shardRows.map(_.getLong(2)).sum
    val weightExact = if (merged.totalWeight == n) 1L else 0L
    val ests = qs.map(q => q -> merged.estimate(q))
    // duplicate-safe rank-interval contract — same form as quantile_kll
    val rankCols = ests.flatMap { case (q, e) => Seq(
      count(when(col("len") < e, 1)).as(s"lt$q"),
      count(when(col("len") <= e, 1)).as(s"le$q")) }
    val ranks = lens.agg(rankCols.head, rankCols.tail: _*).collect()(0)
    val eps = 0.05
    val nWithin = qs.indices.count { i =>
      val target = qs(i).toDouble / 10000 * n
      ranks.getLong(2 * i) <= target + eps * n && ranks.getLong(2 * i + 1) >= target - eps * n
    }.toLong
    import spark.implicits._
    Seq((n, weightExact, qs.size.toLong, nWithin))
      .toDF("n", "weight_exact", "n_q", "n_within")
  }


  /** `Stats.groupPercentiles` on the PORTABLE backend: per-language
    * length quantiles from per-group bottom-k samples, flattened to
    * (lang, n, q_x1e4, est_v) rows. `group_percentiles` (GK backend)
    * stays contract-checked; this one is value-checked row-for-row. */
  private[graft] def qGroupPercentilesPortable(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").where(col("text").isNotNull)
      .select(col("lang"), col("doc_id"), length(col("text")).cast("long").as("len"))
    graft.operators.Stats.groupPercentiles(docs, "lang", "len",
        Seq(0.25, 0.50, 0.75), portableIdCol = Some("doc_id"))
      .select(col("lang"), col("n"), posexplode(col("v")).as(Seq("pos", "ev")))
      .select(col("lang"), col("n").cast("long").as("n"),
        ((col("pos") + 1) * 2500).cast("long").as("q_x1e4"),
        col("ev").cast("long").as("est_v"))
      .orderBy("lang", "q_x1e4")
  }


  private[graft] def qHllGroupDistinct(spark: SparkSession, dir: String): DataFrame = {
    val grams = langShingles(spark, dir)
    val regs = graft.operators.Sketches.hllGroupRegisters(grams, "lang", "gram", m = 256)
    val summary = regs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_filled"),
      sum(col("rho")).cast("long").as("sum_rho"),
      max(col("rho")).cast("long").as("max_rho"),
      sum((col("bucket") + 1) * col("rho")).cast("long").as("reg_checksum"))
    val exact = grams.groupBy(col("lang"))
      .agg(countDistinct(md5(col("gram"))).as("exact_distinct"))
    summary.join(exact, Seq("lang")).orderBy("lang")
  }


  /** Production twin of `hll_group_distinct`: the per-group register
    * summary ALONE — no exact-distinct comparator term, so the bench
    * tracks the sketch's Θ(groups·m) cost, not the corpus-linear ground
    * truth (the `hll_registers_only` pattern). */
  private[graft] def qHllGroupRegistersOnly(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.hllGroupRegisters(
        langShingles(spark, dir), "lang", "gram", m = 256)
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_filled"),
        sum(col("rho")).cast("long").as("sum_rho"),
        max(col("rho")).cast("long").as("max_rho"),
        sum((col("bucket") + 1) * col("rho")).cast("long").as("reg_checksum"))
      .orderBy("lang")


  /** Per-GROUP Count-Min heavy hitters (round 14): "top tokens per
    * language with sketch-bounded counts" — the frequency sibling of
    * `hll_group_distinct`'s cardinality report. The group-cell table is ≤
    * groups × depth × width rows out of ONE map-side-combined aggregate
    * (never a vocabulary-keyed shuffle per group); estimates come from a
    * broadcast of that constant-size table. The exact per-(lang, tok)
    * comparator is the oracle's ground-truth term (corpus-priced, same
    * role as `hll_distinct`'s exact side); `overcount` pins the CMS
    * upper-bound contract per row. */
  private[graft] def qCmsGroupTopk(spark: SparkSession, dir: String): DataFrame = {
    val toks = langTokens(spark, dir)
    val cells = graft.operators.Sketches.cmsGroupAggregate(
      toks, "lang", "tok", depth = 4, width = 1024)
    val exact = toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("exact"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("exact").desc, col("tok"))
    val top = exact.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
      .select(col("lang"), col("tok"), col("exact"))
    val est = graft.operators.Sketches.cmsGroupEstimates(
      cells, top.select(col("lang"), col("tok")), "lang", "tok",
      depth = 4, width = 1024)
    top.join(est, Seq("lang", "tok"))
      .select(col("lang"), col("tok"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overcount"))
      .orderBy(col("lang"), col("tok"))
  }


  /** Distinct-vocabulary overlap between two halves of the corpus via
    * HLL register algebra (round 14): registers(A) and registers(B) are
    * built independently — different days, different clusters — and their
    * per-bucket MAX is EXACTLY registers(A ∪ B) (max over a partitioned
    * multiset == max over the whole; a theorem, not an approximation),
    * which is what makes register tables composable corpus statistics.
    * |A ∩ B| then falls out by inclusion–exclusion WITHOUT any re-scan.
    *
    * The oracle replays all three register tables checksum-for-checksum
    * and the exact intersection (the ground-truth term); `merge_mismatch`
    * pins the union law register-for-register; `within_bound` pins the
    * inclusion–exclusion estimate (driver-side floats, the
    * `group_quantile_kll` contract pattern) against the exact overlap at
    * 20% — wide against m = 4096's ~1.6% per-estimate rse compounded
    * across three estimates on a large-overlap regime. */
  private[graft] def qHllIntersection(spark: SparkSession, dir: String): DataFrame = {
    val m = 4096
    val docs = table(spark, dir, "documents")
      .where(col("text").isNotNull && col("source").isNotNull)
      .withColumn("src_n", expr("cast(substring(source, 4, 10) as int)"))
    val toksOf = (half: Column) => sketchTokens(docs.where(half))
    val toksA = toksOf(col("src_n") < 10)
    val toksB = toksOf(col("src_n") >= 10)
    val regsA = graft.operators.Sketches.hllRegisters(toksA, "tok", m)
    val regsB = graft.operators.Sketches.hllRegisters(toksB, "tok", m)
    val merged = graft.operators.Sketches.hllMergeRegisters(regsA, regsB)
    val union = graft.operators.Sketches.hllRegisters(toksA.unionAll(toksB), "tok", m)
    val mismatch = merged.as("m").join(union.as("u"), Seq("bucket"), "full_outer")
      .where(col("m.rho").isNull || col("u.rho").isNull || col("m.rho") =!= col("u.rho"))
      .count()
    val summarize = (df: DataFrame) => df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (a, b, u) = (summarize(regsA), summarize(regsB), summarize(merged))
    val est = graft.operators.Sketches.hllIntersectionEstimate(a, b, u, m)
    val exact = toksA.select(md5(col("tok")).as("fp")).distinct()
      .join(toksB.select(md5(col("tok")).as("fp")).distinct(), Seq("fp"))
      .count()
    val checksum = (regs: Seq[(Long, Long)]) =>
      regs.map { case (bucket, rho) => (bucket + 1) * rho }.sum
    val withinBound = if (math.abs(est - exact.toDouble) <= 0.20 * exact) 1L else 0L
    import spark.implicits._
    Seq((m.toLong, a.size.toLong, b.size.toLong, u.size.toLong,
      checksum(a), checksum(b), checksum(u), mismatch, exact, withinBound))
      .toDF("m", "a_filled", "b_filled", "u_filled", "a_checksum", "b_checksum",
        "u_checksum", "merge_mismatch", "exact_intersection", "within_bound")
  }


  /** Per-GROUP KLL (verdict r13 ask #4): per-language length quantiles
    * from the space-optimal sketch — `KllSketchAgg` composing with
    * `groupBy`, the sibling of `group_percentiles_portable`'s bottom-k
    * backend. States collect driver-side (a few KB per group); the oracle
    * pins the duplicate-safe rank-interval CONTRACT per (group, quantile)
    * — count(<e) ≤ target + ε·n_g and count(≤e) ≥ target − ε·n_g, exact
    * per-group ranks from ONE corpus pass — plus exact weight conservation
    * (stateOf throws on any weight drift). ε = 0.05, ~10× the empirical
    * error at capacity 256. */
  private[graft] def qGroupQuantileKll(spark: SparkSession, dir: String): DataFrame = {
    val qs = Seq(2500, 5000, 7500)
    val lens = table(spark, dir, "documents")
      .where(col("text").isNotNull && col("lang").isNotNull)
      .select(col("lang"), length(col("text")).cast("long").as("len"))
    val perLang = lens.groupBy(col("lang")).agg(
      graft.plans.KllAggregate.kllSketch(col("len"), 256).as("sk"),
      count(lit(1)).as("n")).collect()
    // (lang, n, q, estimate) — estimates are integer arithmetic on the
    // collected few-KB states; stateOf REQUIRES totalWeight == n
    val ests = perLang.toSeq.flatMap { r =>
      val lang = r.getString(0)
      val n = r.getLong(2)
      val st = graft.plans.KllAggregate.stateOf(
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getLong(1))), n, 256)
      qs.map(q => (lang, n, q, st.estimate(q)))
    }
    // exact rank interval of every (lang, estimate) in ONE corpus pass
    val rankCols = ests.zipWithIndex.flatMap { case ((lang, _, _, e), i) => Seq(
      count(when(col("lang") === lang && col("len") < e, 1)).as(s"lt$i"),
      count(when(col("lang") === lang && col("len") <= e, 1)).as(s"le$i")) }
    val ranks = lens.agg(rankCols.head, rankCols.tail: _*).collect()(0)
    val eps = 0.05
    import spark.implicits._
    ests.zipWithIndex.map { case ((lang, n, q, _), i) =>
      val (lt, le) = (ranks.getLong(2 * i), ranks.getLong(2 * i + 1))
      val target = q.toDouble / 10000 * n
      val within = if (lt <= target + eps * n && le >= target - eps * n) 1L else 0L
      (lang, n, q.toLong, within)
    }.toDF("lang", "n", "q_x1e4", "within_bound").orderBy("lang", "q_x1e4")
  }


  /** Per-document deflate ratio over the corpus plus the three plants.
    * Corpus rows carry a weak-but-honest invariant (every non-empty doc
    * gets a positive ratio, bounded above by raw-deflate's stored-block
    * overhead once the doc is big enough for the bound to be meaningful);
    * the plants pin the signal itself to exact byte counts. */
  private[graft] def qTextCompressRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = graft.operators.TextAnalysis.deflateRatio(
      table(spark, dir, "documents"), "doc_id", "text")
    val corpusAgg = corpus.agg(
      count(lit(1)).as("n_docs"),
      count(when(col("orig_bytes") > 0, 1)).as("n_nonempty"),
      count(when(col("ratio_x1e4") > 0 &&
        (col("orig_bytes") < 100 || col("ratio_x1e4") <= 11000), 1)).as("n_in_bounds"))
    val plantAgg = graft.operators.TextAnalysis.deflateRatio(
        compressPlants.toDF("doc_id", "text"), "doc_id", "text")
      .agg(
        max(when(col("doc_id") === -1L, col("ratio_x1e4"))).as("const_ratio_x1e4"),
        max(when(col("doc_id") === -2L, col("ratio_x1e4"))).as("phrase_ratio_x1e4"),
        max(when(col("doc_id") === -3L, col("ratio_x1e4"))).as("rand_ratio_x1e4"))
    corpusAgg.crossJoin(plantAgg)
  }


  private[graft] def qAnnTopk(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    graft.operators.Similarity.topK(table(spark, dir, "embeddings"), "vec_id", "embedding", q, 10,
      excludeId = Some(0L))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      .select(col("vec_id"), col("rank"))
  }


  /** IVF ANN at full probe: with nProbe = nLists the probe covers every
    * inverted list, so routing must lose/duplicate nothing and the result
    * must equal the exact brute-force oracle rank-for-rank. Partial-probe
    * recall is covered in SimilaritySpec on clustered data. */
  private[graft] def qAnnIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    graft.operators.Similarity.ivfTopK(
      table(spark, dir, "embeddings").where(col("vec_id") =!= 0),
      "vec_id", "embedding", q, 10, nLists = 16, nProbe = 16)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      .select(col("vec_id"), col("rank"))
  }


  /** All-points kNN graph at FULL probe (round 14): `nProbe = nLists`
    * degrades [[graft.operators.Similarity.knnJoin]] to the exact kNN
    * join — every pair considered exactly once through the bucket
    * machinery — so DuckDB replays the whole graph by brute force on the
    * shared ppm-cosine grid. This is the ground-truth-priced
    * configuration (the `hll_distinct` role); `knn_graph_only` is the
    * production shape the bench tracks. */
  private[graft] def qKnnGraph(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.knnJoin(
      table(spark, dir, "embeddings"), "vec_id", "embedding", k = 3,
      nLists = 8, nProbe = 8)(graph =>
      graft.operators.Fixpoint.cached(graph.orderBy(col("vec_id"), col("rank"))))


  /** Pruned-probe kNN graph, contract-oracled: IVF routing is
    * quantizer-dependent (the sampled coarse quantizer rides engine
    * hashing DuckDB cannot replay), so the oracle pins structure — ≤ k
    * edges per vector with every vector served, zero self edges — plus
    * `recall_ok`: edge recall against the exact join (computed honestly
    * in-query, the corpus-priced comparator term) at ≥ 0.6 for nProbe =
    * 4 of 8 under a 3-iteration Lloyd-refined quantizer — measured
    * 0.76–0.77 at sf0.001/0.01/0.1 (sampled-quantizer nProbe=2 sits at
    * ~0.45 on these largely unclustered embeddings: recall tracks probe
    * fraction plus whatever real cluster structure adds, which is the
    * honest story to pin). */
  private[graft] def qKnnGraphPruned(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val cents = graft.operators.Similarity.kmeansCentroids(
      emb, "vec_id", "embedding", 8, iters = 3)
    val nVec = emb.count()
    graft.operators.Similarity.knnJoin(
        emb, "vec_id", "embedding", k = 3, nLists = 8, nProbe = 8) { exact =>
      graft.operators.Similarity.knnJoin(
          emb, "vec_id", "embedding", k = 3, nLists = 8, nProbe = 4,
          centroids = Some(cents)) { graph =>
        // the pruned graph is <= 3 rows/vector: persisted, so the structural
        // counts (ONE aggregate pass) and the recall join, two actions that
        // each read it once, run the IVF bucket join once between them
        // instead of once each; released once both have run
        val pruned = graph.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val structRow = pruned.agg(
            count(lit(1)).as("n"),
            countDistinct(col("vec_id")).as("served"),
            count(when(col("vec_id") === col("nbr_id"), 1)).as("self")).collect()(0)
          val (prunedN, served, selfEdges) =
            (structRow.getLong(0), structRow.getLong(1), structRow.getLong(2))
          val hit = pruned.select(col("vec_id"), col("nbr_id"))
            .join(exact.select(col("vec_id"), col("nbr_id")), Seq("vec_id", "nbr_id")).count()
          val recallOk = if (hit.toDouble / (nVec * 3) >= 0.6) 1L else 0L
          import spark.implicits._
          Seq((nVec, 3L, prunedN, served, selfEdges, recallOk))
            .toDF("n_vectors", "k", "n_edges", "n_served", "n_self_edges", "recall_ok")
        } finally pruned.unpersist(blocking = false)
      }
    }
  }


  /** Incremental kNN against a MATERIALIZED IVF index (round 14) — the
    * ANN sibling of `dedup_incremental`'s band index: day-0 assigns the
    * corpus to inverted lists ONCE and writes the assignment
    * `partitionBy("list_id")`; day-1's batch probes the reloaded store
    * without any corpus rescan or corpus shuffle — the batch routes to
    * its probe lists narrowly, joins only those buckets, and cuts to ≤ k
    * per batch vector map-side. Full probe here (the exact
    * configuration), so DuckDB replays batch × corpus by brute force on
    * the ppm grid; the centroids travel WITH the index as a real sidecar
    * (`writeIvfIndex` stores them under `_quantizer`, `knnProbeStored`
    * reloads and routes through them — r15 ask #3), and a probe handed
    * foreign centroids is detected by the operator's sampled routing
    * check. */
  private[graft] def qKnnIncremental(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val corpus = emb.where(col("vec_id") >= 50)
    val batch = emb.where(col("vec_id") < 50)
    val cents = graft.operators.Similarity.sampleCentroids(
      corpus, "vec_id", "embedding", 8)
    val storeDir = freshTmpStore(spark, "graft_ivf_index_store")
    // the r15 store cycle: index AND quantizer written together, probe
    // routed through the RELOADED centroids — zero in-memory carry-over
    // from the build (knnProbeStored rereads the sidecar; the `cents`
    // above never reach the probe)
    graft.operators.Similarity.writeIvfIndex(
      corpus, "vec_id", "embedding", cents, storeDir.getAbsolutePath)
    graft.operators.Similarity.knnProbeStored(
        spark, storeDir.getAbsolutePath, batch, "vec_id", "embedding",
        k = 3, nProbe = 8)
      .orderBy(col("vec_id"), col("rank"))
  }


  /** Mutual-kNN clustering (round 14): the composition the kNN graph
    * exists for — keep edges present in BOTH directions (the standard
    * mutual-kNN sparsifier: an asymmetric neighbor claim is usually a
    * hub artifact), then connected components over the mutual edges.
    * Full-probe kNN so DuckDB replays the whole pipeline: brute-force
    * graph → mutual filter → recursive-CTE closure → min-label
    * components. Spark runs the same composition at scale shape:
    * bucketed kNN join → one pair-keyed count over the ≤ k·n edge set →
    * star-contraction CC — mutual-kNN graphs chain through neighbor
    * links (this corpus's graph exceeds a 20-hop min-label budget at
    * sf0.01), exactly the deep-graph regime `connectedComponentsStar`'s
    * O(log² n) rounds exist for. */
  private[graft] def qKnnClusters(spark: SparkSession, dir: String): DataFrame = {
    graft.operators.Similarity.knnJoin(
        table(spark, dir, "embeddings"), "vec_id", "embedding", k = 3,
        nLists = 8, nProbe = 8) { graph =>
      // a pair is mutual when both of its directions are kNN edges (edges
      // are unique per (vec_id, nbr_id)): one pass over the edge set, not a
      // self-join that read it once per side. The CC edge build and the CC
      // validation, two actions that each read the mutual pairs once, share
      // this cache; released once the result is in
      val mutual = graph
        .select(least(col("vec_id"), col("nbr_id")).as("id_a"),
          greatest(col("vec_id"), col("nbr_id")).as("id_b"))
        .where(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).count()
        .where(col("count") === 2)
        .select(col("id_a"), col("id_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try collected(graft.operators.CcStar.connectedComponentsStar(mutual).agg(
        count(lit(1)).as("n_nodes"),
        countDistinct(col("component")).as("n_clusters"),
        coalesce(sum(col("component") % 1000003), lit(0L)).cast("long").as("comp_checksum"),
        coalesce(sum(col("id")), lit(0L)).cast("long").as("node_id_sum")))
      finally mutual.unpersist(blocking = false)
    }
  }


  /** Production twin of the kNN graph (the `hll_registers_only` role):
    * pruned probing, list count scaled to the corpus (`nLists =
    * max(8, n/512)` keeps buckets ~512 vectors as the table grows — the
    * documented scale lever, applied rather than described), no exact
    * comparator. The oracle pins the structural contract HONESTLY
    * (advisor r14): instead of assuming every probed pair of buckets
    * holds ≥ k non-self candidates (a skewed/duplicate sampled centroid
    * can break that at other corpora), the query recomputes each
    * vector's candidate SUPPLY — the probed buckets' total membership
    * minus self — and asserts the graph is exactly as complete as the
    * supply allows: n_edges == Σ min(k, supply), n_served == #{supply ≥
    * 1}, rank ≤ k, no self edges. Lost or duplicated edges still fail;
    * a thin bucket no longer fails spuriously. */
  private[graft] def qKnnGraphOnly(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = table(spark, dir, "embeddings")
    val n = emb.count()
    val nLists = math.max(8L, n / 512L).toInt
    val cents = Similarity.sampleCentroids(emb, "vec_id", "embedding", nLists)
    // candidate supply per vector: sizes of its nProbe probed buckets,
    // self excluded (own bucket is probe #1 — same centroid order as the
    // assignment). Narrow assign + one small broadcast-joinable bucket
    // census; the 2n-row (vec_id, list_id) frame is 12 bytes/row.
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
      .where(col("list_id") >= 0)
    val bucketSizes = assigned.groupBy(col("list_id")).count()
    val supply = assigned
      .select(col("vec_id"),
        explode(Similarity.probeListsCol(col("emb"), cents, 2)).as("list_id"))
      .join(broadcast(bucketSizes), Seq("list_id"))
      .groupBy(col("vec_id"))
      .agg((sum(col("count")) - 1L).as("n_cand"))
    // the census assignment pass is narrow (nearestCentroid + the probe
    // sort, no shuffle) and measured cheap next to the bucket join —
    // knnJoin recomputing its own assignment is the price of keeping the
    // operator self-contained
    val expected = supply.agg(
      sum(least(col("n_cand"), lit(3L))).as("exp_edges"),
      count(when(col("n_cand") >= 1, 1)).as("exp_served"))
    Similarity.knnJoin(
        emb, "vec_id", "embedding", k = 3, nLists = nLists, nProbe = 2,
        centroids = Some(cents)) { g =>
      collected(g.agg(
          countDistinct(col("vec_id")).as("n_served"),
          count(lit(1)).as("n_edges"),
          count(when(col("vec_id") === col("nbr_id"), 1)).as("n_self_edges"),
          coalesce(max(col("rank")), lit(0L)).cast("long").as("max_rank"))
        .crossJoin(expected)
        .select(
          lit(n).cast("long").as("n_vectors"),
          when(col("n_served") === col("exp_served"), 1L).otherwise(0L).as("served_ok"),
          when(col("n_edges") === col("exp_edges"), 1L).otherwise(0L).as("edges_ok"),
          col("n_self_edges").cast("long").as("n_self_edges"),
          when(col("max_rank") <= 3, 1L).otherwise(0L).as("rank_ok")))
    }
  }


  /** LSH ANN verified against a planted ground truth: 10 near-copies of the
    * query vector (cosine ~0.999) are planted into the table; the true
    * top-10 is exactly the planted set (next-best real vector is at ~0.41,
    * measured), and the LSH tier must surface all 10 through its band
    * buckets — recall 1.0 in the regime LSH is designed for, while the
    * brute/IVF rows keep covering exactness on the unmodified table. */
  private[graft] def qAnnLshTopk(spark: SparkSession, dir: String): DataFrame = {
    val q = queryVecOf(spark, dir)
    val emb = table(spark, dir, "embeddings")
    val base = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .where(col("vec_id") =!= 0)
    val augmented = base.unionByName(plantedCopies(emb, 0L, 0L, 10, 1000000L))
    graft.operators.Similarity.lshTopK(augmented, "vec_id", "embedding", q, 10)
      .agg(
        count(lit(1)).as("n"),
        count(when(col("vec_id") >= 1000000L, 1)).as("n_planted_found"),
        count(when(col("cosine") >= 0.99, 1)).as("n_high_cosine"))
  }


  private[graft] def qTextProfile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.profile(table(spark, dir, "documents"), "doc_id", "text")
      .select(
        col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_subwords"),
        col("punct_ratio_x1e4"),
        col("digit_ratio_x1e4"),
        col("upper_ratio_x1e4"),
        col("quality"),
        col("lang_pred"))
      .orderBy("doc_id")


  /** Price histogram over lineitem: integer floor-division buckets, cent
    * sums — every output exact. */
  private[graft] def qHistogramStats(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.histogram(
      table(spark, dir, "lineitem"), "l_extendedprice", bucketWidth = 10000L, maxBucket = 10)


  /** Pearson correlation of quantity vs discount from exact integer
    * sufficient statistics ([[graft.operators.Stats.pearsonExact]]):
    * deterministic to the last bit, unlike the builtin co-moment corr. */
  private[graft] def qCorrStats(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.pearsonExact(
      table(spark, dir, "lineitem"), "l_quantity", "l_discount", xScale = 1, yScale = 100)


  /** K-means clustering as a first-class operator, certified on planted
    * ground truth (the real embeddings' `label` column is NOT geometrically
    * separated — nearest-centroid Bayes accuracy on it is ~41%, so no
    * clustering can "recover" it): plant 8 tight clusters on orthogonal
    * axes (centers 10·e_{2c}, deterministic ±0.1 jitter), seed with
    * Gonzalez farthest-point init — which provably lands one seed per
    * separated cluster, unlike sampled init — run 3 Lloyd iterations, and
    * demand EXACT recovery: 8 non-empty lists, every point in a pure
    * cluster. The oracle states the constants. */
  private[graft] def qKmeansCluster(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val planted = spark.range(240).select(
      col("id").as("vec_id"),
      expr("id div 30").cast("int").as("label"))
      .withColumn("embedding",
        transform(sequence(lit(0), lit(15)), d =>
          when(d === col("label") * 2, lit(10.0)).otherwise(lit(0.0))
            + (pmod(col("vec_id") * 31 + d.cast("long") * 7, lit(19)) - lit(9)).cast("double") / lit(90.0))
          .cast("array<float>"))
    val init = Similarity.farthestPointCentroids(planted, "vec_id", "embedding", k = 8)
    val cents = Similarity.kmeansCentroids(planted, "vec_id", "embedding", k = 8,
      iters = 3, init = Some(init))
    val assigned = Similarity.ivfAssign(planted, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("list_id"))
    val withLabel = assigned.join(planted.select(col("vec_id"), col("label")), "vec_id")
    val majority = withLabel.groupBy(col("list_id"), col("label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("list_id"))
      .agg(max(col("n")).as("maj"), sum(col("n")).as("members"))
    majority.agg(
      sum(col("members")).cast("long").as("n_vectors"),
      count(lit(1)).as("n_lists_used"),
      sum(col("maj")).cast("long").as("n_majority"))
      .withColumn("purity_x1e4",
        floor(col("n_majority") * 10000 / col("n_vectors")).cast("long"))
  }


  /** Bloom-prefiltered decontamination must return EXACTLY the exact-path
    * result (the filter only moves work, never changes it) — the query
    * computes both and reports the symmetric difference, which the oracle
    * pins to zero alongside the exact path's own numbers. */
  private[graft] def qDecontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Decontamination
    val docs = table(spark, dir, "documents")
    val bench = docs.where(col("doc_id") % 50 === 0).select(col("text"))
    val exactIds = Decontamination.contaminatedIds(docs, "doc_id", "text", bench, "text", n = 8)
    Decontamination.contaminatedIdsBloom(docs, "doc_id", "text", bench, "text", n = 8) { bloomIds =>
      val diff = bloomIds.withColumnRenamed("doc_id", "b")
        .join(exactIds.withColumnRenamed("doc_id", "e"), col("b") === col("e"), "full_outer")
        .where(col("b").isNull || col("e").isNull)
        .agg(count(lit(1)).as("n_mismatch"))
      collected(docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(bloomIds.agg( // 1x1 combines
          count(lit(1)).as("n_contaminated"),
          coalesce(sum(col("doc_id")), lit(0L)).cast("long").as("cont_id_sum")))
        .crossJoin(diff))
    }
  }


  /** Daily gap-fill + forward fill over events per user. Bucketing is exact
    * integer floor-division of the epoch; per-bucket values collapse by max
    * (order-independent); the checksum is on the cent grid, so floats can't
    * wobble the compare (see [[graft.operators.Resample]]). */
  private[graft] def qGapfillResample(spark: SparkSession, dir: String): DataFrame = {
    val filled = graft.operators.Resample.gapFillForward(
      table(spark, dir, "events"), "user_id", "ts", "value", bucketSeconds = 86400L)
    filled.agg(
      countDistinct(col("key")).as("n_keys"),
      count(lit(1)).as("n_buckets"),
      count(when(col("value").isNull, 1)).as("n_gaps"),
      sum(graft.operators.Resample.centChecksum(col("filled"))).cast("long").as("filled_checksum"),
      sum(graft.operators.Resample.centChecksum(col("value"))).cast("long").as("observed_checksum"))
  }


  /** BM25 retrieval: top-10 documents for a 4-term probe query. The DuckDB
    * oracle recomputes the identical formula; scores are floor(x*1e4) so
    * sub-ULP `ln`/summation-order noise cannot flip a value (analysis in
    * [[graft.operators.Ranking]]). */
  private[graft] def qBm25Topk(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.bm25TopK(
      table(spark, dir, "documents"), "doc_id", "text",
      Seq("hash", "join", "window", "stream"), k = 10)


  /** BM25 through the MATERIALIZED inverted index
    * ([[graft.operators.InvertedIndex]] — the lexical twin of the IVF
    * vector store): the corpus is posting-listed once into a term-bucket-
    * partitioned store with the corpus stats as a `_stats` sidecar, then
    * the probe reads only the query terms' buckets (partition pruning
    * from a driver-computed static IN). Same query, same k, same
    * floor(x*1e4) grid as `bm25_topk`, so the oracle is the direct BM25
    * replay — the store is invisible to the result by construction. */
  private[graft] def qBm25StoreProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.InvertedIndex
    val storeDir = freshTmpStore(spark, "graft_bm25_store")
    val store = storeDir.getAbsolutePath
    InvertedIndex.writeIndex(table(spark, dir, "documents"), "doc_id", "text",
      store, nBuckets = 64)
    InvertedIndex.probeStored(spark, store,
      Seq("hash", "join", "window", "stream"), k = 10, nBuckets = 64)
  }


  /** Incremental inverted index (the sketch-store merge==rebuild law on
    * the lexical retrieval family): day-0's index is materialized, day-1's
    * document batch is appended via [[graft.operators.InvertedIndex.addBatch]]
    * (postings land in their term buckets, `_stats` re-stamped by exact
    * addition), and the merged store must equal a full rebuild row-for-row
    * AND serve probes identical to the direct whole-corpus operator.
    * Output: postings audit (rows, mismatches), the re-stamped stats, and
    * the top-k agreement plus the top-1 hit — all replayable by the oracle
    * from the corpus alone, because the store cycle is exact. */
  private[graft] def qBm25Incremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{InvertedIndex, Ranking}
    val storeDir = freshTmpStore(spark, "graft_bm25_store_inc")
    val store = storeDir.getAbsolutePath
    def half(p: Int) = table(spark, dir, "documents").where(col("doc_id") % 2 === p)
    InvertedIndex.writeIndex(half(0), "doc_id", "text", store, nBuckets = 64)
    InvertedIndex.addBatch(spark, store, half(1), "doc_id", "text", nBuckets = 64)

    val merged = spark.read.parquet(store)
      .select(col("tok"), col("doc_id"), col("dl"), col("tf"),
        col("tb").cast("long").as("tb"))
    val rebuilt = InvertedIndex.postings(
      table(spark, dir, "documents"), "doc_id", "text", nBuckets = 64)
    val postingsAudit = merged.as("m")
      .join(rebuilt.as("r"), Seq("tok", "doc_id"), "full_outer")
      .agg(count(lit(1)).as("postings_rows"),
        count(when(!(col("m.tf") <=> col("r.tf")) || !(col("m.dl") <=> col("r.dl")) ||
          !(col("m.tb") <=> col("r.tb")), 1)).as("postings_mismatch"))

    val (nDocs, sumDl) = InvertedIndex.readStats(spark, store)
    val q = Seq("hash", "join", "window", "stream")
    val probe = InvertedIndex.probeStored(spark, store, q, k = 10, nBuckets = 64)
    val direct = Ranking.bm25TopK(table(spark, dir, "documents"), "doc_id", "text", q, k = 10)
    val topkAudit = probe.as("p")
      .join(direct.as("d"), Seq("doc_id"), "full_outer")
      .agg(count(lit(1)).as("topk_rows"),
        count(when(!(col("p.score_x1e4") <=> col("d.score_x1e4")) ||
          !(col("p.dl") <=> col("d.dl")), 1)).as("topk_mismatch"))
    val top1 = probe.orderBy(col("score_x1e4").desc, col("doc_id")).limit(1)
      .select(col("doc_id").as("top1_doc"), col("score_x1e4").as("top1_score"))

    postingsAudit
      .withColumn("n_docs", lit(nDocs)).withColumn("sum_dl", lit(sumDl))
      .crossJoin(topkAudit).crossJoin(top1)
      .select(col("postings_rows"), col("postings_mismatch"), col("n_docs"),
        col("sum_dl"), col("topk_rows"), col("topk_mismatch"),
        col("top1_doc"), col("top1_score"))
  }


  private[graft] def qNbClassify(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Classifier
    val docs = nbPlanted(table(spark, dir, "documents"))
    val train = docs.where(col("doc_id") % 2 === 0)
    val test = docs.where(col("doc_id") % 2 === 1)
    val (counts, docCounts) = Classifier.trainNb(train, "text", "lang", nBuckets = 64)
    val preds = Classifier.predictNb(
      Classifier.scoreNb(test, "doc_id", "text", counts, docCounts, nBuckets = 64))
    preds.join(test.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred"))
  }


  /** The classifier's batch PRODUCTION twin: same confusion matrix
    * through [[graft.operators.Classifier.predictNbInRow]] — the model as
    * plan literals, each doc scored by ONE codegen'd aggregate over its
    * token array. The oracle-priced `nb_classify` path shuffles
    * (doc, bucket) and (doc, label) frames whose per-partition key
    * cardinality overflows partial aggregation at 100× (measured 443×
    * bytes — hash-agg falls back to pass-through, so the exchange carries
    * pre-combine rows); the in-row scorer's only shuffle is the 25-row
    * confusion aggregate. Shares `nb_classify`'s oracle verbatim. */
  private[graft] def qNbClassifyInRow(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Classifier
    val docs = nbPlanted(table(spark, dir, "documents"))
    val (counts, docCounts) = Classifier.trainNb(
      docs.where(col("doc_id") % 2 === 0), "text", "lang", nBuckets = 64)
    val model = Classifier.collectModel(counts, docCounts, nBuckets = 64)
    Classifier.predictNbInRow(
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text", model,
        nBuckets = 64, keep = Seq("lang"))
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred"))
  }


  /** Streaming NB classification — the classifier joins the "every batch
    * operator also streams" law: [[graft.operators.Classifier
    * .predictNbInRow]] scores each document fully IN-ROW (the collected
    * model rides the plan as literals), so micro-batched documents emit
    * the identical predictions with ZERO streaming state; the confusion
    * matrix aggregates the drained sink batch-side. Shares `nb_classify`'s
    * oracle verbatim — the stream and the in-row scorer must not change
    * one prediction. */
  private[graft] def qStreamNbClassify(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Classifier
    val docs = nbPlanted(table(spark, dir, "documents"))
    val (counts, docCounts) = Classifier.trainNb(
      docs.where(col("doc_id") % 2 === 0), "text", "lang", nBuckets = 64)
    val model = Classifier.collectModel(counts, docCounts, nBuckets = 64)
    val preds = Classifier.predictNbInRow(
      nbPlanted(streamTable(spark, dir, "documents")).where(col("doc_id") % 2 === 1),
      "doc_id", "text", model, nBuckets = 64)
    graft.streaming.Streaming.drain(preds, "stream_nb_classify", "append")
      .join(docs.where(col("doc_id") % 2 === 1).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred"))
  }


  /** Hybrid retrieval: BM25 top-20 (lexical) ⊕ exact-cosine top-20
    * (semantic, query vec 0) fused by reciprocal-rank fusion — the RAG
    * retrieval stack's standard combiner, integer-exact. doc_id and
    * vec_id share the 0..n-1 id space by testdata construction, which is
    * exactly the lexical⊕semantic shape. */
  private[graft] def qHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = graft.operators.Ranking.bm25TopK(
        table(spark, dir, "documents"), "doc_id", "text",
        Seq("hash", "join", "window", "stream"), k = 20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_x1e4").desc, col("doc_id"))))
      .select(col("doc_id").as("id"), col("rank"))
    val q = queryVecOf(spark, dir)
    val sem = graft.operators.Similarity.topK(
        table(spark, dir, "embeddings"), "vec_id", "embedding", q, 20,
        excludeId = Some(0L))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id").asc)))
      .select(col("vec_id").as("id"), col("rank"))
    graft.operators.Ranking.rrfFuse(Seq(lex, sem), topK = 10)
  }


  /** PII redaction over free text. The corpus has no real PII, so the query
    * plants a deterministic mix (email/SSN/phone/CCN/IPv4 keyed off doc_id)
    * into the text, scrubs it with [[graft.operators.Redaction]], and
    * reports per-rule match counts plus post-scrub residue — all of which
    * the DuckDB oracle recomputes from the same planted text with the same
    * RE2-compatible patterns. Residue must be zero: that IS the operator's
    * contract. Narrow codegen'd projection end to end. */
  /** The opt-in fragment-free mode against planted ADJACENT PII: email
    * chains (`user7@mail.example.com@leak.example.org`) leave a domain
    * fragment under the default rules by design; redactExtended must
    * remove every fragment while DuckDB replays both rule sets. */
  private[graft] def qRedactPiiExtended(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Redaction
    val fragPat = "\\[EMAIL\\]@[A-Za-z0-9.-]+"
    val planted = table(spark, dir, "documents").select(
      col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" reach user"), col("doc_id").cast("string"),
            lit("@mail.example.com@leak.example.org"))).otherwise(lit(""))).as("text"))
    planted.select(
      regexp_count(Redaction.redact(col("text")), lit(fragPat)).cast("long").as("frag_default"),
      regexp_count(Redaction.redactExtended(col("text")), lit(fragPat)).cast("long").as("frag_extended"),
      (length(Redaction.redact(col("text"))) - length(Redaction.redactExtended(col("text"))))
        .cast("long").as("len_delta"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("frag_default")).cast("long").as("n_frag_default"),
        sum(col("frag_extended")).cast("long").as("n_frag_extended"),
        sum(col("len_delta")).cast("long").as("len_delta"))
  }


  private[graft] def qRedactPii(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Redaction
    val planted = table(spark, dir, "documents").select(
      col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" reach user"), col("doc_id").cast("string"), lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" ssn 987-65-4321")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" call (415) 555-0142")).otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit(" card 4111-1111-1111-1111")).otherwise(lit("")),
        when(col("doc_id") % 19 === 0, lit(" host 10.0.12.34")).otherwise(lit(""))).as("text"))
    val scrubbed = planted.select(
      col("doc_id"),
      Redaction.count(col("text"), "email").as("c_email"),
      Redaction.count(col("text"), "ssn").as("c_ssn"),
      Redaction.count(col("text"), "phone").as("c_phone"),
      Redaction.redactionCount(col("text")).as("c_total"),
      Redaction.redactionCount(Redaction.redact(col("text"))).as("c_residue"),
      length(col("text")).cast("long").as("len_before"),
      length(Redaction.redact(col("text"))).cast("long").as("len_after"))
    scrubbed.agg(
      count(lit(1)).as("n_docs"),
      sum(col("c_email")).cast("long").as("n_email"),
      sum(col("c_ssn")).cast("long").as("n_ssn"),
      sum(col("c_phone")).cast("long").as("n_phone"),
      sum(col("c_total")).cast("long").as("n_redactions"),
      sum(col("c_residue")).cast("long").as("n_residue"),
      sum(col("len_before") - col("len_after")).cast("long").as("len_delta"))
  }


  /** Gopher-style repetition metrics, full per-document value compare (the
    * strongest oracle form): DuckDB recomputes lines, distinct lines, the
    * bigram multiset and its mode with list/unnest SQL. */
  private[graft] def qTextRepetition(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.repetitionProfile(
      table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")


  /** Token-budget truncation, full-row value oracle: every truncated
    * STRING (not just counts) is recomputed by DuckDB from the same
    * split/slice/rejoin — whitespace-boundary fidelity is pinned
    * byte-for-byte. */
  private[graft] def qTruncateTokens(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.truncateTokens(
      table(spark, dir, "documents"), "doc_id", "text", maxTokens = 40)
      .orderBy("doc_id")


  /** Gopher/C4-style quality-filter DECISIONS, full 500-row value oracle:
    * every per-doc keep bit and reasons bitmask is recomputed by DuckDB
    * from the same integer-exact cross-multiplied rules — the decision,
    * not just a count, is pinned. Narrow codegen projection, no shuffle. */
  private[graft] def qQualityFilter(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.qualityDecision(
      table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")


  /** Corpus-wide vocabulary extraction (tokenizer-training shape): explode
    * tokens, count per token (one hash-agg shuffle with map-side partial
    * counts), take the global top 20 by (count DESC, token ASC). The
    * final top-k is TakeOrderedAndProject — per-partition heaps + a k-row
    * driver merge, NOT a global sort; at 100 TB the only full-corpus cost
    * is the token count agg itself. Full-row compare against DuckDB. */
  private[graft] def qVocabTopk(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)


  /** Count-Min Sketch heavy hitters (the sketch complement of the exact
    * `vocab_topk`): one distributed pass builds a fixed-size sketch
    * (mergeable map-side, seed-deterministic), then the exact top-20
    * tokens probe it. The CMS contract is provable and oracled: estimates
    * NEVER underestimate, and overestimate by at most eps * N (eps=0.001,
    * confidence 0.99) — at 100 TB the sketch replaces the full token
    * aggregate when only heavy hitters are needed. */
  private[graft] def qVocabCms(spark: SparkSession, dir: String): DataFrame = {
    val toks = table(spark, dir, "documents")
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "")
    val sketch = toks.stat.countMinSketch("tok", eps = 0.001, confidence = 0.99, seed = 42)
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(20).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val total = toks.count()
    val slack = math.ceil(0.001 * total).toLong
    import spark.implicits._
    top.toSeq.map { case (tok, n) =>
      val est = sketch.estimateCount(tok)
      (tok, n, est >= n, est <= n + slack)
    }.toDF("tok", "n", "ge_true", "within_eps")
      .agg(
        count(lit(1)).as("n_probes"),
        count(when(col("ge_true"), 1)).as("n_ge_true"),
        count(when(col("within_eps"), 1)).as("n_within_eps"))
  }


  private[graft] def qTextFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    docs.select(graft.operators.TextAnalysis.fingerprint(col("text")).as("fp"), col("text"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("fp")).as("n_distinct_fp"))
  }

  /** Margin-based bitext mining
    * ([[graft.operators.Similarity.marginMine]] — Artetxe & Schwenk's
    * ratio margin, forward strategy): even vec_ids play the source
    * language, odd the target; the source is BOUNDED (vec_id < 400 —
    * the operator's contract; corpus-scale mining shortlists per
    * source with an ANN probe first). FULL-VALUE oracle: DuckDB
    * replays the neighborhood averages and margins brute-force —
    * ids and ranks only, so the contract is ordering, never float
    * equality. */
  private[graft] def qBitextMine(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    graft.operators.Similarity.marginMine(
      emb.where(pmod(col("vec_id"), lit(2L)) === 0 && col("vec_id") < 400),
      emb.where(pmod(col("vec_id"), lit(2L)) === 1),
      "vec_id", "embedding", k = 4)(collected)
  }

  // ---------------------------------------------------------------------
  // sentence-level text pipeline, per-language LM quality bucketing,
  // URL-shape spam scoring
  // ---------------------------------------------------------------------

  /** The planted document used by the two sentence queries: real corpus
    * words wrapped in sentence structure that exercises every segmentation
    * rule — abbreviation periods (`Dr. Mrs.`), a dotted pair (`e.g.`), a
    * decimal point (`3.14`), Latin terminators `.!?` and the no-whitespace
    * CJK terminators `。！`. */
  private def sentenceDoc: Column = concat(
    lit("Intro words "), substring(col("text"), 1, 40), lit(". "),
    lit("Dr. Smith replied to Mrs. Jones! "),
    lit("Was it version 3.14 of "), col("lang"), lit("? "),
    lit("句子一。这是第二句！"),
    lit("Tail from "), col("source"), lit(" e.g. the end"))

  /** Sentence segmentation — [[graft.operators.Sentences.splitSentences]]
    * over the planted six-sentence document. FULL-VALUE oracle: the six
    * expected sentences are constructed directly from (text, lang, source)
    * — the oracle does NOT replay the regex chain, it asserts the
    * segmentation contract from first principles (abbreviations and the
    * decimal stay inside their sentences; CJK splits without whitespace;
    * the unterminated tail is still a sentence). */
  private[graft] def qSentenceSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.Partitioning.spread(table(spark, dir, "documents"))
    docs.select(col("doc_id"), sentenceDoc.as("t"))
      .select(col("doc_id"),
        posexplode(graft.operators.Sentences.splitSentences(col("t"))))
      .select(col("doc_id"), col("pos").cast("long").as("sentence_idx"),
        col("col").as("sentence"))
  }

  /** Sentence-level exact dedup — the CCNet/RefinedWeb paragraph-dedup
    * move at sentence granularity: segment, count each distinct sentence
    * corpus-wide, CUT every sentence that occurs more than once (the
    * planted slogan arm collides by `doc_id % 7`; "Dr. Smith..." collides
    * everywhere), and rebuild documents from the surviving sentences.
    * Plan shape: segmentation is a narrow projection; the duplicate count
    * is one hash aggregate on the sentence key joined back by key — the
    * [[graft.operators.Dedup]] discipline, never all-pairs. */
  private[graft] def qSentenceDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.Partitioning.spread(table(spark, dir, "documents"))
    val composed = docs.select(col("doc_id"), concat(
      lit("Unique lead "), substring(col("text"), 1, 30), lit(" of doc "),
      col("doc_id"), lit(". "),
      lit("Shared slogan number "), pmod(col("doc_id"), lit(7L)),
      lit(" appears often! "),
      lit("Dr. Smith replied. "),
      lit("Tail source "), col("source"), lit(" closes doc "), col("doc_id"),
      lit(".")).as("t"))
    val sent = composed.select(col("doc_id"),
        posexplode(graft.operators.Sentences.splitSentences(col("t"))))
      .select(col("doc_id"), col("pos").as("idx"), col("col").as("sentence"))
    val counts = sent.groupBy("sentence").agg(count(lit(1)).as("cnt"))
    val kept = sent.join(counts, "sentence").where(col("cnt") === 1)
    kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", array_sort(collect_list(struct(col("idx"), col("sentence"))))
          .getField("sentence")).as("kept_text"))
      .join(composed.select(col("doc_id")), Seq("doc_id"), "right")
      .select(col("doc_id"), coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** CCNet-style quality bucketing: language from the Cavnar–Trenkle
    * profile ranker ([[graft.operators.LangId]] — the planted-prefix arm
    * by `doc_id % 4` covers en plus the three non-Latin scripts ru/zh/ar,
    * so the r18 profiles are LOAD-BEARING), per-document score from the
    * corpus-trained bigram LM ([[graft.operators.LanguageModel]]), then
    * head/middle/tail tertiles PER LANGUAGE.
    *
    * The tertile assignment is the 100-TB shape, not a per-doc global
    * sort: build the per-language (score -> count) HISTOGRAM (one hash
    * aggregate; distinct integer scores, not documents), window over the
    * histogram for cutoffs, broadcast-join the bucket back by (lang,
    * score). A score group straddling a cutoff promotes whole into the
    * better bucket — deterministic, and exactly replayable in SQL. */
  /** The four planted language-arm prefixes (en/ru/zh/ar by doc_id % 4)
    * — shared by `lm_quality_buckets` and `quality_gate`; the r18
    * non-Latin profiles are load-bearing for arms 1–3. */
  private def langArmOf(id: Column): Column =
    when(pmod(id, lit(4L)) === 0,
        lit("the quick brown fox jumps over the lazy dog near the river bank today"))
      .when(pmod(id, lit(4L)) === 1,
        lit("в этом документе говорится о последних новостях и погоде в москве сегодня вечером"))
      .when(pmod(id, lit(4L)) === 2,
        lit("这是一个关于新闻和天气的中文文档今天晚上在北京发布的内容"))
      .otherwise(
        lit("هذه وثيقة باللغة العربية عن الأخبار والطقس في المساء اليوم"))

  private[graft] def qLmQualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Fixpoint.{cached, materialized}
    val docs = graft.operators.Partitioning.spread(table(spark, dir, "documents"))
    val planted = langArmOf(col("doc_id"))
    // the composed text, both model tables and the per-doc scored frame are
    // each read more than once: uni's subtree three times (unigram join,
    // vocab constant, and again through the second perDoc use), and perDoc
    // by BOTH the histogram and the final bucket join — uncached, the whole
    // train+score pipeline executed twice (59 Exchanges in the before-plan,
    // plans/r18/lm_quality_buckets_before.txt). Each is built once and
    // released once the result is in.
    materialized(docs.select(col("doc_id"),
        concat(planted, lit(" "), substring(col("text"), 1, 40)).as("t"))) { composed =>
      val langs = composed.select(col("doc_id"),
        graft.operators.LangId.langid(col("t")).as("lang"))
      val (bigrams, unigrams) = graft.operators.LanguageModel.trainBigramCounts(composed, "t")
      materialized(bigrams) { bg => materialized(unigrams) { uni =>
        val scored = graft.operators.LanguageModel
          .scoreBigrams(composed, "doc_id", "t", bg, uni)
        materialized(langs.join(scored, "doc_id")) { perDoc =>
          val hist = perDoc.groupBy("lang", "avg_logp_x1e4")
            .agg(count(lit(1)).as("cnt"))
          val wDesc = Window.partitionBy("lang").orderBy(col("avg_logp_x1e4").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val cutoffs = hist
            .withColumn("cum", sum(col("cnt")).over(wDesc))
            .withColumn("n", sum(col("cnt")).over(Window.partitionBy("lang")))
            .withColumn("start", col("cum") - col("cnt"))
            .withColumn("bucket",
              when(col("start") < floor((col("n") + 2) / lit(3.0)).cast("long"), lit("head"))
                .when(col("start") < floor((col("n") * 2 + 2) / lit(3.0)).cast("long"),
                  lit("middle"))
                .otherwise(lit("tail")))
            .select(col("lang"), col("avg_logp_x1e4"), col("bucket"))
          cached(perDoc.join(broadcast(cutoffs), Seq("lang", "avg_logp_x1e4"))
            .select(col("doc_id"), col("lang"), col("n_bigrams"),
              col("avg_logp_x1e4"), col("bucket")))
        }
      }}
    }
  }

  /** Interpolated Kneser–Ney trigram scoring
    * ([[graft.operators.LanguageModel.trainKneserNey]]) — the
    * KenLM/CCNet model class with a REAL train/score split: the model
    * trains on ids ≢ 0 mod 3 and scores the FULL corpus, so held-out
    * documents exercise every backoff layer (their word-salad trigrams
    * are mostly unseen → P2/P1 paths; arm 1's per-id token is
    * genuinely OOV for held-out ids → the uniform 1/V̂ floor; arm 0's
    * planted trigram is corpus-common → the highest-order path).
    * FULL-VALUE oracle: DuckDB replays the entire construction —
    * counts, continuation counts, discount interpolation, the 1e4
    * log-grid. */
  private[graft] def qLmKnScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.Partitioning.spread(table(spark, dir, "documents"))
    // the composed text feeds training and scoring: built once, released
    // once the result is in
    graft.operators.Fixpoint.materialized(docs.select(col("doc_id"), concat(
      substring(col("text"), 1, 60), lit(" "),
      when(pmod(col("doc_id"), lit(4L)) === 0, lit("alpha beta gamma"))
        .when(pmod(col("doc_id"), lit(4L)) === 1,
          concat(lit("alpha beta r"), col("doc_id")))
        .when(pmod(col("doc_id"), lit(4L)) === 2, lit("delta epsilon"))
        .otherwise(lit(""))).as("t"))) { composed =>
      val model = graft.operators.LanguageModel.trainKneserNey(
        composed.where(pmod(col("doc_id"), lit(3L)) =!= 0), "t")
      // persist the two root model tables: tri's trigram explode+count
      // subtree is referenced by FOUR scoring branches (tri/bi/cont/contAgg
      // all derive from it) and uniCont's bigram-type distinct by two —
      // unpersisted, each branch replayed the full training pass (58
      // Exchanges in the before-plan, plans/r18/lm_kn_score_before.txt).
      // The model tables are vocabulary-shaped (the operator's documented
      // materialize-once story); the derived aggregates are built on their
      // lineage, so only an in-place persist reaches them. Released once
      // the result is in.
      model.tri.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      model.uniCont.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try graft.operators.Fixpoint.cached(
        graft.operators.LanguageModel.scoreKneserNey(composed, "doc_id", "t", model))
      finally { model.tri.unpersist(blocking = false); model.uniCont.unpersist(blocking = false) }
    }
  }

  /** Flesch Reading Ease over composed multi-sentence documents — the
    * classic readability facet of a quality-scoring pipeline, built
    * ENTIRELY from this round's sentence segmenter plus in-row token
    * and vowel-group arithmetic:
    *   FRE·1000 = 206835 − 1015·(words/sentences) − 84600·(syllables/words)
    * with the engine-replayable syllable heuristic syl(w) = max(1,
    * vowelGroups(w) − [w ends in 'e' and has ≥2 groups]). Everything is
    * one narrow projection (segmentation, token array, a transform/
    * aggregate fold for syllables) — no shuffle, no explode. */
  /** (n_sentences, n_words, n_syllables) of a text column — the FRE
    * inputs, shared by `readability_scores` and `quality_gate`. */
  private def freCounts(t: Column): (Column, Column, Column) = {
    val toks = filter(split(trim(lower(t)), "\\s+"), w => length(w) > 0)
    val syl = (w: Column) => greatest(
      regexp_count(w, lit("[aeiouy]+")) -
        when(w.rlike("e$") && regexp_count(w, lit("[aeiouy]+")) >= 2, lit(1))
          .otherwise(lit(0)),
      lit(1)).cast("long")
    (size(graft.operators.Sentences.splitSentences(t)).cast("long"),
      size(toks).cast("long"),
      aggregate(toks, lit(0L), (acc, w) => acc + syl(w)))
  }

  /** FRE·1000 from the three counts (the double-op chain the oracle
    * replays verbatim). */
  private def freX1000(s: Column, w: Column, syl: Column): Column = floor(
    lit(206835.0) -
      lit(1015.0) * w / greatest(s, lit(1L)) -
      lit(84600.0) * syl / greatest(w, lit(1L)) +
      lit(1e-6)).cast("long")

  private[graft] def qReadabilityScores(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.Partitioning.spread(table(spark, dir, "documents"))
    val t = concat(lit("The quick start. "), substring(col("text"), 1, 80),
      lit("! Then "), substring(col("text"), 30, 40), lit("?"))
    val (s, w, syl) = freCounts(t)
    docs.select(col("doc_id"), s.as("n_sentences"), w.as("n_words"),
        syl.as("n_syllables"))
      .withColumn("fre_x1000",
        freX1000(col("n_sentences"), col("n_words"), col("n_syllables")))
  }

  /** Quality-gate ENSEMBLE — how production curation actually filters:
    * no single signal decides, a document passes every gate or carries
    * the ordered reasons it failed. Composes three of this round's
    * operators on planted arms: URL-shape spam ([[graft.operators
    * .UrlSpam]] over the five spam arms), script-gated language ID
    * ([[graft.operators.LangId]] over the four language arms — ru/zh/ar
    * detection load-bearing), and Flesch readability (applied only to
    * the en arm: FRE is English-calibrated, gating zh on vowel groups
    * would be noise — the gate is language-CONDITIONAL by design).
    * One narrow projection per doc, no shuffle. FULL-VALUE oracle:
    * spam arithmetic, arm languages, the FRE chain, and the reason
    * string all replay. */
  private[graft] def qQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.Partitioning.spread(table(spark, dir, "documents"))
    val id = col("doc_id").cast("long")
    // the id%8==4 half of the en arm appends syllable-dense words so the
    // readability check measurably FIRES (a gate lane that cannot fire
    // is decoration); the suffix is Latin, so the language arm holds
    val t = concat(langArmOf(id), lit(" "), substring(col("text"), 1, 40),
      when(pmod(id, lit(8L)) === 4,
        lit(" extraordinarily unconstitutionally incomprehensibilities revolutionarily"))
        .otherwise(lit("")))
    val (s, w, syl) = freCounts(t)
    val base = docs.select(col("doc_id"),
      graft.operators.UrlSpam.features(spamUrlOf(id)).getField("spam_score")
        .as("spam_score"),
      graft.operators.LangId.langid(t).as("lang"),
      freX1000(s, w, syl).as("fre_x1000"))
    base.withColumn("reasons", concat_ws(",",
        when(col("spam_score") > 8, lit("spam")),
        when(col("lang").isNull, lit("lang")),
        when(coalesce(col("lang") === "en", lit(false)) &&
          col("fre_x1000") < 60000, lit("readability"))))
      .withColumn("kept", col("reasons") === "")
  }

  /** URL-shape spam scoring — [[graft.operators.UrlSpam.features]] over
    * five planted URL arms (clean / tracking-littered / keyword-stuffed
    * throwaway-TLD host / machine-deep path / generated digit host).
    * FULL-VALUE oracle: every feature integer replays from the arm
    * construction with the same string builtins. */
  /** The five planted URL arms (clean / tracking-littered /
    * keyword-stuffed throwaway-TLD host / machine-deep path / generated
    * digit host) — shared by `url_spam_score` and `quality_gate`. */
  private def spamUrlOf(id: Column): Column =
    when(pmod(id, lit(5L)) === 0,
        concat(lit("https://news.example.com/articles/"), id))
      .when(pmod(id, lit(5L)) === 1,
        concat(lit("https://example.com/p/"), id,
          lit("?utm_source=feed&fbclid=x"), id, lit("&ref=tw")))
      .when(pmod(id, lit(5L)) === 2,
        concat(lit("http://best-cheap-pills-"), pmod(id, lit(7L)),
          lit(".win-prizes-online.example.biz/offer/"), id))
      .when(pmod(id, lit(5L)) === 3,
        concat(lit("https://example.org/a/b/c/d/e/f/g/h/"), id, lit("/page")))
      .otherwise(
        concat(lit("http://h"), id, lit("x"), pmod(id * 7, lit(1000L)),
          lit(".example.net/"), id))

  private[graft] def qUrlSpamScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.operators.Partitioning.spread(table(spark, dir, "documents"))
    val id = col("doc_id").cast("long")
    docs.select(col("doc_id"), spamUrlOf(id).as("url"))
      .withColumn("f", graft.operators.UrlSpam.features(col("url")))
      .select(col("doc_id"), col("url"), col("f.host").as("host"),
        col("f.n_sub").as("n_sub"), col("f.n_hyphen").as("n_hyphen"),
        col("f.digit_pct").as("digit_pct"), col("f.path_depth").as("path_depth"),
        col("f.n_params").as("n_params"), col("f.n_tracking").as("n_tracking"),
        col("f.spam_score").as("spam_score"))
  }

  /** The queries defined in this file, each with its DuckDB oracle. */
  private[graft] lazy val annSketchTextQueries: Seq[QueryDef] = Seq(
    // Scale: see kcore_peel.
    // ppm-grid cosine threshold against the 10-vector benchmark
    QueryDef("decontaminate_semantic", qDecontaminateSemantic,
      "WITH b AS (SELECT vec_id AS bench_id, list_transform(embedding, x -> x::DOUBLE) AS be " +
        "FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ce " +
        "FROM embeddings WHERE vec_id >= 10), " +
        "s AS (SELECT c.vec_id, round(list_cosine_similarity(ce, be) * 1000000)::BIGINT AS cos_ppm " +
        "FROM c CROSS JOIN b) " +
        "SELECT vec_id::BIGINT AS vid, count(*)::BIGINT AS n_hits, max(cos_ppm)::BIGINT AS max_cos_ppm " +
        "FROM s WHERE cos_ppm >= 250000 GROUP BY vec_id ORDER BY vid", Set(Scale)),
    // Scale: PQ ANN: training joins the broadcast codebook (constant size), the
    // probe touches m rows per vector — both linear terms under test.
    QueryDef("ann_pq_topk", qAnnPqTopk,
      annPqCoreCte + " SELECT vec_id, pq_dist, row_number() OVER (ORDER BY pq_dist, vec_id) AS rank " +
        "FROM res ORDER BY pq_dist, vec_id LIMIT 10", Set(Scale)),
    // brute-force integer L2 on the same 1e6 grid
    QueryDef("ann_l2_topk", qAnnL2Topk,
      "WITH qz AS (SELECT vec_id, unnest(range(1, len(embedding)+1)) AS pos, " +
        "unnest(list_transform(embedding, e -> round(e::DOUBLE * 1000000)::BIGINT)) AS q FROM embeddings), " +
        "qv AS (SELECT pos, q FROM qz WHERE vec_id = 0), " +
        "d AS (SELECT z.vec_id, sum((z.q - qv.q) * (z.q - qv.q))::BIGINT AS l2_dist " +
        "FROM qz z JOIN qv ON qv.pos = z.pos WHERE z.vec_id <> 0 GROUP BY z.vec_id) " +
        "SELECT vec_id, l2_dist, row_number() OVER (ORDER BY l2_dist, vec_id) AS rank " +
        "FROM d ORDER BY l2_dist, vec_id LIMIT 10"),
    // PQ recall@10 vs the exact L2 ranking on the same grid: extends the
    // PQ CTE with the brute-force distance and intersects the two top-10
    // id sets.
    QueryDef("pq_recall", qPqRecall,
      annPqCoreCte + ", " +
        "exq AS (SELECT z.vec_id, sum((z.q - qv.q) * (z.q - qv.q))::BIGINT AS d " +
        "FROM qz z JOIN qv ON qv.s = z.s AND qv.spos = z.spos WHERE z.vec_id <> 0 GROUP BY z.vec_id), " +
        "ex AS (SELECT vec_id FROM exq ORDER BY d, vec_id LIMIT 10), " +
        "pqt AS (SELECT vec_id FROM res ORDER BY pq_dist, vec_id LIMIT 10), " +
        "nc AS (SELECT count(*)::BIGINT AS n FROM pqt JOIN ex USING (vec_id)) " +
        "SELECT 10::BIGINT AS k, n AS n_common, ((n * 1000000) // 10)::BIGINT AS recall_ppm FROM nc"),
    // Scale: see split_leakage.
    // nDCG/MRR replayed with the SAME Scala-computed discount constants
    // embedded as SQL literals — the float log2 never runs in DuckDB.
    QueryDef("ranking_eval", qRankingEval, {
      val disc = graft.operators.Ranking.dcgDiscountsPpm(10)
      val idcg = graft.operators.Ranking.idcgPpm(10)
      val caseDisc = (1 to 10).map(i => s"WHEN $i THEN ${disc(i - 1)}")
        .mkString("CASE srank ", " ", " ELSE 0 END")
      annPqCoreCte + ", " +
        "exq AS (SELECT z.vec_id, sum((z.q - qv.q) * (z.q - qv.q))::BIGINT AS d " +
        "FROM qz z JOIN qv ON qv.s = z.s AND qv.spos = z.spos WHERE z.vec_id <> 0 GROUP BY z.vec_id), " +
        "ex AS (SELECT vec_id, row_number() OVER (ORDER BY d, vec_id) AS trank " +
        "FROM exq ORDER BY d, vec_id LIMIT 10), " +
        "sysr AS (SELECT vec_id, row_number() OVER (ORDER BY pq_dist, vec_id) AS srank " +
        "FROM res ORDER BY pq_dist, vec_id LIMIT 10), " +
        "j AS (SELECT s.srank, coalesce(11 - e.trank, 0) AS rel " +
        "FROM sysr s LEFT JOIN ex e USING (vec_id)), " +
        s"m AS (SELECT coalesce(sum(rel * ($caseDisc)), 0)::BIGINT AS dcg, " +
        "min(CASE WHEN rel > 0 THEN srank END) AS fr, " +
        "count(CASE WHEN rel > 0 THEN 1 END)::BIGINT AS n_relevant FROM j) " +
        s"SELECT 10::BIGINT AS k, dcg, $idcg::BIGINT AS idcg, " +
        s"((dcg * 1000000) // $idcg)::BIGINT AS ndcg_ppm, " +
        "coalesce(1000000 // fr, 0)::BIGINT AS mrr_ppm, n_relevant FROM m"
    }, Set(Scale)),
    // Scale: see segment_viterbi.
    // per-probe different-label cosine ranking on the ppm grid (a 1e-15
    // cross-engine float difference can flip an exact-float rank on a
    // near-tie but not a 1e-6 grid cell), cut at k=3
    QueryDef("hard_negatives", qHardNegatives,
      "WITH p AS (SELECT vec_id AS probe_id, list_transform(embedding, x -> x::DOUBLE) AS pe, " +
        "label AS pl FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)), " +
        "s AS (SELECT p.probe_id, e.vec_id, " +
        "round(list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE), p.pe) * 1000000)::BIGINT AS cos_ppm " +
        "FROM embeddings e JOIN p ON e.label <> p.pl), " +
        "r AS (SELECT probe_id, vec_id, cos_ppm, row_number() OVER (PARTITION BY probe_id " +
        "ORDER BY cos_ppm DESC, vec_id) AS rank FROM s) " +
        "SELECT probe_id::BIGINT AS probe_id, vec_id::BIGINT AS vec_id, cos_ppm, rank::BIGINT AS rank " +
        "FROM r WHERE rank <= 3 ORDER BY probe_id, rank", Set(Scale)),
    // batch PQ replay aggregated over every streamed vector
    QueryDef("stream_pq_probe", qStreamPqProbe,
      annPqCoreCte + " SELECT count(*)::BIGINT AS n, sum(pq_dist)::BIGINT AS dist_sum, " +
        "min(pq_dist)::BIGINT AS dist_min, max(pq_dist)::BIGINT AS dist_max, " +
        "sum(vec_id)::BIGINT AS id_sum FROM res"),
    // Scale: round-11 batch 3: quantization-cell blocking (cell-count growth is
    // the term under test), the narrow reconstruction-error scan, and the
    // modularity aggregate riding the LPA layout.
    // PQ-code blocking replayed with a coarser m=4/subDim=16/nCodes=4
    // codebook: train, encode, group identical code vectors into cells,
    // pair within cells (2..1000 guard), verify by exact grid L2.
    QueryDef("dedup_pq_codes", qDedupPqCodes, {
      def cb(name: String, assignT: String) =
        s"$name AS MATERIALIZED (SELECT z.s, a.code, z.spos, " +
          "((sum(z.q) - ((sum(z.q) % count(*)) + count(*)) % count(*)) // count(*))::BIGINT AS c " +
          s"FROM qz4 z JOIN $assignT a ON a.vec_id = z.vec_id AND a.s = z.s GROUP BY z.s, a.code, z.spos)"
      def assign(name: String, codebook: String) =
        s"$name AS MATERIALIZED (SELECT vec_id, s, code FROM (" +
          "SELECT z.vec_id, z.s, cb.code, row_number() OVER (PARTITION BY z.vec_id, z.s " +
          "ORDER BY sum((z.q - cb.c) * (z.q - cb.c)), cb.code) AS rn " +
          s"FROM qz4 z JOIN $codebook cb ON cb.s = z.s AND cb.spos = z.spos " +
          "GROUP BY z.vec_id, z.s, cb.code) WHERE rn = 1)"
      "WITH qz4 AS MATERIALIZED (SELECT vec_id, ((pos - 1) // 16)::BIGINT AS s, ((pos - 1) % 16)::BIGINT AS spos, q FROM (" +
        "SELECT vec_id, unnest(range(1, len(embedding)+1)) AS pos, " +
        "unnest(list_transform(embedding, e -> round(e::DOUBLE * 1000000)::BIGINT)) AS q FROM embeddings)), " +
        "b0 AS (SELECT DISTINCT vec_id, s, (vec_id * 31 + s * 7) % 4 AS code FROM qz4), " +
        cb("bb0", "b0") + ", " + assign("ba1", "bb0") + ", " +
        cb("bb1", "ba1") + ", " + assign("ba2", "bb1") + ", " +
        "cv AS MATERIALIZED (SELECT vec_id, list(code ORDER BY s) AS codes FROM ba2 GROUP BY vec_id), " +
        "cnt AS (SELECT codes, count(*) AS n FROM cv GROUP BY codes), " +
        "okc AS MATERIALIZED (SELECT cv.vec_id, cv.codes FROM cv JOIN cnt ON cnt.codes = cv.codes " +
        "WHERE cnt.n BETWEEN 2 AND 1000), " +
        "pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM okc a " +
        "JOIN okc b ON a.codes = b.codes AND a.vec_id < b.vec_id), " +
        "dd AS (SELECT pr.id_a, pr.id_b, sum((za.q - zb.q) * (za.q - zb.q))::BIGINT AS l2_dist " +
        "FROM pr JOIN qz4 za ON za.vec_id = pr.id_a " +
        "JOIN qz4 zb ON zb.vec_id = pr.id_b AND zb.s = za.s AND zb.spos = za.spos " +
        "GROUP BY pr.id_a, pr.id_b) " +
        "SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, l2_dist FROM dd " +
        "WHERE l2_dist <= 20000000000000 ORDER BY id_a, id_b"
    }, Set(Scale)),
    // Scale: see dedup_pq_codes.
    // reconstruction error vs the final codebook: per-(vec, subspace)
    // min distance over codes, summed, floor-mean aggregate
    QueryDef("pq_error", qPqError,
      annPqCoreCte + ", " +
        "qe AS (SELECT vec_id, s, min(d) AS md FROM (" +
        "SELECT z.vec_id, z.s, cb.code, sum((z.q - cb.c) * (z.q - cb.c)) AS d " +
        "FROM qz z JOIN cb1 cb ON cb.s = z.s AND cb.spos = z.spos " +
        "GROUP BY z.vec_id, z.s, cb.code) GROUP BY vec_id, s), " +
        "te AS (SELECT vec_id, sum(md) AS e FROM qe GROUP BY vec_id) " +
        "SELECT count(*)::BIGINT AS n_vectors, sum(e)::BIGINT AS total_err, " +
        "((sum(e) - ((sum(e) % count(*)) + count(*)) % count(*)) // count(*))::BIGINT AS mean_err FROM te", Set(Scale)),
    // The batch probe: per-probe distance tables keyed by query_id (=
    // vec_id of the probe, which is also its 0-based batch position), one
    // joined lookup-sum over the shared encode — 5 independent
    // single-query replays in one statement.
    QueryDef("ann_pq_batch", qAnnPqBatch,
      annPqTrainCte + ", " +
        "qv AS (SELECT vec_id AS query_id, s, spos, q FROM qz WHERE vec_id IN (0, 1, 2, 3, 4)), " +
        "dt AS (SELECT qv.query_id, cb.s, cb.code, sum((qv.q - cb.c) * (qv.q - cb.c))::BIGINT AS d " +
        "FROM cb1 cb JOIN qv ON qv.s = cb.s AND qv.spos = cb.spos GROUP BY qv.query_id, cb.s, cb.code) " +
        "SELECT dt.query_id::BIGINT AS query_id, a.vec_id::BIGINT AS vec_id, sum(dt.d)::BIGINT AS pq_dist " +
        "FROM a2 a JOIN dt ON dt.s = a.s AND dt.code = a.code " +
        "GROUP BY dt.query_id, a.vec_id ORDER BY query_id, vec_id"),
    // Scale: see segment_viterbi.
    QueryDef("ann_ivfpq_topk", qAnnIvfPqTopk, annIvfPqOracleSql, Set(Scale)),
    // the partitioned layout changes where bytes live, never the answer
    QueryDef("ann_ivfpq_pruned", qAnnIvfPqPruned, annIvfPqOracleSql),
    // Scale: see dedup_winnow.
    // Refine stage on top of the full IVFADC replay: ADC shortlist of 50,
    // exact squared-L2 on the full-dim grid (`fz` vs the query's `qf`),
    // final top-10 by exact distance.
    QueryDef("ann_ivfpq_refine", qAnnIvfPqRefine,
      annIvfPqCoreCte + ", " +
        "short AS MATERIALIZED (SELECT vec_id, pq_dist FROM score ORDER BY pq_dist, vec_id LIMIT 50), " +
        "ex AS (SELECT z.vec_id, sum((z.q - qf.q) * (z.q - qf.q))::BIGINT AS exact_dist " +
        "FROM fz z JOIN qf ON qf.spos = z.spos JOIN short s ON s.vec_id = z.vec_id " +
        "GROUP BY z.vec_id) " +
        "SELECT s.vec_id, s.pq_dist, e.exact_dist, " +
        "row_number() OVER (ORDER BY e.exact_dist, s.vec_id) AS rank " +
        "FROM short s JOIN ex e USING (vec_id) ORDER BY exact_dist, vec_id LIMIT 10", Set(Scale)),
    // Scale: see dedup_winnow.
    // MMR greedy selection replayed as a recursive CTE: the picks list is
    // the recursion state; each step's argmax is a correlated subquery
    // ranking the remaining candidates by 7·rel − 3·max_sim_to_picks on
    // the ppm grid, ties by vec_id — the exact mirror of
    // [[graft.operators.Similarity.mmrRerank]]'s driver loop.
    QueryDef("ann_mmr_rerank", qAnnMmrRerank,
      "WITH q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qe FROM embeddings WHERE vec_id = 0), " +
        "v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings WHERE vec_id <> 0), " +
        "rel AS (SELECT vec_id, e, round(list_cosine_similarity(e, qe) * 1000000)::BIGINT AS rel_ppm FROM v, q), " +
        "cand AS (SELECT vec_id, e, rel_ppm, row_number() OVER (ORDER BY rel_ppm DESC, vec_id) AS rn FROM rel " +
        "QUALIFY rn <= 20), " +
        "sims AS (SELECT a.vec_id AS va, b.vec_id AS vb, " +
        "round(list_cosine_similarity(a.e, b.e) * 1000000)::BIGINT AS sim_ppm " +
        "FROM cand a JOIN cand b ON a.vec_id <> b.vec_id), " +
        "sel AS (WITH RECURSIVE r(step, picks) AS (" +
        "SELECT 1, [(SELECT vec_id FROM cand ORDER BY rel_ppm DESC, vec_id LIMIT 1)] " +
        "UNION ALL SELECT step + 1, list_append(picks, (" +
        "SELECT c.vec_id FROM cand c WHERE NOT list_contains(r.picks, c.vec_id) " +
        "ORDER BY 7 * c.rel_ppm - 3 * (SELECT max(s.sim_ppm) FROM sims s " +
        "WHERE s.va = c.vec_id AND list_contains(r.picks, s.vb)) DESC, c.vec_id LIMIT 1)) " +
        "FROM r WHERE step < 10) SELECT picks FROM r WHERE step = 10) " +
        "SELECT u.i::BIGINT AS sel_rank, u.v AS vec_id, c.rel_ppm " +
        "FROM (SELECT unnest(picks) AS v, unnest(range(1, 11)) AS i FROM sel) u " +
        "JOIN cand c ON c.vec_id = u.v ORDER BY sel_rank", Set(Scale)),
    // Scale: round-12 batch 3: winnowing (fingerprint-bucket join under the df
    // cap — candidate growth is the term under test), two-pass SNM (two block
    // shuffles + banded verify, candidates n*(w-1) by construction), the IVFADC
    // exact-refine probe (shortlist-bounded second scan), and the MMR rerank
    // (one scoring scan + driver greedy on 20 candidates).
    // Winnowing replayed selection-for-selection: same k=5 grams over
    // lower(trim(text)), same 60-bit md5-prefix hash, same rightmost-min
    // window rule (list_reduce keeps the later index on ties), same df<=
    // 50 hot-fingerprint cap, Jaccard >= 0.5 over fingerprint sets.
    QueryDef("dedup_winnow", qDedupWinnow,
      "WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents WHERE text IS NOT NULL), " +
        "g AS (SELECT doc_id, [('0x' || substr(md5(t[i:i+4]), 1, 15))::UBIGINT::BIGINT " +
        "FOR i IN range(1, greatest(len(t) - 3, 1))] AS h FROM d WHERE len(t) >= 5), " +
        "w AS (SELECT doc_id, h, least(4, len(h)) AS we FROM g), " +
        "f AS (SELECT doc_id, list_distinct([list_reduce(range(j, j + we), " +
        "(acc, p) -> CASE WHEN h[p] <= h[acc] THEN p ELSE acc END) " +
        "FOR j IN range(1, len(h) - we + 2)]) AS selpos, h FROM w), " +
        "fp AS (SELECT doc_id, unnest(list_distinct(list_transform(selpos, p -> h[p]))) AS fp FROM f), " +
        "keepfp AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 50), " +
        "fpk AS (SELECT doc_id, fp FROM fp JOIN keepfp USING (fp)), " +
        "shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared " +
        "FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "sz AS (SELECT doc_id, count(*) AS n_fp FROM fpk GROUP BY 1), " +
        "p AS (SELECT id_a, id_b, n_shared, " +
        "n_shared::DOUBLE / (sa.n_fp + sb.n_fp - n_shared) AS sim " +
        "FROM shared JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b) " +
        "SELECT count(*) AS n_pairs, coalesce(sum(id_a + id_b), 0)::BIGINT AS pair_id_sum, " +
        "coalesce(sum(n_shared), 0)::BIGINT AS shared_sum FROM p WHERE sim >= 0.5", Set(Scale)),
    // Scale: see dedup_winnow.
    // Both SNM passes (normalized key + reversed key), blocked on the
    // 4-char prefix, window 5, distinct pair union, Levenshtein verify.
    QueryDef("sorted_neighborhood", qSortedNeighborhood,
      "WITH u AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL " +
        "UNION ALL SELECT doc_id + 1000000000000, concat(substr(text, 1, 5), '#', substr(text, 7)) " +
        "FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL), " +
        "d AS (SELECT doc_id, lower(trim(text)) AS k1, reverse(lower(trim(text))) AS k2, text FROM u), " +
        "o1 AS (SELECT doc_id, text, substr(k1, 1, 4) AS blk, " +
        "row_number() OVER (PARTITION BY substr(k1, 1, 4) ORDER BY k1, doc_id) AS rn FROM d), " +
        "o2 AS (SELECT doc_id, text, substr(k2, 1, 4) AS blk, " +
        "row_number() OVER (PARTITION BY substr(k2, 1, 4) ORDER BY k2, doc_id) AS rn FROM d), " +
        "c1 AS (SELECT least(a.doc_id, b.doc_id) AS id_a, greatest(a.doc_id, b.doc_id) AS id_b " +
        "FROM o1 a JOIN o1 b ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 4), " +
        "c2 AS (SELECT least(a.doc_id, b.doc_id) AS id_a, greatest(a.doc_id, b.doc_id) AS id_b " +
        "FROM o2 a JOIN o2 b ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 4), " +
        "cand AS (SELECT DISTINCT id_a, id_b FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)), " +
        "m AS (SELECT id_a, id_b, levenshtein(da.text, db.text) AS dist FROM cand " +
        "JOIN d da ON da.doc_id = id_a JOIN d db ON db.doc_id = id_b) " +
        "SELECT count(*) AS n_candidates, " +
        "count(CASE WHEN dist <= 2 THEN 1 END)::BIGINT AS n_matches, " +
        "coalesce(sum(CASE WHEN dist <= 2 THEN id_a + id_b END), 0)::BIGINT AS pair_id_sum, " +
        "coalesce(sum(CASE WHEN dist <= 2 THEN dist END), 0)::BIGINT AS dist_sum FROM m", Set(Scale)),
    // Scale: round-12 batch 4: FS linkage (same SNM window layout, score in the
    // post-window projection), and the two in-row text kernels (fold + AC phrase
    // scan — both shuffle only per-doc aggregates; the scaled corpus's rotated
    // alphabets make phrase hits ~constant while the scan grows, which is
    // exactly the scan-bound claim under test).
    // Fellegi–Sunter replayed weight-for-weight: same planted duplicates,
    // same reversed-name SNM pass (blockLen 3, window 5), same integer
    // log-odds table, same decision bands. Agreement predicates are all
    // symmetric, so the a/b orientation difference (rn order here, id
    // order in Spark) cannot move a score.
    QueryDef("record_linkage", qRecordLinkage,
      "WITH c AS (SELECT c_custkey AS id, lower(c_name) AS nm, c_nationkey AS nat, " +
        "c_mktsegment AS seg, round(c_acctbal * 100)::BIGINT AS bal FROM customer " +
        "UNION ALL SELECT c_custkey + 10000000000000, " +
        "concat(substr(lower(c_name), 1, 8), '-', substr(lower(c_name), 10)), " +
        "c_nationkey, c_mktsegment, round(c_acctbal * 100)::BIGINT + 50 " +
        "FROM customer WHERE c_custkey % 10 = 0), " +
        "o AS (SELECT *, substr(reverse(nm), 1, 3) AS blk, " +
        "row_number() OVER (PARTITION BY substr(reverse(nm), 1, 3) " +
        "ORDER BY reverse(nm), id) AS rn FROM c), " +
        "s AS (SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b, " +
        "(CASE WHEN levenshtein(a.nm, b.nm) <= 2 THEN 24 ELSE -8 END) + " +
        "(CASE WHEN a.nat = b.nat THEN 6 ELSE -6 END) + " +
        "(CASE WHEN a.seg = b.seg THEN 4 ELSE -4 END) + " +
        "(CASE WHEN abs(a.bal - b.bal) <= 100 THEN 10 ELSE -10 END) AS score " +
        "FROM o a JOIN o b ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 4) " +
        "SELECT count(*) AS n_candidates, " +
        "count(CASE WHEN score >= 30 THEN 1 END)::BIGINT AS n_match, " +
        "count(CASE WHEN score >= 10 AND score < 30 THEN 1 END)::BIGINT AS n_possible, " +
        "coalesce(sum(CASE WHEN score >= 30 THEN id_a + id_b END), 0)::BIGINT AS match_id_sum, " +
        "coalesce(sum(CASE WHEN score >= 30 THEN score END), 0)::BIGINT AS match_score_sum FROM s", Set(Scale)),
    // Scale: see record_linkage.
    // The fold is utf8proc's strip_accents contract, so DuckDB replays it
    // natively; grouping on the folded text directly is equivalent to the
    // Spark side's md5-of-folded key.
    QueryDef("fold_accents", qFoldAccents,
      "WITH d AS (SELECT doc_id, lower(text) AS t FROM documents WHERE text IS NOT NULL " +
        "UNION ALL SELECT doc_id + 2000000000000, translate(lower(text), 'aeiou', 'àéîöú') " +
        "FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL), " +
        "f AS (SELECT doc_id, t, strip_accents(t) AS ff FROM d), " +
        "g AS (SELECT ff, count(*) AS n, sum(CASE WHEN ff <> t THEN 1 ELSE 0 END) AS nc, " +
        "sum(doc_id) AS ids FROM f GROUP BY ff) " +
        "SELECT sum(n)::BIGINT AS n_docs, sum(nc)::BIGINT AS n_changed, " +
        "count(*)::BIGINT AS n_groups, " +
        "count(CASE WHEN n >= 2 THEN 1 END)::BIGINT AS n_dup_groups, " +
        "coalesce(sum(CASE WHEN n >= 2 THEN ids END), 0)::BIGINT AS dup_id_sum FROM g", Set(Scale)),
    // Scale: see record_linkage.
    QueryDef("blocklist_phrases", qBlocklistPhrases,
      "WITH d AS (SELECT doc_id, list_filter(string_split_regex(" +
        "translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), " +
        "'[^a-z0-9]+'), x -> x <> '') AS tk FROM documents WHERE text IS NOT NULL), " +
        "h AS (SELECT doc_id, " +
        "len([i FOR i IN range(1, len(tk)) IF tk[i:i+1] = ['big','table']]) + " +
        "len([i FOR i IN range(1, len(tk)) IF tk[i:i+1] = ['table','table']]) + " +
        "len([i FOR i IN range(1, len(tk)) IF tk[i:i+1] = ['slow','query']]) + " +
        "len([i FOR i IN range(1, len(tk)) IF tk[i:i+1] = ['hash','join']]) + " +
        "len(list_filter(tk, x -> x = 'stream')) AS hits FROM d) " +
        "SELECT count(CASE WHEN hits > 0 THEN 1 END)::BIGINT AS n_docs_hit, " +
        "coalesce(sum(hits), 0)::BIGINT AS total_hits, " +
        "coalesce(sum(CASE WHEN hits > 0 THEN doc_id END), 0)::BIGINT AS hit_id_sum, " +
        "coalesce(max(hits), 0)::BIGINT AS max_hits FROM h", Set(Scale)),
    // Scale: round-12 batch 5: the sketches — CMS cells and HLL registers are
    // CONSTANT-size aggregates by construction, so their shuffle bytes must be
    // ~flat while the scan grows; the exact-side top-10/distinct in the same
    // queries is the linear term that dominates the bytes.
    // Count-Min replayed cell-for-cell: same md5 hex-slice columns (row r
    // uses hex[3r+1..3r+3] mod 1024), same min-over-rows estimate with
    // empty cells read as 0.
    QueryDef("cms_heavy_hitters", qCmsHeavyHitters,
      "WITH t AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), " +
        "x -> x <> '')) AS tok FROM documents WHERE text IS NOT NULL), " +
        "rr AS (SELECT unnest([0, 1, 2, 3]) AS r), " +
        "cells AS (SELECT r, ('0x' || substr(md5(tok), 1 + 3 * r, 3))::UBIGINT::BIGINT % 1024 AS c, " +
        "count(*) AS cnt FROM t, rr GROUP BY 1, 2), " +
        "top AS (SELECT tok, count(*)::BIGINT AS exact FROM t GROUP BY tok " +
        "ORDER BY exact DESC, tok LIMIT 10), " +
        "pc AS (SELECT tok, r, ('0x' || substr(md5(tok), 1 + 3 * r, 3))::UBIGINT::BIGINT % 1024 AS c " +
        "FROM top, rr), " +
        "est AS (SELECT tok, min(coalesce(cnt, 0))::BIGINT AS est FROM pc " +
        "LEFT JOIN cells USING (r, c) GROUP BY tok) " +
        "SELECT tok, exact, est, (est - exact)::BIGINT AS overcount " +
        "FROM est JOIN top USING (tok)", Set(Scale)),
    // Scale: see cms_heavy_hitters.
    // HLL registers replayed bucket-for-bucket: bucket = hex[1..3] mod
    // 1024, rho = 61 − len(bin(v)) over the 60-bit hex[4..18] slice (61
    // when v = 0), registers as max-aggregates; exact distinct over the
    // same md5 fingerprints.
    QueryDef("hll_distinct", qHllDistinct,
      "WITH d AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'), " +
        "x -> x <> '') AS toks FROM documents WHERE text IS NOT NULL), " +
        "g AS (SELECT unnest(list_transform(range(1, len(toks) - 5 + 2), " +
        "i -> array_to_string(toks[i:i+4], ' '))) AS gram FROM d WHERE len(toks) >= 5), " +
        "h AS (SELECT ('0x' || substr(md5(gram), 1, 3))::UBIGINT::BIGINT % 1024 AS bucket, " +
        "('0x' || substr(md5(gram), 4, 15))::UBIGINT::BIGINT AS v, md5(gram) AS fp FROM g), " +
        "regs AS (SELECT bucket, max(CASE WHEN v = 0 THEN 61 ELSE 61 - len(bin(v)) END) AS rho " +
        "FROM h GROUP BY bucket) " +
        "SELECT 1024::BIGINT AS m, (SELECT count(*) FROM regs)::BIGINT AS n_filled, " +
        "(SELECT coalesce(sum(rho), 0) FROM regs)::BIGINT AS sum_rho, " +
        "(SELECT coalesce(max(rho), 0) FROM regs)::BIGINT AS max_rho, " +
        "(SELECT count(DISTINCT fp) FROM h)::BIGINT AS exact_distinct", Set(Scale)),
    // Scale: see cc_chain_star.
    // Register table alone, replayed bucket-for-bucket with a
    // position-weighted checksum — the production HLL shape (no exact
    // comparator term).
    QueryDef("hll_registers_only", qHllRegistersOnly,
      "WITH d AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'), " +
        "x -> x <> '') AS toks FROM documents WHERE text IS NOT NULL), " +
        "g AS (SELECT unnest(list_transform(range(1, len(toks) - 5 + 2), " +
        "i -> array_to_string(toks[i:i+4], ' '))) AS gram FROM d WHERE len(toks) >= 5), " +
        "h AS (SELECT ('0x' || substr(md5(gram), 1, 3))::UBIGINT::BIGINT % 1024 AS bucket, " +
        "('0x' || substr(md5(gram), 4, 15))::UBIGINT::BIGINT AS v FROM g), " +
        "regs AS (SELECT bucket, max(CASE WHEN v = 0 THEN 61 ELSE 61 - len(bin(v)) END) AS rho " +
        "FROM h GROUP BY bucket) " +
        "SELECT 1024::BIGINT AS m, count(*)::BIGINT AS n_filled, " +
        "coalesce(sum(rho), 0)::BIGINT AS sum_rho, " +
        "coalesce(max(rho), 0)::BIGINT AS max_rho, " +
        "coalesce(sum((bucket + 1) * rho), 0)::BIGINT AS reg_checksum FROM regs", Set(Scale)),
    // Scale: see cc_chain_star.
    // the batch cell table must land on exactly the same 4096-cell state
    // as the streamed one — same oracle, different plan under test
    QueryDef("cms_cells_only", qCmsCellsOnly, streamCmsOracleSql, Set(Scale)),
    // Scale: see cc_chain_star.
    QueryDef("quantile_bottomk", qQuantileBottomk, quantileBottomkOracleSql, Set(Scale)),
    // Scale: see cc_chain_star.
    // Merge theorem as assertion: the oracle recomputes the WHOLE-corpus
    // sketch and pins n_mismatch to 0 — a merged sketch diverging from the
    // single pass in any (prio, v) row fails the compare.
    QueryDef("quantile_bottomk_merge", qQuantileBottomkMerge,
      "WITH src AS (SELECT doc_id, length(text)::BIGINT AS len FROM documents " +
        "WHERE text IS NOT NULL AND doc_id IS NOT NULL), " +
        "sk AS (SELECT ('0x' || substr(md5(doc_id::VARCHAR || ':' || len::VARCHAR), 1, 15))" +
        "::UBIGINT::BIGINT AS prio, len AS v FROM src ORDER BY prio, v LIMIT 1024) " +
        "SELECT count(*)::BIGINT AS sketch_rows, 0::BIGINT AS n_mismatch, " +
        "coalesce(sum(prio % 1000003), 0)::BIGINT AS prio_checksum, " +
        "coalesce(sum(v), 0)::BIGINT AS v_sum FROM sk", Set(Scale)),
    // Scale: true KLL: the sketch aggregate's state is O(cap·levels) items, so
    // its shuffle term is constant-class; the corpus-linear term in these
    // queries is the exact-rank comparator (the contract's ground truth, same
    // role as hll_distinct's exact side).
    // KLL state is randomized and merge-order-dependent — no other engine
    // can replay it, so the oracle pins the CONTRACT the query verified
    // in-engine: exact total-weight conservation and the rank bound per
    // quantile (the vocab_cms pattern for engine-private sketch state)
    QueryDef("quantile_kll", qQuantileKll,
      "SELECT unnest([2500, 5000, 7500, 9900])::BIGINT AS q_x1e4, " +
        "(SELECT count(*) FROM documents WHERE text IS NOT NULL)::BIGINT AS n, " +
        "1::BIGINT AS weight_exact, 1::BIGINT AS within_bound ORDER BY q_x1e4", Set(Scale)),
    // Scale: see quantile_kll.
    QueryDef("quantile_kll_merge", qQuantileKllMerge,
      "SELECT (SELECT count(*) FROM documents WHERE text IS NOT NULL)::BIGINT AS n, " +
        "1::BIGINT AS weight_exact, 4::BIGINT AS n_q, 4::BIGINT AS n_within", Set(Scale)),
    // Scale: see cc_chain_star.
    // Per-group bottom-k quantiles replayed group-for-group.
    QueryDef("group_percentiles_portable", qGroupPercentilesPortable,
      "WITH src AS (SELECT lang, doc_id, length(text)::BIGINT AS v FROM documents " +
        "WHERE text IS NOT NULL AND doc_id IS NOT NULL AND lang IS NOT NULL), " +
        "pr AS (SELECT lang, v, ('0x' || substr(md5(doc_id::VARCHAR || ':' || v::VARCHAR), 1, 15))" +
        "::UBIGINT::BIGINT AS prio FROM src), " +
        "sm AS (SELECT lang, v, prio, " +
        "row_number() OVER (PARTITION BY lang ORDER BY prio, v) AS pn, " +
        "count(*) OVER (PARTITION BY lang) AS n FROM pr), " +
        "samp AS (SELECT lang, v, prio, n, least(n, 1024) AS s, " +
        "row_number() OVER (PARTITION BY lang ORDER BY v, prio) AS rn " +
        "FROM sm WHERE pn <= 1024), " +
        "qq AS (SELECT unnest([2500, 5000, 7500])::BIGINT AS q_x1e4) " +
        "SELECT lang, n::BIGINT AS n, q_x1e4, v AS est_v FROM qq JOIN samp " +
        "ON rn = greatest(1, (q_x1e4 * s + 9999) // 10000) ORDER BY lang, q_x1e4", Set(Scale)),
    // Scale: round-14: the per-group register sketch (shuffle must be
    // Θ(groups·m) — ~flat here, groups fixed at the 5 languages — while the
    // _distinct sibling carries the corpus-linear exact comparator); per-group
    // KLL (constant-class aggregate state per group + the exact per-group rank
    // comparator as the linear term); the sketch STORE cycle (three sketch
    // builds + three constant-size store round-trips + whole-corpus
    // comparators); the deflate-ratio scan (narrow per-partition codec pass —
    // scan-bound by construction); the widened Gopher repetition profile (9×
    // gram explode, all keyed aggs — the bytes ratio is the explicit price of
    // the full char-fraction set); and the validate on/off CC pair (the delta is
    // the measured cost of the three post-convergence checks, r13 ask #5).
    QueryDef("hll_group_distinct", qHllGroupDistinct,
      hllGroupCte(256) +
        ", x AS (SELECT lang, count(DISTINCT fp)::BIGINT AS exact_distinct FROM h GROUP BY lang) " +
        "SELECT s.lang, n_filled, sum_rho, max_rho, reg_checksum, exact_distinct " +
        "FROM s JOIN x USING (lang) ORDER BY lang", Set(Scale)),
    // Scale: see hll_group_distinct.
    QueryDef("hll_group_registers_only", qHllGroupRegistersOnly,
      hllGroupCte(256) +
        "SELECT lang, n_filled, sum_rho, max_rho, reg_checksum FROM s ORDER BY lang", Set(Scale)),
    // Scale: see stream_hll.
    // Per-group Count-Min replayed cell-for-cell with the language riding
    // the cell key; per-group top-3 exact counts as ground truth, same
    // min-over-rows estimate with empty cells read as 0 WITHIN the
    // group.
    QueryDef("cms_group_topk", qCmsGroupTopk,
      "WITH t AS (SELECT lang, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), " +
        "x -> x <> '')) AS tok FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL), " +
        "rr AS (SELECT unnest([0, 1, 2, 3]) AS r), " +
        "cells AS (SELECT lang, r, ('0x' || substr(md5(tok), 1 + 3 * r, 3))::UBIGINT::BIGINT % 1024 AS c, " +
        "count(*) AS cnt FROM t, rr GROUP BY 1, 2, 3), " +
        "top AS (SELECT lang, tok, exact FROM (SELECT lang, tok, count(*)::BIGINT AS exact, " +
        "row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok) AS rk " +
        "FROM t GROUP BY lang, tok) WHERE rk <= 3), " +
        "pc AS (SELECT lang, tok, r, ('0x' || substr(md5(tok), 1 + 3 * r, 3))::UBIGINT::BIGINT % 1024 AS c " +
        "FROM top, rr), " +
        "est AS (SELECT lang, tok, min(coalesce(cnt, 0))::BIGINT AS est FROM pc " +
        "LEFT JOIN cells USING (lang, r, c) GROUP BY lang, tok) " +
        "SELECT lang, tok, exact, est, (est - exact)::BIGINT AS overcount " +
        "FROM est JOIN top USING (lang, tok) ORDER BY lang, tok", Set(Scale)),
    // Scale: see stream_hll.
    // HLL set algebra replayed: per-half register tables (m = 4096)
    // checksum-for-checksum, the union registers from the combined token
    // stream (== the per-bucket max merge, by the max law the Spark side
    // asserts as merge_mismatch = 0), the exact fingerprint intersection
    // as ground truth, and the inclusion–exclusion bound pinned at 1.
    QueryDef("hll_intersection", qHllIntersection,
      "WITH d AS (SELECT substr(source, 4)::INT AS src_n, text FROM documents " +
        "WHERE text IS NOT NULL AND source IS NOT NULL), " +
        "ta AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), " +
        "x -> x <> '')) AS tok FROM d WHERE src_n < 10), " +
        "tb AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), " +
        "x -> x <> '')) AS tok FROM d WHERE src_n >= 10), " +
        "ha AS (SELECT ('0x' || substr(md5(tok), 1, 3))::UBIGINT::BIGINT % 4096 AS bucket, " +
        "('0x' || substr(md5(tok), 4, 15))::UBIGINT::BIGINT AS v, md5(tok) AS fp FROM ta), " +
        "hb AS (SELECT ('0x' || substr(md5(tok), 1, 3))::UBIGINT::BIGINT % 4096 AS bucket, " +
        "('0x' || substr(md5(tok), 4, 15))::UBIGINT::BIGINT AS v, md5(tok) AS fp FROM tb), " +
        "ra AS (SELECT bucket, max(CASE WHEN v = 0 THEN 61 ELSE 61 - len(bin(v)) END) AS rho " +
        "FROM ha GROUP BY bucket), " +
        "rb AS (SELECT bucket, max(CASE WHEN v = 0 THEN 61 ELSE 61 - len(bin(v)) END) AS rho " +
        "FROM hb GROUP BY bucket), " +
        "ru AS (SELECT bucket, max(rho) AS rho FROM " +
        "(SELECT bucket, rho FROM ra UNION ALL SELECT bucket, rho FROM rb) GROUP BY bucket), " +
        "ix AS (SELECT count(*)::BIGINT AS exact FROM " +
        "(SELECT DISTINCT fp FROM ha) a JOIN (SELECT DISTINCT fp FROM hb) b USING (fp)) " +
        "SELECT 4096::BIGINT AS m, " +
        "(SELECT count(*) FROM ra)::BIGINT AS a_filled, " +
        "(SELECT count(*) FROM rb)::BIGINT AS b_filled, " +
        "(SELECT count(*) FROM ru)::BIGINT AS u_filled, " +
        "(SELECT coalesce(sum((bucket + 1) * rho), 0) FROM ra)::BIGINT AS a_checksum, " +
        "(SELECT coalesce(sum((bucket + 1) * rho), 0) FROM rb)::BIGINT AS b_checksum, " +
        "(SELECT coalesce(sum((bucket + 1) * rho), 0) FROM ru)::BIGINT AS u_checksum, " +
        "0::BIGINT AS merge_mismatch, " +
        "(SELECT exact FROM ix)::BIGINT AS exact_intersection, " +
        "1::BIGINT AS within_bound", Set(Scale)),
    // Scale: see hll_group_distinct.
    // per-group KLL: same contract oracle per (lang, quantile) — the
    // rank-interval bound was verified in-engine against exact per-group
    // ranks; weight conservation throws in stateOf on any drift
    QueryDef("group_quantile_kll", qGroupQuantileKll,
      "WITH g AS (SELECT lang, count(*)::BIGINT AS n FROM documents " +
        "WHERE text IS NOT NULL AND lang IS NOT NULL GROUP BY lang), " +
        "q AS (SELECT unnest([2500, 5000, 7500])::BIGINT AS q_x1e4) " +
        "SELECT lang, n, q_x1e4, 1::BIGINT AS within_bound FROM g, q " +
        "ORDER BY lang, q_x1e4", Set(Scale)),
    // Scale: see hll_group_distinct.
    // Deflate ratios: DuckDB has no zlib, so the planted documents' exact
    // ratios are Scala-computed literals (the rankingEval pattern), and the
    // corpus carries the always-true bound invariant (n_in_bounds must
    // equal n_nonempty — every non-empty doc compresses to a positive size,
    // and raw deflate's stored-block overhead caps the ratio well under
    // 1.10x once orig_bytes ≥ 100).
    QueryDef("text_compress_ratio", qTextCompressRatio, {
      def ratioOf(s: String): Long = {
        val n = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
        graft.operators.TextAnalysis.deflatedBytes(s) * 10000L / n
      }
      val Seq(c, p, rnd) = compressPlants.map { case (_, s) => ratioOf(s) }
      "SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs, " +
        "(SELECT count(*) FROM documents WHERE text IS NOT NULL AND length(text) > 0)" +
        "::BIGINT AS n_nonempty, " +
        "(SELECT count(*) FROM documents WHERE text IS NOT NULL AND length(text) > 0)" +
        "::BIGINT AS n_in_bounds, " +
        s"$c::BIGINT AS const_ratio_x1e4, $p::BIGINT AS phrase_ratio_x1e4, " +
        s"$rnd::BIGINT AS rand_ratio_x1e4"
    }, Set(Scale)),
    // Scale: see embed_pairs_lsh.
    QueryDef("ann_topk", qAnnTopk,
      "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id, row_number() OVER (ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id) AS rank " +
        "FROM embeddings, q WHERE vec_id <> 0 " +
        "ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id LIMIT 10", Set(Scale)),
    // Scale: see embed_pairs_lsh.
    QueryDef("ann_ivf_topk", qAnnIvfTopk,
      "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) " +
        "SELECT vec_id, row_number() OVER (ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id) AS rank " +
        "FROM embeddings, q WHERE vec_id <> 0 " +
        "ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id LIMIT 10", Set(Scale)),
    // Not Scale-tagged: see knn_clusters.
    // The full-probe kNN graph replayed by brute force on the shared ppm
    // grid: every ordered pair's cosine (double-cast lists, the
    // `decontaminate_semantic` discipline), rank = row_number per vector
    // by (cos_ppm DESC, nbr ASC).
    QueryDef("knn_graph", qKnnGraph,
      "WITH p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, " +
        "round(list_cosine_similarity(list_transform(a.embedding, x -> x::DOUBLE), " +
        "list_transform(b.embedding, x -> x::DOUBLE)) * 1000000)::BIGINT AS cos_ppm " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id), " +
        "r AS (SELECT vec_id, nbr_id, cos_ppm, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cos_ppm DESC, nbr_id) AS rank FROM p) " +
        "SELECT vec_id, rank::BIGINT AS rank, nbr_id, cos_ppm FROM r WHERE rank <= 3 " +
        "ORDER BY vec_id, rank"),
    // Pruned probing is quantizer-dependent (engine hashing picks the
    // coarse centroids), so the oracle pins the structural contract —
    // complete bounded graph, no self edges — and the recall bound the
    // Spark side computes honestly against its own exact join.
    QueryDef("knn_graph_pruned", qKnnGraphPruned,
      "SELECT count(*)::BIGINT AS n_vectors, 3::BIGINT AS k, " +
        "(count(*) * 3)::BIGINT AS n_edges, count(*)::BIGINT AS n_served, " +
        "0::BIGINT AS n_self_edges, 1::BIGINT AS recall_ok FROM embeddings"),
    // Scale: round-14 batch 3: the indexed kNN probe (the fixed 50-vector batch
    // against a growing stored index — cost is batch × bucket, corpus never
    // rescanned), the incremental gram store (2145-long states through the sink
    // — constant-class), and whitening (one moment pass + a narrow literal-basis
    // projection — the pca_project shape twice).
    QueryDef("knn_incremental", qKnnIncremental, knnIncrementalOracleSql, Set(Scale)),
    // Not Scale-tagged, like knn_graph: their exact full-probe
    // configuration is the ORACLE'S setting (every pair considered —
    // quadratic by design, like embed_pairs_exact); the production path is
    // knn_graph_only's pruned adaptive-nLists shape, which ScaleCheck
    // measures.
    // The mutual-kNN clustering replayed end to end: brute-force kNN on
    // the ppm grid, mutual filter, transitive closure by recursive CTE,
    // min-label components.
    QueryDef("knn_clusters", qKnnClusters,
      "WITH RECURSIVE p AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, " +
        "round(list_cosine_similarity(list_transform(a.embedding, x -> x::DOUBLE), " +
        "list_transform(b.embedding, x -> x::DOUBLE)) * 1000000)::BIGINT AS cos_ppm " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id), " +
        "r AS (SELECT vec_id, nbr_id, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cos_ppm DESC, nbr_id) AS rank FROM p), " +
        "knn AS (SELECT vec_id, nbr_id FROM r WHERE rank <= 3), " +
        "mu AS (SELECT a.vec_id AS ida, a.nbr_id AS idb FROM knn a " +
        "JOIN knn b ON a.vec_id = b.nbr_id AND a.nbr_id = b.vec_id WHERE a.vec_id < a.nbr_id), " +
        "e AS (SELECT ida AS s, idb AS d FROM mu UNION ALL SELECT idb AS s, ida AS d FROM mu), " +
        "nodes AS (SELECT DISTINCT s AS id FROM e), " +
        "walk AS (SELECT id, id AS reach FROM nodes " +
        "UNION SELECT w.id, e.d AS reach FROM walk w JOIN e ON e.s = w.reach), " +
        "comp AS (SELECT id, min(reach) AS component FROM walk GROUP BY id) " +
        "SELECT count(*)::BIGINT AS n_nodes, count(DISTINCT component)::BIGINT AS n_clusters, " +
        "coalesce(sum(component % 1000003), 0)::BIGINT AS comp_checksum, " +
        "coalesce(sum(id), 0)::BIGINT AS node_id_sum FROM comp"),
    // Scale: the kNN production twin: nLists scales with the corpus (buckets
    // pinned ~512 vectors), so per-bucket pair work is flat and the probe
    // shuffle is rows × nProbe — the measured proof of the "nLists must grow"
    // lever documented on knnJoin.
    // Structural contract with the completeness bar computed honestly
    // in-query from the candidate supply (advisor r14): the oracle pins
    // the booleans, not an assumed k·n edge count.
    QueryDef("knn_graph_only", qKnnGraphOnly,
      "SELECT count(*)::BIGINT AS n_vectors, 1::BIGINT AS served_ok, " +
        "1::BIGINT AS edges_ok, 0::BIGINT AS n_self_edges, " +
        "1::BIGINT AS rank_ok FROM embeddings", Set(Scale)),
    // planted top-10: all ten near-copies of the query must surface
    QueryDef("ann_lsh_topk", qAnnLshTopk,
      "SELECT 10::BIGINT AS n, 10::BIGINT AS n_planted_found, 10::BIGINT AS n_high_cosine"),
    QueryDef("text_profile", qTextProfile,
      "WITH t AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS toks, " +
        "length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS np, " +
        "length(regexp_replace(text, '[0-9]', '', 'g')) AS nd FROM documents), " +
        "s AS (SELECT doc_id, text, toks, " +
        "floor((length(text) - np)::DOUBLE / greatest(length(text), 1) * 10000)::BIGINT AS punct_ratio_x1e4, " +
        "floor((length(text) - nd)::DOUBLE / greatest(length(text), 1) * 10000)::BIGINT AS digit_ratio_x1e4, " +
        "floor(length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE / greatest(length(text), 1) * 10000)::BIGINT AS upper_ratio_x1e4, " +
        "len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','with'))) AS s_en, " +
        "len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit'))) AS s_de, " +
        "len(list_filter(toks, x -> x IN ('le','la','les','et','est','dans','une','pour'))) AS s_fr, " +
        "len(list_filter(toks, x -> x IN ('el','los','las','es','en','una','por','para'))) AS s_es, " +
        "length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS s_zh FROM t) " +
        "SELECT doc_id, length(text)::BIGINT AS n_chars, len(toks)::BIGINT AS n_tokens, " +
        "list_sum(list_transform(toks, x -> ceil(length(x) / 4.0)))::BIGINT AS n_subwords, " +
        "punct_ratio_x1e4, digit_ratio_x1e4, upper_ratio_x1e4, " +
        "floor(least(length(text), 500) / 5.0 * 0.4 " +
        "  + (CASE WHEN length(text)::DOUBLE / greatest(len(toks), 1) BETWEEN 3 AND 12 THEN 100.0 ELSE 30.0 END) * 0.4 " +
        "  - (punct_ratio_x1e4 / 100.0) * 0.1 - (digit_ratio_x1e4 / 100.0) * 0.1)::BIGINT AS quality, " +
        "CASE WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en' " +
        "WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de' " +
        "WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr' " +
        "WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS lang_pred " +
        "FROM s ORDER BY doc_id"),
    QueryDef("histogram_stats", qHistogramStats,
      "SELECT least(floor(l_extendedprice / 10000), 10)::BIGINT AS bucket, " +
        "count(*) AS n, sum(round(l_extendedprice * 100, 0))::BIGINT AS cent_sum " +
        "FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1 ORDER BY 1"),
    // identical integer sufficient statistics + closed-form double combine
    QueryDef("corr_stats", qCorrStats,
      "WITH g AS (SELECT round(l_quantity, 0)::BIGINT AS x, round(l_discount * 100, 0)::BIGINT AS y " +
        "FROM lineitem WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL), " +
        "s AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, " +
        "sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy, sum(x * y)::BIGINT AS sxy FROM g) " +
        "SELECT n, sx, sy, sxx, syy, sxy, " +
        "floor((n * sxy - sx * sy)::DOUBLE / " +
        "(sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE)) * 1e9)::BIGINT AS corr_x1e9 FROM s"),
    // exact recovery of the 8 planted orthogonal clusters (240 vectors)
    QueryDef("kmeans_cluster", qKmeansCluster,
      "SELECT 240::BIGINT AS n_vectors, 8::BIGINT AS n_lists_used, " +
        "240::BIGINT AS n_majority, 10000::BIGINT AS purity_x1e4"),
    // exact-path numbers; the bloom path must agree exactly (n_mismatch=0)
    QueryDef("decontaminate_bloom", qDecontaminateBloom,
      "WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 8 + 2), i -> array_to_string(toks[i:i+7], ' '))) AS gram " +
        "FROM t WHERE len(toks) >= 8), " +
        "bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0), " +
        "cont AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)) " +
        "SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs, " +
        "(SELECT count(*) FROM cont)::BIGINT AS n_contaminated, " +
        "(SELECT coalesce(sum(doc_id), 0) FROM cont)::BIGINT AS cont_id_sum, " +
        "0::BIGINT AS n_mismatch", Set(Scale)),
    // same integer day-bucketing, max-per-bucket, forward fill, cent grid
    QueryDef("gapfill_resample", qGapfillResample,
      "WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS b, value FROM events), " +
        "agg AS (SELECT user_id, b, max(value) AS v FROM e GROUP BY 1, 2), " +
        "rng AS (SELECT user_id, min(b) AS lo, max(b) AS hi FROM agg GROUP BY 1), " +
        "spine AS (SELECT user_id, unnest(range(lo, hi + 1)) AS b FROM rng), " +
        "j AS (SELECT s.user_id, s.b, a.v FROM spine s LEFT JOIN agg a ON s.user_id = a.user_id AND s.b = a.b), " +
        "f AS (SELECT user_id, b, v, last_value(v IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv FROM j) " +
        "SELECT count(DISTINCT user_id) AS n_keys, count(*) AS n_buckets, " +
        "count(CASE WHEN v IS NULL THEN 1 END) AS n_gaps, " +
        "sum(round(fv * 100, 0))::BIGINT AS filled_checksum, " +
        "sum(round(v * 100, 0))::BIGINT AS observed_checksum FROM f"),
    // identical BM25 arithmetic, term-filtered postings, floor(x*1e4) grid
    QueryDef("bm25_topk", qBm25Topk,
      "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents), " +
        "dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM toks), " +
        "st AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dl), " +
        "p AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM " +
        "(SELECT doc_id, unnest(t) AS tok FROM toks) " +
        "WHERE tok IN ('hash', 'join', 'window', 'stream') GROUP BY doc_id, tok), " +
        "f AS (SELECT tok, count(*)::DOUBLE AS df FROM p GROUP BY tok), " +
        "sc AS (SELECT p.doc_id, d.dl, floor(sum(" +
        "ln(1.0 + (st.n - f.df + 0.5) / (f.df + 0.5)) * p.tf::DOUBLE * (1.2 + 1.0) / " +
        "(p.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * d.dl::DOUBLE / st.avgdl))" +
        ") * 10000 + 0.000001)::BIGINT AS score_x1e4 " +
        "FROM p JOIN f USING (tok) JOIN dl d USING (doc_id) CROSS JOIN st GROUP BY p.doc_id, d.dl) " +
        "SELECT doc_id, dl, score_x1e4 FROM sc ORDER BY score_x1e4 DESC, doc_id LIMIT 10", Set(Scale)),
    // Scale: round-15 batch 4: the inverted-index store (build = the one posting
    // shuffle, probe = partition-pruned bucket reads whose bytes track
    // query-term postings, not the corpus; the incremental query additionally
    // carries the full-rebuild comparator — corpus-linear by definition of the
    // audit); NB classification (training is one bounded labels×buckets
    // aggregate, scoring shuffles ≤ min(tokens, buckets) rows per doc — both
    // linear-class); warm-start PageRank (28 fixed rounds over three generated
    // graphs — per-round cost is the linear term, round count flat by
    // construction); the image dHash REPORT — image_phash_dedup's pair list is
    // the oracle-priced ground truth and its OUTPUT is Θ(Σ group²) (measured
    // 115× bytes at 10×: scaled copies replant the same 385 texture classes, so
    // duplicate groups fatten 10× and pairs grow ~100× — the quadratic lives in
    // the duplicate mass of the data, like any pair report over g-sized
    // duplicate groups); the production twin groups by hash — one hash-keyed
    // aggregate, output linear in distinct hashes. audio_fingerprint_dedup
    // shares image_phash_dedup's exact shape (same plants, same join) and is not
    // re-measured; stream_nb_classify is in-row scoring already measured via
    // nb_classify plus the memory-sink harness stream_segment's note excludes.
    // the store is invisible to the result by construction: identical
    // BM25 replay as bm25_topk (same query, same grid)
    QueryDef("bm25_store_probe", qBm25StoreProbe,
      "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents WHERE text IS NOT NULL), " +
        "dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM toks), " +
        "st AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dl), " +
        "p AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM " +
        "(SELECT doc_id, unnest(t) AS tok FROM toks) " +
        "WHERE tok IN ('hash', 'join', 'window', 'stream') GROUP BY doc_id, tok), " +
        "f AS (SELECT tok, count(*)::DOUBLE AS df FROM p GROUP BY tok), " +
        "sc AS (SELECT p.doc_id, d.dl, floor(sum(" +
        "ln(1.0 + (st.n - f.df + 0.5) / (f.df + 0.5)) * p.tf::DOUBLE * (1.2 + 1.0) / " +
        "(p.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * d.dl::DOUBLE / st.avgdl))" +
        ") * 10000 + 0.000001)::BIGINT AS score_x1e4 " +
        "FROM p JOIN f USING (tok) JOIN dl d USING (doc_id) CROSS JOIN st GROUP BY p.doc_id, d.dl) " +
        "SELECT doc_id, dl, score_x1e4 FROM sc ORDER BY score_x1e4 DESC, doc_id LIMIT 10", Set(Scale)),
    // Scale: see bm25_store_probe.
    // merge == rebuild: postings are per-document pure, stats add exactly,
    // so the oracle replays everything from the corpus alone — the audit
    // counts are zero-by-construction and the top-k is the direct BM25
    QueryDef("bm25_incremental", qBm25Incremental,
      "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents WHERE text IS NOT NULL), " +
        "dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM toks), " +
        "allp AS (SELECT doc_id, unnest(t) AS tok FROM toks), " +
        "pr AS (SELECT count(*)::BIGINT AS postings_rows FROM (SELECT tok, doc_id FROM allp GROUP BY tok, doc_id)), " +
        "cs AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl), " +
        "st AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dl), " +
        "p AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM allp " +
        "WHERE tok IN ('hash', 'join', 'window', 'stream') GROUP BY doc_id, tok), " +
        "f AS (SELECT tok, count(*)::DOUBLE AS df FROM p GROUP BY tok), " +
        "sc AS (SELECT p.doc_id, d.dl, floor(sum(" +
        "ln(1.0 + (st.n - f.df + 0.5) / (f.df + 0.5)) * p.tf::DOUBLE * (1.2 + 1.0) / " +
        "(p.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * d.dl::DOUBLE / st.avgdl))" +
        ") * 10000 + 0.000001)::BIGINT AS score_x1e4 " +
        "FROM p JOIN f USING (tok) JOIN dl d USING (doc_id) CROSS JOIN st GROUP BY p.doc_id, d.dl), " +
        "tk AS (SELECT doc_id, score_x1e4 FROM sc ORDER BY score_x1e4 DESC, doc_id LIMIT 10), " +
        "t1 AS (SELECT doc_id AS top1_doc, score_x1e4 AS top1_score FROM tk ORDER BY score_x1e4 DESC, doc_id LIMIT 1) " +
        "SELECT pr.postings_rows, 0::BIGINT AS postings_mismatch, cs.n_docs, cs.sum_dl, " +
        "(SELECT count(*) FROM tk)::BIGINT AS topk_rows, 0::BIGINT AS topk_mismatch, " +
        "t1.top1_doc, t1.top1_score FROM pr, cs, t1", Set(Scale)),
    // full NB replay: identical md5-slice buckets, Laplace-smoothed ln
    // likelihoods, x1e4-floored scores, argmax with label tie-break
    QueryDef("nb_classify", qNbClassify, nbClassifyOracleSql),
    // Scale: see bm25_store_probe.
    // in-row production twin: same predictions by the spec'd law
    QueryDef("nb_classify_inrow", qNbClassifyInRow, nbClassifyOracleSql, Set(Scale)),
    // the stream and the in-row literal-model scorer must not change one
    // prediction: nb_classify's oracle verbatim
    QueryDef("stream_nb_classify", qStreamNbClassify, nbClassifyOracleSql),
    // Scale: see kcore_peel.
    // BM25 top-20 and cosine top-20 replayed, fused by the same integer
    // 1e12 div (rank + 60) contributions
    QueryDef("hybrid_rrf", qHybridRrf,
      "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents), " +
        "dl AS (SELECT doc_id, len(t)::BIGINT AS dl FROM toks), " +
        "st AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dl), " +
        "p AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM " +
        "(SELECT doc_id, unnest(t) AS tok FROM toks) " +
        "WHERE tok IN ('hash', 'join', 'window', 'stream') GROUP BY doc_id, tok), " +
        "f AS (SELECT tok, count(*)::DOUBLE AS df FROM p GROUP BY tok), " +
        "sc AS (SELECT p.doc_id, floor(sum(" +
        "ln(1.0 + (st.n - f.df + 0.5) / (f.df + 0.5)) * p.tf::DOUBLE * (1.2 + 1.0) / " +
        "(p.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * d.dl::DOUBLE / st.avgdl))" +
        ") * 10000 + 0.000001)::BIGINT AS score_x1e4 " +
        "FROM p JOIN f USING (tok) JOIN dl d USING (doc_id) CROSS JOIN st GROUP BY p.doc_id, d.dl), " +
        "lex AS (SELECT doc_id AS id, row_number() OVER (ORDER BY score_x1e4 DESC, doc_id) AS rank " +
        "FROM sc ORDER BY score_x1e4 DESC, doc_id LIMIT 20), " +
        "qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "sem AS (SELECT vec_id AS id, row_number() OVER (ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id) AS rank " +
        "FROM embeddings, qv WHERE vec_id <> 0 " +
        "ORDER BY list_cosine_similarity(embedding, qe) DESC, vec_id LIMIT 20), " +
        "u AS (SELECT id, 1000000000000 // (rank + 60) AS contrib FROM lex " +
        "UNION ALL SELECT id, 1000000000000 // (rank + 60) FROM sem) " +
        "SELECT id::BIGINT AS id, sum(contrib)::BIGINT AS rrf_x1e12, count(*)::BIGINT AS n_rankings " +
        "FROM u GROUP BY id ORDER BY rrf_x1e12 DESC, id LIMIT 10", Set(Scale)),
    // Scale: see stream_join_outer.
    // full default chain replayed, then the two opt-in fragment rules; the
    // planted email chains leave one domain fragment per %7 doc under the
    // default rules and ZERO under the extended pass
    QueryDef("redact_pii_extended", qRedactPiiExtended,
      "WITH base AS (SELECT doc_id, text " +
        "|| CASE WHEN doc_id % 7 = 0 THEN ' reach user' || doc_id || '@mail.example.com@leak.example.org' ELSE '' END AS t FROM documents), " +
        "r1 AS (SELECT doc_id, regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1 FROM base), " +
        "r2 AS (SELECT doc_id, regexp_replace(t1, '\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}', '[CCN]', 'g') AS t2 FROM r1), " +
        "r3 AS (SELECT doc_id, regexp_replace(t2, '\\d{3}-\\d{2}-\\d{4}', '[SSN]', 'g') AS t3 FROM r2), " +
        "r4 AS (SELECT doc_id, regexp_replace(t3, '\\(\\d{3}\\) \\d{3}-\\d{4}', '[PHONE]', 'g') AS t4 FROM r3), " +
        "r5 AS (SELECT doc_id, regexp_replace(t4, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g') AS t5 FROM r4), " +
        "r6 AS (SELECT doc_id, t5, regexp_replace(t5, '\\[EMAIL\\](@[A-Za-z0-9.-]+)+', '[EMAIL]', 'g') AS t6 FROM r5), " +
        "r7 AS (SELECT doc_id, t5, regexp_replace(t6, '([A-Za-z0-9._%+-]+@)+\\[EMAIL\\]', '[EMAIL]', 'g') AS t7 FROM r6) " +
        "SELECT count(*) AS n_docs, " +
        "sum(len(regexp_extract_all(t5, '\\[EMAIL\\]@[A-Za-z0-9.-]+')))::BIGINT AS n_frag_default, " +
        "sum(len(regexp_extract_all(t7, '\\[EMAIL\\]@[A-Za-z0-9.-]+')))::BIGINT AS n_frag_extended, " +
        "sum(len(t5) - len(t7))::BIGINT AS len_delta FROM r7", Set(Scale)),
    // same planted PII, same RE2-compatible patterns, same sequential
    // count-then-replace order as Redaction.redactionCount
    QueryDef("redact_pii", qRedactPii,
      "WITH base AS (SELECT doc_id, text " +
        "|| CASE WHEN doc_id % 7 = 0 THEN ' reach user' || doc_id || '@mail.example.com' ELSE '' END " +
        "|| CASE WHEN doc_id % 11 = 0 THEN ' ssn 987-65-4321' ELSE '' END " +
        "|| CASE WHEN doc_id % 13 = 0 THEN ' call (415) 555-0142' ELSE '' END " +
        "|| CASE WHEN doc_id % 17 = 0 THEN ' card 4111-1111-1111-1111' ELSE '' END " +
        "|| CASE WHEN doc_id % 19 = 0 THEN ' host 10.0.12.34' ELSE '' END AS t FROM documents), " +
        "r1 AS (SELECT doc_id, t, len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS c1, " +
        "regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1 FROM base), " +
        "r2 AS (SELECT *, len(regexp_extract_all(t1, '\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}')) AS c2, " +
        "regexp_replace(t1, '\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}', '[CCN]', 'g') AS t2 FROM r1), " +
        "r3 AS (SELECT *, len(regexp_extract_all(t2, '\\d{3}-\\d{2}-\\d{4}')) AS c3, " +
        "regexp_replace(t2, '\\d{3}-\\d{2}-\\d{4}', '[SSN]', 'g') AS t3 FROM r2), " +
        "r4 AS (SELECT *, len(regexp_extract_all(t3, '\\(\\d{3}\\) \\d{3}-\\d{4}')) AS c4, " +
        "regexp_replace(t3, '\\(\\d{3}\\) \\d{3}-\\d{4}', '[PHONE]', 'g') AS t4 FROM r3), " +
        "r5 AS (SELECT *, len(regexp_extract_all(t4, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS c5, " +
        "regexp_replace(t4, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g') AS t5 FROM r4) " +
        "SELECT count(*) AS n_docs, " +
        "sum(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')))::BIGINT AS n_email, " +
        "sum(len(regexp_extract_all(t, '\\d{3}-\\d{2}-\\d{4}')))::BIGINT AS n_ssn, " +
        "sum(len(regexp_extract_all(t, '\\(\\d{3}\\) \\d{3}-\\d{4}')))::BIGINT AS n_phone, " +
        "sum(c1 + c2 + c3 + c4 + c5)::BIGINT AS n_redactions, " +
        "0::BIGINT AS n_residue, " +
        "sum(len(t) - len(t5))::BIGINT AS len_delta FROM r5"),
    // Scale: see hll_group_distinct.
    // the full Gopher set (Rae et al. 2021 Table A1) replayed: same token
    // grid, top-gram char mass with the same ties-to-larger-mass rule,
    // dup-gram coverage via DISTINCT token positions (overlaps once),
    // integer // division throughout
    QueryDef("text_repetition", qTextRepetition,
      "WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks, " +
        "string_split(text, chr(10)) AS lines FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS b " +
        "FROM t WHERE len(toks) >= 2), " +
        "bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b), " +
        "bs AS (SELECT doc_id, max(c) AS top_n, sum(c) AS n_bg FROM bc GROUP BY doc_id), " +
        "tc AS (SELECT doc_id, coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::BIGINT AS tot FROM t), " +
        "nn AS (SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS nv), " +
        "gp0 AS (SELECT doc_id, nv, toks, unnest(range(1, len(toks) - nv + 2)) AS i " +
        "FROM t, nn WHERE len(toks) >= nv), " +
        "gp AS (SELECT doc_id, nv, i, array_to_string(toks[i:i+nv-1], ' ') AS g FROM gp0), " +
        "gc AS (SELECT doc_id, nv, g, count(*) AS c FROM gp GROUP BY 1, 2, 3), " +
        "mx AS (SELECT doc_id, nv, max(c) AS mc FROM gc WHERE nv <= 4 GROUP BY 1, 2), " +
        "tm AS (SELECT gc.doc_id, gc.nv, max((length(g) - (gc.nv - 1)) * c) AS mass " +
        "FROM gc JOIN mx ON gc.doc_id = mx.doc_id AND gc.nv = mx.nv AND gc.c = mx.mc GROUP BY 1, 2), " +
        "tmp AS (SELECT doc_id, " +
        "max(CASE WHEN nv = 2 THEN mass END) AS m2, max(CASE WHEN nv = 3 THEN mass END) AS m3, " +
        "max(CASE WHEN nv = 4 THEN mass END) AS m4 FROM tm GROUP BY doc_id), " +
        "dupg AS (SELECT doc_id, nv, g FROM gc WHERE nv >= 5 AND c > 1), " +
        "cov0 AS (SELECT gp.doc_id, gp.nv, unnest(range(gp.i, gp.i + gp.nv)) AS pos " +
        "FROM gp JOIN dupg ON gp.doc_id = dupg.doc_id AND gp.nv = dupg.nv AND gp.g = dupg.g), " +
        "cov AS (SELECT DISTINCT doc_id, nv, pos FROM cov0), " +
        "tp AS (SELECT doc_id, pos, length(toks[pos]) AS tlen FROM " +
        "(SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos FROM t)), " +
        "dm AS (SELECT cov.doc_id, cov.nv, sum(tp.tlen) AS mass FROM cov " +
        "JOIN tp ON cov.doc_id = tp.doc_id AND cov.pos = tp.pos GROUP BY 1, 2), " +
        "dmp AS (SELECT doc_id, " +
        "max(CASE WHEN nv = 5 THEN mass END) AS d5, max(CASE WHEN nv = 6 THEN mass END) AS d6, " +
        "max(CASE WHEN nv = 7 THEN mass END) AS d7, max(CASE WHEN nv = 8 THEN mass END) AS d8, " +
        "max(CASE WHEN nv = 9 THEN mass END) AS d9, max(CASE WHEN nv = 10 THEN mass END) AS d10 " +
        "FROM dm GROUP BY doc_id) " +
        "SELECT t.doc_id, len(lines)::BIGINT AS n_lines, " +
        "floor((len(lines) - len(list_distinct(lines)))::DOUBLE / greatest(len(lines), 1) * 10000)::BIGINT AS dup_line_frac_x1e4, " +
        "coalesce(n_bg, 0)::BIGINT AS n_bigrams, coalesce(top_n, 0)::BIGINT AS top_bigram_n, " +
        "floor(coalesce(top_n, 0)::DOUBLE / greatest(coalesce(n_bg, 0), 1) * 10000)::BIGINT AS top_bigram_frac_x1e4, " +
        "(coalesce(m2, 0) * 10000 // greatest(tot, 1))::BIGINT AS top2_char_frac_x1e4, " +
        "(coalesce(m3, 0) * 10000 // greatest(tot, 1))::BIGINT AS top3_char_frac_x1e4, " +
        "(coalesce(m4, 0) * 10000 // greatest(tot, 1))::BIGINT AS top4_char_frac_x1e4, " +
        "(coalesce(d5, 0) * 10000 // greatest(tot, 1))::BIGINT AS dup5_char_frac_x1e4, " +
        "(coalesce(d6, 0) * 10000 // greatest(tot, 1))::BIGINT AS dup6_char_frac_x1e4, " +
        "(coalesce(d7, 0) * 10000 // greatest(tot, 1))::BIGINT AS dup7_char_frac_x1e4, " +
        "(coalesce(d8, 0) * 10000 // greatest(tot, 1))::BIGINT AS dup8_char_frac_x1e4, " +
        "(coalesce(d9, 0) * 10000 // greatest(tot, 1))::BIGINT AS dup9_char_frac_x1e4, " +
        "(coalesce(d10, 0) * 10000 // greatest(tot, 1))::BIGINT AS dup10_char_frac_x1e4 " +
        "FROM t LEFT JOIN bs ON t.doc_id = bs.doc_id LEFT JOIN tc ON t.doc_id = tc.doc_id " +
        "LEFT JOIN tmp ON t.doc_id = tmp.doc_id LEFT JOIN dmp ON t.doc_id = dmp.doc_id " +
        "ORDER BY t.doc_id", Set(Scale)),
    // full-row recompute incl. the truncated string itself
    QueryDef("truncate_tokens", qTruncateTokens,
      "WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents WHERE text IS NOT NULL) " +
        "SELECT doc_id, len(toks)::BIGINT AS n_tokens, " +
        "least(len(toks), 40)::BIGINT AS n_kept, " +
        "array_to_string(toks[1:40], ' ') AS text_trunc FROM t ORDER BY doc_id"),
    // full per-doc decision recompute: same integer cross-multiplied rules
    // (no division, no floats), so the keep/reasons bits match bit-for-bit
    QueryDef("quality_filter", qQualityFilter,
      "WITH t AS (SELECT doc_id, text IS NULL AS is_null, string_split_regex(lower(trim(text)), '\\s+') AS toks, " +
        "string_split(text, chr(10)) AS lines FROM documents), " +
        "s AS (SELECT doc_id, is_null, len(toks)::BIGINT AS n, " +
        "list_sum(list_transform(toks, x -> length(x)))::BIGINT AS chars, " +
        "len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is')))::BIGINT AS stop, " +
        "len(lines)::BIGINT AS n_lines, " +
        "(len(lines) - len(list_distinct(lines)))::BIGINT AS dup_lines FROM t), " +
        "r AS (SELECT doc_id, CASE WHEN is_null THEN 0 ELSE n END AS n, " +
        "CASE WHEN is_null THEN 1 ELSE " +
        "(CASE WHEN n < 30 THEN 1 ELSE 0 END " +
        " + CASE WHEN chars*10 < n*30 OR chars*10 > n*100 THEN 2 ELSE 0 END " +
        " + CASE WHEN stop*1000 < n*20 THEN 4 ELSE 0 END " +
        " + CASE WHEN dup_lines*1000 > n_lines*300 THEN 8 ELSE 0 END) END::BIGINT AS reasons FROM s) " +
        "SELECT doc_id, n AS n_tokens, reasons, " +
        "(CASE WHEN reasons = 0 THEN 1 ELSE 0 END)::BIGINT AS keep FROM r ORDER BY doc_id"),
    QueryDef("vocab_topk", qVocabTopk,
      "WITH t AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM documents), " +
        "c AS (SELECT tok, count(*)::BIGINT AS n FROM t WHERE tok <> '' GROUP BY tok) " +
        "SELECT tok, n FROM c ORDER BY n DESC, tok LIMIT 20"),
    QueryDef("vocab_cms", qVocabCms,
      "SELECT 20::BIGINT AS n_probes, 20::BIGINT AS n_ge_true, 20::BIGINT AS n_within_eps"),
    QueryDef("text_fingerprint", qTextFingerprint,
      "SELECT count(*) AS n, count(DISTINCT regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS n_distinct_fp " +
        "FROM documents"),
    // Scale: bitext margin mining: bounded src (200 vectors) against the growing
    // tgt corpus — pair volume is 200·|tgt|, LINEAR in the corpus by the maxSrc
    // contract; the windows partition by sid/tid so per-partition state is
    // bounded.
    // brute-force replay of the ratio margin over both k-NN
    // neighborhoods; ids and ranks only (ordering contract, not float
    // equality), embeddings cast to double like every ANN oracle
    QueryDef("bitext_margin_mine", qBitextMine,
      "WITH src AS (SELECT vec_id AS sid, list_transform(embedding, x -> x::DOUBLE) AS e " +
        "FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 400), " +
        "tgt AS (SELECT vec_id AS tid, list_transform(embedding, x -> x::DOUBLE) AS e " +
        "FROM embeddings WHERE vec_id % 2 = 1), " +
        "x AS (SELECT sid, tid, list_cosine_similarity(src.e, tgt.e) AS c FROM src CROSS JOIN tgt), " +
        "fk AS (SELECT sid, avg(c) AS f FROM (SELECT sid, c, " +
        "row_number() OVER (PARTITION BY sid ORDER BY c DESC, tid) AS rn FROM x) WHERE rn <= 4 GROUP BY sid), " +
        "bk AS (SELECT tid, avg(c) AS b FROM (SELECT tid, c, " +
        "row_number() OVER (PARTITION BY tid ORDER BY c DESC, sid) AS rn FROM x) WHERE rn <= 4 GROUP BY tid), " +
        "cand AS (SELECT sid, tid, c FROM (SELECT sid, tid, c, " +
        "row_number() OVER (PARTITION BY sid ORDER BY c DESC, tid) AS rn FROM x) WHERE rn <= 4), " +
        "m AS (SELECT cand.sid, cand.tid, cand.c / ((fk.f + bk.b) / 2) AS margin FROM cand " +
        "JOIN fk ON cand.sid = fk.sid JOIN bk ON cand.tid = bk.tid), " +
        "best AS (SELECT sid, tid, margin, row_number() OVER (PARTITION BY sid " +
        "ORDER BY margin DESC, tid) AS rn FROM m) " +
        "SELECT sid AS src_id, tid AS tgt_id, " +
        "row_number() OVER (ORDER BY margin DESC, sid)::BIGINT AS rank " +
        "FROM best WHERE rn = 1", Set(Scale)),
    // Scale: round-18 batch 2: sentence segmentation (in-row regex-free scan +
    // posexplode — output is rows-per-sentence, the linear term); sentence-level
    // dedup (one sentence-keyed count aggregate + a key-join back — the Dedup
    // discipline; literal planted sentences collide ACROSS scaled copies so
    // duplicate mass grows linearly, the regime under test); CCNet-style
    // bucketing (bigram-LM training over the rotated corpus — distinct bigrams
    // grow ~SCALEx, Heaps' worst case — plus the per-language score HISTOGRAM
    // aggregate whose distinct (lang, score) keys bound the window input, never
    // a per-doc global sort); URL-shape scoring (in-row codegen'd kernel + no
    // aggregate at all — output linear); and content-defined chunking (in-row
    // gear-hash walk over ~24.5 KiB blobs + the chunk-hash dedup aggregate —
    // chunk keys grow with the corpus's unique-prefix chunks, shared-segment
    // chunks stay 4 families).
    // full-value from first principles: the six expected sentences are
    // CONSTRUCTED from (text, lang, source), not replayed through the
    // regex chain — abbreviation/decimal periods must stay inside their
    // sentences, CJK must split with no whitespace, the unterminated
    // tail must still be a sentence
    QueryDef("sentence_split", qSentenceSplit,
      "WITH c AS (SELECT doc_id, text, lang, source FROM documents) " +
        "SELECT doc_id, 0::BIGINT AS sentence_idx, " +
        "'Intro words ' || substr(text, 1, 40) || '.' AS sentence FROM c " +
        "UNION ALL SELECT doc_id, 1::BIGINT, 'Dr. Smith replied to Mrs. Jones!' FROM c " +
        "UNION ALL SELECT doc_id, 2::BIGINT, 'Was it version 3.14 of ' || lang || '?' FROM c " +
        "UNION ALL SELECT doc_id, 3::BIGINT, '句子一。' FROM c " +
        "UNION ALL SELECT doc_id, 4::BIGINT, '这是第二句！' FROM c " +
        "UNION ALL SELECT doc_id, 5::BIGINT, 'Tail from ' || source || ' e.g. the end' FROM c", Set(Scale)),
    // Scale: see sentence_split.
    // construction arithmetic: the slogan sentence collides on doc_id%7
    // (~n/7 copies each) and 'Dr. Smith replied.' collides corpus-wide,
    // so exactly the two doc_id-bearing sentences survive per document
    QueryDef("sentence_dedup", qSentenceDedup,
      "SELECT doc_id, 2::BIGINT AS n_kept, " +
        "'Unique lead ' || substr(text, 1, 30) || ' of doc ' || doc_id || '. " +
        "Tail source ' || source || ' closes doc ' || doc_id || '.' AS kept_text " +
        "FROM documents", Set(Scale)),
    // Scale: see sentence_split.
    // language from the planted-prefix arm (the Spark side must DETECT
    // it — profile-ranker green is load-bearing for ru/zh/ar); score
    // replays the lm_score bigram construction over the composed text;
    // tertiles replay the histogram-cutoff rule with the same integer
    // arithmetic
    QueryDef("lm_quality_buckets", qLmQualityBuckets,
      "WITH c AS (SELECT doc_id, CASE (doc_id % 4) " +
        "WHEN 0 THEN 'the quick brown fox jumps over the lazy dog near the river bank today' " +
        "WHEN 1 THEN 'в этом документе говорится о последних новостях и погоде в москве сегодня вечером' " +
        "WHEN 2 THEN '这是一个关于新闻和天气的中文文档今天晚上在北京发布的内容' " +
        "ELSE 'هذه وثيقة باللغة العربية عن الأخبار والطقس في المساء اليوم' END " +
        "|| ' ' || substr(text, 1, 40) AS t FROM documents), " +
        "toks AS (SELECT doc_id, string_split_regex(lower(trim(t)), '\\s+') AS t FROM c), " +
        "uni AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w), " +
        "bg AS (SELECT bgk, count(*) AS c2 FROM (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bgk " +
        "FROM toks WHERE len(t) >= 2) GROUP BY bgk), " +
        "v AS (SELECT count(*)::DOUBLE AS v FROM uni), " +
        "e AS (SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS b FROM " +
        "(SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)), " +
        "s AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, " +
        "floor(avg(ln((coalesce(c2, 0) + 0.5) / (coalesce(c1, 0) + 0.5 * v))) * 10000 + 0.000001)::BIGINT AS sc " +
        "FROM e LEFT JOIN bg ON e.b = bg.bgk LEFT JOIN uni ON e.w1 = uni.w CROSS JOIN v GROUP BY doc_id), " +
        "l AS (SELECT doc_id, CASE (doc_id % 4) WHEN 0 THEN 'en' WHEN 1 THEN 'ru' " +
        "WHEN 2 THEN 'zh' ELSE 'ar' END AS lang FROM documents), " +
        "pd AS (SELECT l.doc_id, l.lang, s.n_bigrams, s.sc FROM l JOIN s ON l.doc_id = s.doc_id), " +
        "h AS (SELECT lang, sc, count(*)::BIGINT AS cnt FROM pd GROUP BY lang, sc), " +
        "cut AS (SELECT lang, sc, " +
        "sum(cnt) OVER (PARTITION BY lang ORDER BY sc DESC ROWS UNBOUNDED PRECEDING) - cnt AS start, " +
        "sum(cnt) OVER (PARTITION BY lang) AS n FROM h), " +
        "b AS (SELECT lang, sc, CASE WHEN start < floor((n + 2) / 3.0) THEN 'head' " +
        "WHEN start < floor((n * 2 + 2) / 3.0) THEN 'middle' ELSE 'tail' END AS bucket FROM cut) " +
        "SELECT pd.doc_id, pd.lang, pd.n_bigrams, pd.sc AS avg_logp_x1e4, b.bucket " +
        "FROM pd JOIN b ON pd.lang = b.lang AND pd.sc = b.sc", Set(Scale)),
    // Scale: round-18 batch 5: interpolated-KN trigram scoring — training is
    // five vocabulary-shaped counting aggregates (rotation grows distinct
    // trigrams ~SCALEx, the Heaps' worst case), scoring joins the per-position
    // frame against the model tables (the lm bucketing shape one order up —
    // watch the broadcast→SMJ shift).
    // the FULL interpolated-KN construction replayed: train split,
    // tri/bi counts, continuation counts, unigram continuation, D=0.75
    // interpolation down to the uniform 1/Vhat floor, the 1e4 log grid
    QueryDef("lm_kn_score", qLmKnScore,
      "WITH c AS (SELECT doc_id, substr(text, 1, 60) || ' ' || CASE (doc_id % 4) " +
        "WHEN 0 THEN 'alpha beta gamma' WHEN 1 THEN 'alpha beta r' || doc_id " +
        "WHEN 2 THEN 'delta epsilon' ELSE '' END AS t FROM documents), " +
        "ttoks AS (SELECT string_split_regex(lower(trim(t)), '\\s+') AS t FROM c WHERE doc_id % 3 <> 0), " +
        "tripos AS (SELECT t[i] || ' ' || t[i+1] AS ctx, t[i+2] AS w3 FROM " +
        "(SELECT t, unnest(range(1, len(t) - 1)) AS i FROM ttoks WHERE len(t) >= 3)), " +
        "tri AS (SELECT ctx, w3, count(*) AS c3 FROM tripos GROUP BY ctx, w3), " +
        "bi AS (SELECT ctx, sum(c3) AS c2, count(*) AS t3 FROM tri GROUP BY ctx), " +
        "cont AS (SELECT split_part(ctx, ' ', 2) AS w2, w3, count(*) AS cc FROM tri GROUP BY 1, 2), " +
        "contagg AS (SELECT w2, sum(cc) AS cc2, count(*) AS t2 FROM cont GROUP BY w2), " +
        "bitypes AS (SELECT DISTINCT t[i] AS w1, t[i+1] AS w2 FROM " +
        "(SELECT t, unnest(range(1, len(t))) AS i FROM ttoks WHERE len(t) >= 2)), " +
        "unicont AS (SELECT w2 AS w, count(*) AS n1p FROM bitypes GROUP BY w2), " +
        "consts AS (SELECT (SELECT sum(n1p)::DOUBLE FROM unicont) AS btypes, " +
        "(SELECT count(*)::DOUBLE FROM unicont) AS u, " +
        "(SELECT count(DISTINCT w)::DOUBLE FROM (SELECT unnest(t) AS w FROM ttoks)) + 1.0 AS vhat), " +
        "stoks AS (SELECT doc_id, string_split_regex(lower(trim(t)), '\\s+') AS t FROM c), " +
        "spos AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS ctx, t[i+1] AS w2, t[i+2] AS w3 FROM " +
        "(SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM stoks WHERE len(t) >= 3)), " +
        "j AS (SELECT s.doc_id, tri.c3, bi.c2, bi.t3, cont.cc, ca.cc2, ca.t2, uc.n1p, " +
        "k.btypes, k.u, k.vhat FROM spos s " +
        "LEFT JOIN tri ON s.ctx = tri.ctx AND s.w3 = tri.w3 " +
        "LEFT JOIN bi ON s.ctx = bi.ctx " +
        "LEFT JOIN cont ON s.w2 = cont.w2 AND s.w3 = cont.w3 " +
        "LEFT JOIN contagg ca ON s.w2 = ca.w2 " +
        "LEFT JOIN unicont uc ON s.w3 = uc.w CROSS JOIN consts k), " +
        "j2 AS (SELECT doc_id, c3, c2, t3, cc, cc2, t2, " +
        "greatest(coalesce(n1p, 0)::DOUBLE - 0.75, 0) / btypes + 0.75 * u / btypes / vhat AS p1 FROM j), " +
        "j3 AS (SELECT doc_id, c3, c2, t3, CASE WHEN cc2 IS NULL THEN p1 ELSE " +
        "greatest(coalesce(cc, 0)::DOUBLE - 0.75, 0) / cc2::DOUBLE + 0.75 * t2::DOUBLE / cc2::DOUBLE * p1 END AS p2 FROM j2), " +
        "j4 AS (SELECT doc_id, CASE WHEN c2 IS NULL THEN p2 ELSE " +
        "greatest(coalesce(c3, 0)::DOUBLE - 0.75, 0) / c2::DOUBLE + 0.75 * t3::DOUBLE / c2::DOUBLE * p2 END AS p3 FROM j3), " +
        "s2 AS (SELECT doc_id, count(*)::BIGINT AS n_trigrams, " +
        "floor(avg(ln(p3)) * 10000 + 0.000001)::BIGINT AS avg_logp_x1e4 FROM j4 GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(s2.n_trigrams, 0)::BIGINT AS n_trigrams, " +
        "coalesce(s2.avg_logp_x1e4, 0)::BIGINT AS avg_logp_x1e4 " +
        "FROM documents d LEFT JOIN s2 ON d.doc_id = s2.doc_id", Set(Scale)),
    // Scale: see hits_scores.
    // the syllable heuristic, token filter, and FRE formula replayed
    // with the same regex dialect and double-op chain; sentence count
    // through the SHARED duckdbSplitSql pass list
    QueryDef("readability_scores", qReadabilityScores,
      "WITH c AS (SELECT doc_id, 'The quick start. ' || substr(text, 1, 80) || " +
        "'! Then ' || substr(text, 30, 40) || '?' AS t FROM documents), " +
        "s AS (SELECT doc_id, len(" +
        graft.operators.Sentences.duckdbSplitSql("t") + ")::BIGINT AS n_sentences, " +
        "list_filter(string_split_regex(lower(trim(t)), '\\s+'), w -> len(w) > 0) AS toks FROM c), " +
        "w AS (SELECT doc_id, n_sentences, len(toks)::BIGINT AS n_words, " +
        "coalesce(list_sum(list_transform(toks, w -> greatest(" +
        "len(regexp_extract_all(w, '[aeiouy]+')) - " +
        "CASE WHEN regexp_matches(w, 'e$') AND len(regexp_extract_all(w, '[aeiouy]+')) >= 2 " +
        "THEN 1 ELSE 0 END, 1))), 0)::BIGINT AS n_syllables FROM s) " +
        "SELECT doc_id, n_sentences, n_words, n_syllables, " +
        "floor(206835.0 - 1015.0 * n_words / greatest(n_sentences, 1) - " +
        "84600.0 * n_syllables / greatest(n_words, 1) + 0.000001)::BIGINT AS fre_x1000 FROM w", Set(Scale)),
    // Scale: the gate ensemble: three in-row kernels (spam features, profile
    // langid, FRE fold) in ONE narrow projection — the url_spam_score class with
    // more CPU per row.
    // the ensemble replays each member verbatim: spam arithmetic over
    // the five URL arms, language by the four planted arms (Spark must
    // DETECT them), the FRE chain over the composed text, and the
    // ordered reason string; the readability check is en-conditional
    QueryDef("quality_gate", qQualityGate,
      "WITH c AS (SELECT doc_id, CASE (doc_id % 4) " +
        "WHEN 0 THEN 'the quick brown fox jumps over the lazy dog near the river bank today' " +
        "WHEN 1 THEN 'в этом документе говорится о последних новостях и погоде в москве сегодня вечером' " +
        "WHEN 2 THEN '这是一个关于新闻和天气的中文文档今天晚上在北京发布的内容' " +
        "ELSE 'هذه وثيقة باللغة العربية عن الأخبار والطقس في المساء اليوم' END " +
        "|| ' ' || substr(text, 1, 40) || CASE WHEN doc_id % 8 = 4 " +
        "THEN ' extraordinarily unconstitutionally incomprehensibilities revolutionarily' " +
        "ELSE '' END AS t, " +
        "CASE (doc_id % 5) " +
        "WHEN 0 THEN 'https://news.example.com/articles/' || doc_id " +
        "WHEN 1 THEN 'https://example.com/p/' || doc_id || '?utm_source=feed&fbclid=x' || doc_id || '&ref=tw' " +
        "WHEN 2 THEN 'http://best-cheap-pills-' || (doc_id % 7) || '.win-prizes-online.example.biz/offer/' || doc_id " +
        "WHEN 3 THEN 'https://example.org/a/b/c/d/e/f/g/h/' || doc_id || '/page' " +
        "ELSE 'http://h' || doc_id || 'x' || ((doc_id * 7) % 1000) || '.example.net/' || doc_id END AS url " +
        "FROM documents), " +
        "uf AS (SELECT doc_id, " +
        "regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host, " +
        "regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path, " +
        "regexp_extract(url, '\\?([^#]*)', 1) AS query FROM c), " +
        "ug AS (SELECT doc_id, " +
        "greatest(len(string_split(host, '.')) - 2, 0)::BIGINT AS n_sub, " +
        "(len(host) - len(replace(host, '-', '')))::BIGINT AS n_hyphen, " +
        "floor((len(host) - len(regexp_replace(host, '[0-9]', '', 'g'))) * 100.0 / len(host))::BIGINT AS digit_pct, " +
        "(CASE WHEN len(path) = 0 THEN 0 ELSE len(string_split(path, '/')) - 1 END)::BIGINT AS path_depth, " +
        "(CASE WHEN len(query) = 0 THEN 0 ELSE len(string_split(query, '&')) END)::BIGINT AS n_params, " +
        "len(regexp_extract_all(query, '(^|&)(utm_[a-z]+|fbclid|gclid|msclkid|ref)='))::BIGINT AS n_tracking, " +
        "host FROM uf), " +
        "sp AS (SELECT doc_id, (3 * n_hyphen + 2 * n_sub + (digit_pct // 10) + " +
        "2 * greatest(path_depth - 4, 0) + greatest(n_params - 2, 0) + 4 * n_tracking " +
        "+ CASE WHEN len(host) > 40 THEN 5 ELSE 0 END " +
        "+ CASE WHEN regexp_matches(host, '\\.(biz|win|top|loan|click)$') THEN 6 ELSE 0 END)::BIGINT AS spam_score " +
        "FROM ug), " +
        "lg AS (SELECT doc_id, CASE (doc_id % 4) WHEN 0 THEN 'en' WHEN 1 THEN 'ru' " +
        "WHEN 2 THEN 'zh' ELSE 'ar' END AS lang FROM documents), " +
        "rs AS (SELECT doc_id, len(" +
        graft.operators.Sentences.duckdbSplitSql("t") + ")::BIGINT AS ns, " +
        "list_filter(string_split_regex(lower(trim(t)), '\\s+'), w -> len(w) > 0) AS toks FROM c), " +
        "rw AS (SELECT doc_id, ns, len(toks)::BIGINT AS nw, " +
        "coalesce(list_sum(list_transform(toks, w -> greatest(" +
        "len(regexp_extract_all(w, '[aeiouy]+')) - " +
        "CASE WHEN regexp_matches(w, 'e$') AND len(regexp_extract_all(w, '[aeiouy]+')) >= 2 " +
        "THEN 1 ELSE 0 END, 1))), 0)::BIGINT AS nsyl FROM rs), " +
        "fr AS (SELECT doc_id, floor(206835.0 - 1015.0 * nw / greatest(ns, 1) - " +
        "84600.0 * nsyl / greatest(nw, 1) + 0.000001)::BIGINT AS fre_x1000 FROM rw), " +
        "j AS (SELECT sp.doc_id, sp.spam_score, lg.lang, fr.fre_x1000 FROM sp " +
        "JOIN lg ON sp.doc_id = lg.doc_id JOIN fr ON sp.doc_id = fr.doc_id) " +
        "SELECT doc_id, spam_score, lang, fre_x1000, " +
        "concat_ws(',', CASE WHEN spam_score > 8 THEN 'spam' END, " +
        "CASE WHEN lang IS NULL THEN 'lang' END, " +
        "CASE WHEN lang = 'en' AND fre_x1000 < 60000 THEN 'readability' END) AS reasons, " +
        "(concat_ws(',', CASE WHEN spam_score > 8 THEN 'spam' END, " +
        "CASE WHEN lang IS NULL THEN 'lang' END, " +
        "CASE WHEN lang = 'en' AND fre_x1000 < 60000 THEN 'readability' END) = '') AS kept " +
        "FROM j", Set(Scale)),
    // Scale: see sentence_split.
    // every feature integer replays from the five-arm construction with
    // the same string builtins (shared Java-regex/RE2 dialect)
    QueryDef("url_spam_score", qUrlSpamScore,
      "WITH u AS (SELECT doc_id, CASE (doc_id % 5) " +
        "WHEN 0 THEN 'https://news.example.com/articles/' || doc_id " +
        "WHEN 1 THEN 'https://example.com/p/' || doc_id || '?utm_source=feed&fbclid=x' || doc_id || '&ref=tw' " +
        "WHEN 2 THEN 'http://best-cheap-pills-' || (doc_id % 7) || '.win-prizes-online.example.biz/offer/' || doc_id " +
        "WHEN 3 THEN 'https://example.org/a/b/c/d/e/f/g/h/' || doc_id || '/page' " +
        "ELSE 'http://h' || doc_id || 'x' || ((doc_id * 7) % 1000) || '.example.net/' || doc_id END AS url " +
        "FROM documents), " +
        "f AS (SELECT doc_id, url, " +
        "regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host, " +
        "regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path, " +
        "regexp_extract(url, '\\?([^#]*)', 1) AS query FROM u), " +
        "g AS (SELECT doc_id, url, host, " +
        "greatest(len(string_split(host, '.')) - 2, 0)::BIGINT AS n_sub, " +
        "(len(host) - len(replace(host, '-', '')))::BIGINT AS n_hyphen, " +
        "floor((len(host) - len(regexp_replace(host, '[0-9]', '', 'g'))) * 100.0 / len(host))::BIGINT AS digit_pct, " +
        "(CASE WHEN len(path) = 0 THEN 0 ELSE len(string_split(path, '/')) - 1 END)::BIGINT AS path_depth, " +
        "(CASE WHEN len(query) = 0 THEN 0 ELSE len(string_split(query, '&')) END)::BIGINT AS n_params, " +
        "len(regexp_extract_all(query, '(^|&)(utm_[a-z]+|fbclid|gclid|msclkid|ref)='))::BIGINT AS n_tracking " +
        "FROM f) " +
        "SELECT doc_id, url, host, n_sub, n_hyphen, digit_pct, path_depth, n_params, n_tracking, " +
        "(3 * n_hyphen + 2 * n_sub + (digit_pct // 10) + 2 * greatest(path_depth - 4, 0) " +
        "+ greatest(n_params - 2, 0) + 4 * n_tracking " +
        "+ CASE WHEN len(host) > 40 THEN 5 ELSE 0 END " +
        "+ CASE WHEN regexp_matches(host, '\\.(biz|win|top|loan|click)$') THEN 6 ELSE 0 END)::BIGINT AS spam_score " +
        "FROM g", Set(Scale)))
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized inverted index for BM25 retrieval — the LEXICAL twin of
  * the IVF vector store ([[graft.operators.Similarity.writeIvfIndex]]):
  * the corpus is tokenized and posting-listed ONCE, written partitioned
  * by a term bucket so a probe reads only the handful of directories its
  * query terms hash into, and the corpus-level statistics BM25 needs
  * (document count, total document length) travel beside the postings as
  * an underscore sidecar — the `stampCms` / quantizer-sidecar pattern, so
  * the stats can never be separated from the index they describe.
  *
  * Why this exists at 100 TB: [[graft.operators.Ranking.bm25TopK]] is the
  * right shape for a one-off query (term-filter BEFORE the shuffle), but
  * it still SCANS the corpus once per query. A retrieval stack issuing
  * thousands of probe queries re-pays that scan every time. The index
  * pays the tokenize+count shuffle ONCE; afterwards every probe is a
  * partition-pruned read of |query-terms| buckets out of `nBuckets` —
  * corpus contact drops from O(corpus) per query to O(postings of the
  * queried terms).
  *
  * Layout decisions (each one is a scale decision):
  *  - postings are `(tok, doc_id, tf, dl)` with the document length
  *    DENORMALIZED onto every posting (Lucene stores norms per posting
  *    the same way): the probe never joins a corpus-sized doc-length
  *    table — everything BM25 needs for a (doc, term) contribution is in
  *    the posting row itself.
  *  - the partition key is `tb = md5-slice(tok) % nBuckets` (the engine's
  *    established portable hash — [[graft.operators.Sketches]] uses the
  *    same hex-slice trick), NOT the raw term: a term-per-directory
  *    layout would create vocabulary-sized small-file litter; buckets
  *    keep the directory count fixed while still pruning ~|terms|/
  *    `nBuckets` of the store per probe. `termBucketScala` is the
  *    driver-side twin, byte-identical to the column expression, so the
  *    probe's bucket list is computed without touching the cluster.
  *  - per-term document frequency is NOT stored: a term's postings all
  *    live in its bucket, so `df` is an exact COUNT over the already-
  *    pruned rows — storing it would just create a second thing to keep
  *    consistent under incremental adds.
  *  - corpus stats (n_docs, sum_dl) are 1 row in `_stats`, re-stamped on
  *    every [[addBatch]] by EXACT integer addition — the only mutable
  *    state, and it merges associatively.
  *
  * Incremental contract: postings are a pure per-document function, so
  * appending a new batch's postings and re-stamping the stats yields a
  * store EQUAL row-for-row to a full rebuild over the unioned corpus —
  * the same merge==rebuild law as the sketch store
  * (`sketch_store_roundtrip`), proven by the `bm25_incremental` oracle
  * and InvertedIndexSpec. Re-adding an already-indexed document is the
  * caller's bug (postings would double); dedup upstream.
  */
object InvertedIndex {

  /** Portable term bucket: first 3 md5 hex chars (12 bits) mod nBuckets.
    * `nBuckets` must divide 4096 for a uniform reduction (same rule as
    * the CMS width). */
  def termBucket(tok: org.apache.spark.sql.Column, nBuckets: Int): org.apache.spark.sql.Column =
    conv(substring(md5(tok), 1, 3), 16, 10).cast("long") % nBuckets

  /** Driver-side twin of [[termBucket]] — identical bytes: Spark's
    * `md5()` is the lowercase hex of MD5 over the UTF-8 encoding. */
  def termBucketScala(tok: String, nBuckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 3), 16) % nBuckets
  }

  private def requireBuckets(nBuckets: Int): Unit =
    require(nBuckets >= 2 && 4096 % nBuckets == 0,
      s"nBuckets must divide 4096 for a uniform 12-bit reduction, got $nBuckets")

  /** Posting rows for `docs`: (tok, doc_id, tf, dl, tb). One corpus scan,
    * one aggregating shuffle on (doc, tok) — the build cost the probes
    * amortize. Null-text documents are excluded here AND from the stats
    * (the [[Ranking.bm25TopK]] rule: a doc absent from postings must be
    * absent from avgdl/N too). */
  def postings(docs: DataFrame, idCol: String, textCol: String,
               nBuckets: Int = 64): DataFrame = {
    requireBuckets(nBuckets)
    val toks = TextAnalysis.tokens(col(s"`$textCol`"))
    docs.where(col(s"`$textCol`").isNotNull)
      .select(col(s"`$idCol`").as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
      .groupBy(col("tok"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", termBucket(col("tok"), nBuckets))
  }

  /** Corpus stats over the SAME doc population as [[postings]]: one row,
    * exact longs (n_docs, sum_dl). */
  def corpusStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.where(col(s"`$textCol`").isNotNull)
      .select(size(TextAnalysis.tokens(col(s"`$textCol`"))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** Materialize the index: tb-partitioned postings + `_stats` sidecar
    * (ignored by the postings read — underscore prefix). */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String, path: String,
                 nBuckets: Int = 64, filesPerPartition: Int = 1): Unit = {
    requireBuckets(nBuckets)
    graft.sources.Sinks.writePartitioned(
      postings(docs, idCol, textCol, nBuckets), path, Seq("tb"), filesPerPartition)
    corpusStats(docs, idCol, textCol)
      .coalesce(1).write.mode("overwrite").parquet(path + "/_stats")
  }

  /** Merge a new document batch into a stored index: append the batch's
    * postings into the bucket directories and re-stamp `_stats` by exact
    * addition. Postings are per-document pure, so the merged store equals
    * a full rebuild row-for-row (the sketch-store law). The batch must
    * not contain already-indexed doc_ids. */
  def addBatch(spark: SparkSession, path: String, batch: DataFrame,
               idCol: String, textCol: String, nBuckets: Int = 64): Unit = {
    requireBuckets(nBuckets)
    val (n0, s0) = readStats(spark, path)
    // batch stats BEFORE the postings append: if the append fails midway
    // the stats still describe the old store (a stats row claiming docs
    // whose postings never landed would silently deflate every idf)
    val row = corpusStats(batch, idCol, textCol).collect()(0)
    val (nb, sb) = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    postings(batch, idCol, textCol, nBuckets)
      // lay out by the partition column before the append: without it every
      // write task opens a file in every bucket dir it touches (32 tasks x
      // up to 64 dirs per batch) and every later store scan pays the
      // listing and footer reads of those small files
      .repartition(col("tb"))
      .write.mode("append").partitionBy("tb").parquet(path)
    // stats swap via temp-write + rename (advisor r15 #2): mode
    // "overwrite" deletes the old sidecar BEFORE the new files land, so
    // a crash mid-write left a half-written `_stats` that reads as a
    // corrupt or 0/2-row frame. Writing beside and renaming last keeps
    // `_stats` either old or new; the residual window (between delete
    // and rename) leaves it ABSENT, which readStats treats as loud
    // failure rather than silently stale idf/avgdl. A crash between the
    // postings append and the swap leaves old stats with extra postings
    // — detectable by [[auditStore]]'s exact sum(tf) == sum_dl law.
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val statsPath = new org.apache.hadoop.fs.Path(path + "/_stats")
    val tmpPath = new org.apache.hadoop.fs.Path(
      path + s"/_stats_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val fs = statsPath.getFileSystem(hconf)
    Seq((Math.addExact(n0, nb), Math.addExact(s0, sb))).toDF("n_docs", "sum_dl")
      .coalesce(1).write.mode("overwrite").parquet(tmpPath.toString)
    fs.delete(statsPath, true)
    require(fs.rename(tmpPath, statsPath),
      s"addBatch: failed to swap stats sidecar $tmpPath -> $statsPath")
  }

  /** Exact postings-vs-stats consistency audit (advisor r15 #2): every
    * token of every indexed document lands in exactly one posting row
    * with its count in `tf`, so `sum(tf)` over the WHOLE postings store
    * must equal the sidecar's `sum_dl`, and the distinct doc count must
    * not exceed `n_docs` (token-less documents count in stats but emit
    * no postings). A crash between [[addBatch]]'s postings append and
    * its stats swap breaks the sum law; run this after any failed
    * incremental job before trusting probes. One store scan, no state.
    * Returns (ok, n_docs, sum_dl, sum_tf, distinct_docs). */
  def auditStore(spark: SparkSession, path: String): (Boolean, Long, Long, Long, Long) = {
    val (nDocs, sumDl) = readStats(spark, path)
    val r = spark.read.parquet(path)
      .agg(coalesce(sum(col("tf")), lit(0L)).cast("long").as("sum_tf"),
        countDistinct(col("doc_id")).as("docs")).collect()(0)
    val (sumTf, docs) = (r.getLong(0), r.getLong(1))
    (sumTf == sumDl && docs <= nDocs, nDocs, sumDl, sumTf, docs)
  }

  /** Reload the stats sidecar: (n_docs, sum_dl). Loud when absent — a
    * postings directory without its sidecar is not an index. */
  def readStats(spark: SparkSession, path: String): (Long, Long) = {
    val rows =
      try spark.read.parquet(path + "/_stats").collect()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"readStats: no stats sidecar at $path/_stats — not an index " +
              s"(writeIndex creates it): ${e.getMessage}")
      }
    require(rows.length == 1, s"readStats: expected 1 stats row, got ${rows.length}")
    (rows(0).getAs[Long]("n_docs"), rows(0).getAs[Long]("sum_dl"))
  }

  /** BM25 top-k through the STORE: prunes to the query terms' buckets
    * (static IN over driver-computed bucket ids — a tb-partitioned store
    * scans only those directories), recomputes df exactly over the pruned
    * postings, and scores on the same floor(x*1e4 + 1e-6) grid as
    * [[Ranking.bm25TopK]]; output (doc_id, dl, score_x1e4) is EQUAL to
    * the direct operator's on the same corpus. */
  def probeStored(spark: SparkSession, path: String, queryTerms: Seq[String],
                  k: Int, nBuckets: Int = 64,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    requireBuckets(nBuckets)
    require(queryTerms.nonEmpty && k >= 1)
    val (nDocs, sumDl) = readStats(spark, path)
    require(nDocs > 0L, s"probeStored: empty index at $path")
    val buckets = queryTerms.map(termBucketScala(_, nBuckets)).distinct
    val terms = array(queryTerms.map(lit): _*)
    val p = spark.read.parquet(path)
      .where(col("tb").isin(buckets: _*))          // partition pruning
      .where(array_contains(terms, col("tok")))    // exact term filter
      .select(col("tok"), col("doc_id"), col("dl"), col("tf"))
    val dfreq = p.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
    val n = lit(nDocs.toDouble)
    val avgdl = lit(sumDl.toDouble / nDocs.toDouble)
    p.join(broadcast(dfreq), "tok")
      .withColumn("idf", log(lit(1.0) + (n - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * col("tf").cast("double") * (k1 + 1.0) /
          (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl)))
      .groupBy(col("doc_id"), col("dl"))
      .agg(floor(sum(col("contrib")) * 10000 + lit(1e-6)).cast("long").as("score_x1e4"))
      .orderBy(col("score_x1e4").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("dl"), col("score_x1e4"))
  }
}

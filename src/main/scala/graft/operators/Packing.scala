package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training-data assembly: lay documents out along
  * a global token axis (deterministic order), then bin them into fixed
  * token-capacity training sequences.
  *
  * The global prefix sum is computed the SCALABLE way — NOT with a single
  * `Window.orderBy(...)` over the whole frame (which funnels the entire
  * dataset through one task): range-partition on the order key, cumsum
  * per partition with an ordinary partitioned window, then add broadcast
  * per-partition offsets (one row per partition). Wall-clock is one range
  * shuffle + one narrow join; every stage is parallel. This is the classic
  * two-pass distributed prefix sum, expressed in DataFrame ops so Catalyst
  * still prunes/pushes around it.
  *
  * Two packing disciplines are offered, both deterministic and both
  * recomputable in plain SQL window functions by an oracle engine:
  *
  *  - [[assignBins]] — contiguous greedy packing: a document's bin is
  *    `floor(token_start / capacity)`; a document that straddles a capacity
  *    boundary stays in its starting bin (bins may overflow by at most one
  *    document — the bounded-overflow contract used when documents must not
  *    be split).
  *  - [[chunkSpans]] — GPT-style concat-and-chunk: the token stream is cut
  *    at exact capacity multiples; a straddling document belongs to every
  *    chunk its span crosses (`n_chunks` per doc), and the total number of
  *    training sequences is `ceil(total_tokens / capacity)`.
  */
object Packing {

  private val Pid = "__graft_pid"

  /** `df` with its range-partition id (`__graft_pid`) and each row's
    * running token total within that partition (`__local_end`): the
    * data-sized half of [[tokenSpans]], a window partitioned by the range
    * partition, never one global-order window. */
  private[operators] def localSpans(df: DataFrame, orderCol: String, tokensCol: String): DataFrame = {
    // range partition => partition i holds an orderCol range entirely below
    // partition i+1, so (pid, orderCol) sorts identically to orderCol alone
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val ranged = df.repartitionByRange(parallelism, col(s"`$orderCol`"))
      .withColumn(Pid, spark_partition_id())
    val localW = Window.partitionBy(Pid).orderBy(col(s"`$orderCol`"))
    // ROWS frame, not the default RANGE: RANGE includes orderCol PEERS, so
    // two rows tied on orderCol would both receive the combined end and
    // their spans would OVERLAP. With a ROWS frame ties would instead be
    // silently order-dependent — so duplicates fail loudly via the lag
    // guard below (range partitioning co-locates equal keys, so the
    // within-partition lag sees every duplicate pair).
    val cum = sum(col(s"`$tokensCol`"))
      .over(localW.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val dupGuard = when(
      lag(col(s"`$orderCol`"), 1).over(localW) === col(s"`$orderCol`"),
      raise_error(concat(lit("tokenSpans requires a UNIQUE orderCol; duplicate value: "),
        col(s"`$orderCol`").cast("string"))).cast("long")).otherwise(lit(0L))
    ranged.withColumn("__local_end", cum + dupGuard)
  }

  /** (token_start, token_end] span of every row along the global token axis
    * ordered by `orderCol`, which MUST be unique — duplicates would make
    * span assignment order-dependent, so they raise an error rather than
    * emit overlapping spans. Adds `token_start`, `token_end` and passes the
    * lazy result to `use`, which runs every action over it: the per-partition
    * totals feed both the offsets and the result, so they are built once
    * before `use` runs and released when it returns. */
  def tokenSpans[T](df: DataFrame, orderCol: String, tokensCol: String)(use: DataFrame => T): T = {
    Fixpoint.materialized(localSpans(df, orderCol, tokensCol)) { local =>
      // one row per partition; the offset window runs over <=parallelism rows
      val offsetW = Window.orderBy(Pid).rowsBetween(Window.unboundedPreceding, -1)
      val offsets = local.groupBy(col(Pid))
        .agg(max(col("__local_end")).as("__ptotal"))
        .withColumn("__offset", coalesce(sum(col("__ptotal")).over(offsetW), lit(0L)))
        .select(col(Pid), col("__offset"))
      use(local.join(broadcast(offsets), Pid)
        .withColumn("token_end", col("__local_end") + col("__offset"))
        .withColumn("token_start", col("token_end") - col(s"`$tokensCol`"))
        .drop(Pid, "__local_end", "__offset"))
    }
  }

  /** Contiguous greedy packing: adds `bin` = floor(token_start / capacity).
    * Every bin holds consecutive documents; fill is in
    * (capacity - max_doc_tokens, capacity + max_doc_tokens). */
  def assignBins[T](df: DataFrame, orderCol: String, tokensCol: String, capacity: Long)
                   (use: DataFrame => T): T = {
    require(capacity > 0, "capacity must be positive")
    tokenSpans(df, orderCol, tokensCol)(spans =>
      use(spans.withColumn("bin", floor(col("token_start") / capacity).cast("long"))))
  }

  /** Concat-and-chunk spans: adds `chunk_first`, `chunk_last`, `n_chunks`
    * (how many capacity-sized training sequences this document's tokens
    * touch). Zero-token documents touch zero chunks. */
  def chunkSpans[T](df: DataFrame, orderCol: String, tokensCol: String, capacity: Long)
                   (use: DataFrame => T): T = {
    require(capacity > 0, "capacity must be positive")
    val first = floor(col("token_start") / capacity).cast("long")
    val last = floor((col("token_end") - 1) / capacity).cast("long")
    tokenSpans(df, orderCol, tokensCol)(spans => use(spans
      .withColumn("chunk_first", when(col(s"`$tokensCol`") > 0, first))
      .withColumn("chunk_last", when(col(s"`$tokensCol`") > 0, last))
      .withColumn("n_chunks",
        when(col(s"`$tokensCol`") > 0, last - first + 1).otherwise(lit(0L)))))
  }

  /** Length-bucketed padding report — the batching-efficiency audit run
    * before choosing between padded per-bucket batching and
    * [[chunkSpans]]-style packing: each document lands in the SMALLEST
    * capacity from `capacities` that holds it, and the report gives, per
    * bucket, the document count, the real token sum, the padding a
    * pad-to-capacity batcher would emit (`capacity * n_docs - token_sum`)
    * and the waste as integer parts-per-million. Documents longer than
    * the largest capacity aggregate under the sentinel capacity -1
    * (overflow rows — they need chunking, not padding, so no padding or
    * waste is attributed; a NULL capacity would be the prettier marker
    * but NULL grouping keys render engine-specifically).
    *
    * Scale shape: one narrow projection (the bucket lookup is a literal
    * array probe, codegen'd) and one map-side-combined groupBy over at
    * most `capacities.size + 1` keys — scan-bound at any corpus size.
    * All arithmetic is integral, so the report is engine-exact. */
  def paddingReport(df: DataFrame, tokensCol: String,
                    capacities: Seq[Long] = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)): DataFrame = {
    require(capacities.nonEmpty && capacities == capacities.sorted && capacities.head > 0,
      "capacities must be sorted positive")
    val toks = col(s"`$tokensCol`").cast("long")
    val caps = array(capacities.map(lit): _*)
    // try_element_at: the filtered list is EMPTY for overflow docs, and
    // ANSI element_at throws on out-of-bounds instead of returning null
    val bucket = coalesce(try_element_at(filter(caps, c => c >= toks), lit(1)), lit(-1L))
    val padded = when(col("bucket_capacity") > 0L,
      col("bucket_capacity") * col("n_docs") - col("token_sum")).otherwise(lit(0L))
    df.where(toks.isNotNull && toks > 0L)
      .select(toks.as("__toks"), bucket.as("bucket_capacity"))
      .groupBy(col("bucket_capacity"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__toks")).as("token_sum"))
      .select(
        col("bucket_capacity"),
        col("n_docs"),
        col("token_sum"),
        padded.as("padded_tokens"),
        // integral div (not `/`, which widens to double and drifts past 2^53)
        expr("CASE WHEN bucket_capacity > 0 THEN " +
          "((bucket_capacity * n_docs - token_sum) * 1000000) div (bucket_capacity * n_docs) " +
          "ELSE 0 END").cast("long").as("waste_ppm"))
  }
}

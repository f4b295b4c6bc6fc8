package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface: the reference passes streaming frames
  * through the same masking projection (MaskDataTransform.scala:158 only
  * skips instrumentation); we keep that property and add the event-time
  * operators a streaming analytics pipeline needs — watermarked tumbling
  * windows and stateful sessionization.
  *
  * Scale notes: windowed counts shuffle on (window, key) with partial
  * aggregation; state store size is bounded by the watermark (late data
  * beyond it is dropped and its state evicted). Sessionization keys state
  * by user — the state store partitions on the grouping key, so skewed
  * users land in one partition; the session gap bounds per-key state to
  * one open session.
  *
  * Every one-shot stream runs through [[drain]] (a memory sink) or
  * [[drainBatches]] (a per-batch parquet sink): both run under
  * `Trigger.AvailableNow`, wait for the stream to end, leave no active
  * query and no sink view behind, and log one line per run,
  * `graft.stream op=<name> batches=N input_rows=R state_rows=S` followed
  * by the summed `durationMs` phases in ms.
  */
object Streaming {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val phases = Seq("queryPlanning", "addBatch", "walCommit", "commitOffsets", "triggerExecution")

  /** Runs `stream` once into the memory sink `graft_<name>_sink` and returns
    * its rows. The sink's temp view is dropped before returning: the frame
    * holds the sink's plan, so it and every frame derived from it still
    * collect, and the rows live only as long as the frame does. */
  def drain(stream: DataFrame, name: String, outputMode: String): DataFrame = {
    val spark = stream.sparkSession
    val sink = s"graft_${name}_sink"
    val q = stream.writeStream.format("memory").queryName(sink)
      .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
    try {
      awaitEnd(q, name)
      spark.table(sink)
    } finally spark.catalog.dropTempView(sink)
  }

  /** Runs `stream` once, writing `perBatch(batch)` of each micro-batch to
    * `sinkPath/batch=<id>` with OVERWRITE, so a replayed micro-batch
    * rewrites its own directory instead of appending duplicates —
    * foreachBatch's documented idempotence recipe. Readers take
    * `spark.read.parquet(sinkPath)`; the `batch` partition column rides
    * along. */
  def drainBatches(stream: DataFrame, name: String, sinkPath: String)
                  (perBatch: DataFrame => DataFrame): Unit =
    awaitEnd(startBatchSink(stream, sinkPath, None)(perBatch), name)

  private def startBatchSink(stream: DataFrame, sinkPath: String, checkpointLocation: Option[String])
                            (perBatch: DataFrame => DataFrame): StreamingQuery = {
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        perBatch(batch).write.mode("overwrite").parquet(s"$sinkPath/batch=$batchId")
      }
      .trigger(Trigger.AvailableNow())
    checkpointLocation.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** Waits for `q` to end (rethrowing its failure) and logs its progress
    * line: batches, input rows, state rows at the last batch, and each
    * phase's time summed over the batches. */
  private[graft] def awaitEnd(q: StreamingQuery, name: String): Unit =
    try q.awaitTermination() finally {
      val ps = q.recentProgress
      def ms(phase: String) = ps.map(p => Option(p.durationMs.get(phase)).fold(0L)(_.longValue)).sum
      val stateRows = ps.lastOption.fold(0L)(_.stateOperators.map(_.numRowsTotal).sum)
      log.info(s"graft.stream op=$name batches=${ps.length} input_rows=${ps.map(_.numInputRows).sum} " +
        s"state_rows=$stateRows " + phases.map(p => s"${p}_ms=${ms(p)}").mkString(" "))
    }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)

  case class Session(user_id: Long, start: java.sql.Timestamp, end: java.sql.Timestamp,
                     n_events: Int, total_value: Double)

  case class SessionState(startMs: Long, endMs: Long, n: Int, total: Double)

  /** Watermarked tumbling-window counts by event type.
    * Late events beyond `watermark` are dropped; window state is evicted
    * once the watermark passes the window end. */
  def windowedCounts(events: DataFrame, windowLength: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total_value"))

  /** Distinct-cardinality HLL registers per tumbling event-time window —
    * "distinct users per hour" as bounded streaming state, the windowed
    * composition of the register discipline in
    * [[graft.operators.Sketches.hllRegisters]] (same md5 slices: bucket =
    * hex[1..3] mod m, rho from the 60-bit hex[4..18] slice — both engines
    * replay every register).
    *
    * State is ≤ windows-in-horizon × m register rows: the max-aggregate
    * combines duplicates map-side within each micro-batch, and the
    * watermark evicts a window's registers once it closes — the exact
    * cardinality alternative (`count_distinct` per window) would hold
    * every distinct key in the horizon in state. APPEND output: a
    * window's registers emit ONCE, when the watermark passes the window
    * end — so under a single-batch AvailableNow run, windows still open
    * at the final watermark (max event time − delay) are NOT emitted;
    * the oracle replays that cutoff, the same stated-semantics trade as
    * [[sessionize]]. */
  def windowedHllRegisters(events: DataFrame, tsCol: String, keyCol: String,
                           m: Int = 256, windowLength: String = "1 hour",
                           watermark: String = "10 minutes"): DataFrame = {
    require(m >= 16 && 4096 % m == 0,
      s"m must divide 4096 for a uniform bucket reduction, got $m")
    def hexSlice(c: Column, s: Int, l: Int): Column =
      conv(substring(md5(c), s, l), 16, 10).cast("long")
    val k = col(s"`$keyCol`")
    val v = hexSlice(k, 4, 15)
    events.where(k.isNotNull)
      .withWatermark(tsCol, watermark)
      .select(col(tsCol),
        (hexSlice(k, 1, 3) % m).as("bucket"),
        when(v === 0L, lit(61L)).otherwise(lit(61L) - length(bin(v))).as("rho"))
      .groupBy(window(col(tsCol), windowLength), col("bucket"))
      .agg(max(col("rho")).as("rho"))
      .select(col("window.start").as("ws"), col("bucket"), col("rho"))
  }

  /** Gap-based sessionization with flatMapGroupsWithState and EVENT-TIME
    * timeouts: a session closes when a same-user event arrives past the gap
    * (emitted immediately) or when the watermark passes session end + gap
    * (timeout emission). Event-time timeouts keep micro-batch processing
    * deterministic — no wall-clock coupling — and bound state by watermark.
    *
    * EMIT-ON-CLOSE semantics (the standard append-mode trade, stated
    * plainly): a session is emitted the moment a later event closes it.
    * Append mode cannot retract, so an out-of-order event that arrives in
    * a LATER micro-batch and would have bridged an already-emitted gap
    * starts or extends a new session instead of rewriting the emitted one
    * — across-batch disorder can split one batch-semantics session into
    * two. Within a single micro-batch events are sorted before folding, so
    * single-batch input (the AvailableNow gate) reproduces
    * [[sessionizeBatch]] exactly. The alternative — holding every closed
    * session until the watermark passes end + gap — never emits tail
    * sessions under a terminating one-shot stream, which is the worse
    * contract for a bounded replay.
    *
    * `watermarkDelay` is how much event-time lateness to tolerate before
    * state can be finalized. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60_000L
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, evts, state: GroupState[SessionState]) =>
          def emit(s: SessionState) =
            Session(userId, new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs), s.n, s.total)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(emit(s))
          } else {
            val sorted = evts.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // merge needs BOTH bounds: `t - endMs <= gap` alone is
                // vacuously true for every t before the session and would
                // absorb an event arbitrarily far BEFORE the start
                case Some(s) if t >= s.startMs - gapMs && t - s.endMs <= gapMs =>
                  // late in-window events must not regress the session end
                  cur = Some(SessionState(math.min(s.startMs, t), math.max(s.endMs, t), s.n + 1, s.total + e.value))
                case Some(s) if t < s.startMs - gapMs =>
                  // an in-watermark straggler from before the current
                  // session: it can never merge with anything still open
                  // (the current session sits > gap after it), so it is a
                  // complete single-event session — emit, keep `cur`
                  closed ::= Session(userId, new java.sql.Timestamp(t),
                    new java.sql.Timestamp(t), 1, e.value)
                case Some(s) =>
                  closed ::= emit(s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fire once the watermark passes the session's gap horizon;
              // must be strictly beyond the current watermark
              state.setTimeoutTimestamp(math.max(s.endMs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming exact deduplication with BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps a key's state only until the
    * watermark passes its event time + delay, so the state store does not
    * grow with the full key history (plain `dropDuplicates` on a stream
    * would). The trade-off is the public contract of that operator: a
    * duplicate arriving after its first occurrence's state was evicted is
    * emitted again — callers choose `delay` as the max duplicate lag they
    * need to absorb (in a training-data ingest, the window between a
    * producer retry and the original).
    *
    * This is the streaming twin of [[graft.operators.Dedup.exact]]; at
    * 100 TB/day the state held at any moment is one entry per distinct key
    * seen inside the watermark horizon, partitioned by key hash across the
    * cluster's state stores. */
  /** Stream-stream interval join (attribution): each right-side event joins
    * left-side events of the same user that happened at most `gapMinutes`
    * earlier. Both sides carry watermarks and the join condition bounds
    * event time in BOTH directions, so the state store can evict a buffered
    * row once the other side's watermark passes its join horizon — the
    * property that keeps an unbounded stream join's state finite. Inner
    * join: matches emit as soon as both rows have arrived.
    *
    * Inputs must have columns (event_id, ts, user_id); output pairs are
    * (left_id, left_ts, user_id, right_id, right_ts). */
  def intervalJoin(left: DataFrame, right: DataFrame, gapMinutes: Int,
                   watermarkDelay: String = "1 hour"): DataFrame = {
    val l = left.select(col("event_id").as("left_id"), col("ts").as("left_ts"),
      col("user_id").as("user_id"))
      .withWatermark("left_ts", watermarkDelay)
    val r = right.select(col("event_id").as("right_id"), col("ts").as("right_ts"),
      col("user_id").as("r_user_id"))
      .withWatermark("right_ts", watermarkDelay)
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("right_ts") >= col("left_ts") &&
        col("right_ts") <= col("left_ts") + expr(s"INTERVAL $gapMinutes MINUTES"))
      .drop("r_user_id")
  }

  /** LEFT OUTER stream-stream interval join — the attribution shape
    * ("which clicks never converted within the window"): matched pairs
    * emit like [[intervalJoin]]; an UNMATCHED left row emits with nulls
    * on the right once the watermark guarantees no future right row can
    * land in its `[left_ts, left_ts + gap]` window — i.e. when the left
    * row's state expires. The two-sided time bound keeps BOTH state
    * stores watermark-bounded (same finiteness argument as the inner
    * join). Null emission is watermark-DRIVEN: rows near the stream's
    * tail whose window the final watermark never clears are held, not
    * emitted — callers comparing against a batch anti-join must restrict
    * to rows safely inside the horizon (the oracle query does exactly
    * that with an explicit safety band, so the comparison never sits on
    * Spark's internal state-eviction boundary). */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame, gapMinutes: Int,
                            watermarkDelay: String = "1 hour"): DataFrame = {
    val l = left.select(col("event_id").as("left_id"), col("ts").as("left_ts"),
      col("user_id").as("user_id"))
      .withWatermark("left_ts", watermarkDelay)
    val r = right.select(col("event_id").as("right_id"), col("ts").as("right_ts"),
      col("user_id").as("r_user_id"))
      .withWatermark("right_ts", watermarkDelay)
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("right_ts") >= col("left_ts") &&
        col("right_ts") <= col("left_ts") + expr(s"INTERVAL $gapMinutes MINUTES"),
      "left_outer")
      .drop("r_user_id")
  }

  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           tsCol: String = "ts", delay: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)

  /** Stream-static enrichment join — the other join shape every streaming
    * pipeline needs besides stream-stream: each micro-batch inner-joins a
    * bounded dimension table (user -> segment, doc -> source, ...). The
    * static side carries an explicit broadcast hint: it is re-planned per
    * micro-batch, and a small dimension must never force the unbounded
    * stream side through a shuffle. No watermark needed — the static side
    * holds no state between batches. */
  def enrichStatic(stream: DataFrame, dim: DataFrame,
                   streamKey: String, dimKey: String): DataFrame =
    // frame-qualified key resolution: bare col() against the joined schema
    // is AMBIGUOUS whenever the key name exists on both sides — including
    // the common same-name enrichment key
    stream.join(broadcast(dim), stream.col(s"`$streamKey`") === dim.col(s"`$dimKey`"), "inner")

  /** Streaming kNN probe — [[graft.operators.Similarity.knnProbeStored]]'s
    * streaming twin (r15 ask #7), completing the "every incremental batch
    * operator also streams" law for ANN: each micro-batch of vectors
    * probes the MATERIALIZED IVF store via `foreachBatch`, running the
    * batch operator VERBATIM per trigger — so the quantizer sidecar, the
    * foreign-quantizer integrity check, and the partition-pruned member
    * scan (only the batch's probed lists are read) all hold per
    * micro-batch. A stream-static join formulation would lose the
    * pruning: it cannot collect the batch's probed-list union at plan
    * time, so every trigger would scan the whole index. Index and
    * centroids load ONCE (static between batches, via the store's own
    * sidecar — the quantizer can't mismatch, so the sampled routing
    * check is skipped per trigger). No streaming state: each batch's
    * top-k closes within its trigger (vectors are not deduplicated
    * across batches — the batch operator's contract).
    *
    * Results land under `sinkPath/batch=<id>` with per-batch OVERWRITE
    * (the [[drainBatches]] sink). Pass `checkpointLocation` for a
    * restartable deployment; the default temp checkpoint suits one-shot
    * runs only. The caller waits for the returned query, e.g. with
    * [[awaitEnd]]. */
  def knnProbeStream(stream: DataFrame, storePath: String, idCol: String,
                     embCol: String, k: Int, nProbe: Int, sinkPath: String,
                     maxBucket: Long = 1000000L,
                     checkpointLocation: Option[String] = None): StreamingQuery = {
    val (index, cents) = graft.operators.Similarity.readIvfIndex(stream.sparkSession, storePath)
    val np = math.min(nProbe, cents.length)
    startBatchSink(stream, sinkPath, checkpointLocation) { batch =>
      graft.operators.Similarity
        .knnProbeStoredBatch(index, cents, batch, idCol, embCol, k, np, maxBucket)
    }
  }

  /** Perceptual-signature probe as a stream: each micro-batch of
    * (doc_id, sig) rows runs the BATCH store probe verbatim
    * ([[graft.operators.Dedup.probeSignatureStore]] — broadcast batch
    * pigeonhole rows, corpus store scanned, never shuffled) and lands
    * its cross pairs under `batch=<id>` with per-batch OVERWRITE (the
    * [[drainBatches]] sink). ZERO state store — the probe is stateless
    * per batch by construction. */
  def signatureProbeStream(sigStream: DataFrame, storePath: String, sinkPath: String,
                           maxHamming: Int = 3,
                           checkpointLocation: Option[String] = None): StreamingQuery =
    startBatchSink(sigStream, sinkPath, checkpointLocation) { batch =>
      graft.operators.Dedup.probeSignatureStore(batch.sparkSession, storePath, batch, maxHamming)
    }

  /** Batch-equivalent sessionization (same gap semantics) — lets the
    * streaming operator be cross-checked against a deterministic batch
    * computation in tests and backfills. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMs = gapMinutes * 60_000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || unix_millis(col("ts")) - unix_millis(col("prev_ts")) > gapMs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts")).as("start"), max(col("ts")).as("end"),
        count(lit(1)).cast("int").as("n_events"), sum(col("value")).as("total_value"))
      .drop("session_id")
  }
}

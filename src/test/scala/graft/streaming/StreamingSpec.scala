package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, raise_error, sum, when}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedCounts over a MemoryStream produces per-window per-type counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Streaming.Event]
    val q = Streaming.windowedCounts(input.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("wc_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Streaming.Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        Streaming.Event(2, ts("2024-01-01 10:55:00"), 2, "click", 2.0),
        Streaming.Event(3, ts("2024-01-01 11:05:00"), 1, "view", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to close the 10:00 and 11:00 windows
      input.addData(Streaming.Event(4, ts("2024-01-01 15:00:00"), 3, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("wc_out").collect()
        .map(r => (r.getAs[Timestamp]("ws").toString, r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
      assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L)))
      assert(rows.contains(("2024-01-01 11:00:00.0", "view", 1L)))
    } finally q.stop()
  }

  test("windowedHllRegisters: append emits closed windows only, registers are duplicate-insensitive") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Streaming.Event]
    val src = input.toDF().select(col("ts"), col("user_id").cast("string").as("uid"))
    val q = Streaming.windowedHllRegisters(src, "ts", "uid", m = 16,
        windowLength = "1 hour", watermark = "10 minutes")
      .writeStream.format("memory").queryName("whll_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Streaming.Event(1, ts("2024-01-01 10:05:00"), 7, "click", 1.0),
        Streaming.Event(2, ts("2024-01-01 10:06:00"), 7, "click", 1.0), // dup user
        Streaming.Event(3, ts("2024-01-01 10:07:00"), 8, "view", 1.0),
        Streaming.Event(4, ts("2024-01-01 11:30:00"), 9, "view", 1.0))
      q.processAllAvailable()
      // watermark = 11:30 - 10 min: the 10:00 window is closed, 11:00 open
      input.addData(Streaming.Event(5, ts("2024-01-01 12:30:00"), 9, "click", 1.0))
      q.processAllAvailable()
      val byWindow = spark.table("whll_out").collect()
        .map(r => (r.getAs[Timestamp]("ws").toString, r.getAs[Long]("bucket"), r.getAs[Long]("rho")))
        .groupBy(_._1)
      // only fully-closed windows emitted; 12:00 is still open
      assert(byWindow.keySet === Set("2024-01-01 10:00:00.0", "2024-01-01 11:00:00.0"))
      // the 10:00 window saw two DISTINCT users -> at most 2 registers
      // (duplicate events cannot add registers), each with rho >= 1
      val w10 = byWindow("2024-01-01 10:00:00.0")
      assert(w10.length <= 2 && w10.forall(_._3 >= 1L))
      // batch-equivalence: the streamed registers equal Sketches.hllRegisters
      // over the same closed window's keys
      val batch = graft.operators.Sketches.hllRegisters(
          Seq("7", "8").toDF("uid"), "uid", m = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(w10.map(t => (t._2, t._3)).toSet === batch)
    } finally q.stop()
  }

  test("enrichStatic joins each micro-batch against the broadcast dimension") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("cust_id", "segment")
    val input = MemoryStream[Streaming.Event]
    val out = Streaming.enrichStatic(input.toDF(), dim, "user_id", "cust_id")
      .groupBy(col("segment")).count()
    val q = out.writeStream.format("memory").queryName("es_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        Streaming.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Streaming.Event(2, ts("2024-01-01 10:01:00"), 2, "click", 1.0),
        Streaming.Event(3, ts("2024-01-01 10:02:00"), 1, "view", 1.0),
        Streaming.Event(4, ts("2024-01-01 10:03:00"), 9, "view", 1.0)) // no dim row -> dropped
      q.processAllAvailable()
      val rows = spark.table("es_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows === Map("gold" -> 2L, "silver" -> 1L))
    } finally q.stop()
  }

  test("streaming near-dup probe flags exactly what the batch operator flags") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      1L -> base,
      2L -> "a completely different document about other things entirely and nothing else",
      3L -> (base + " slightly extended")).toDF("doc_id", "text")
    val index = Dedup.bandIndex(corpus, "doc_id", "text", threshold = 0.8)
    val shingles = Dedup.shingleTable(corpus, "doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val probe = Dedup.incrementalNearDuplicatesStream(
      input.toDF().toDF("doc_id", "text"), index, shingles, "doc_id", "text", threshold = 0.8)
    val q = probe.writeStream.format("memory").queryName("ndp_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((100L, base + " x"), (101L, "fresh new content matching nothing at all"))
      q.processAllAvailable()
      // a second micro-batch with another near-dup
      input.addData((102L, base + " yz"))
      q.processAllAvailable()
      val got = spark.table("ndp_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batchTruth = Dedup.incrementalNearDuplicates(corpus,
        Seq(100L -> (base + " x"), 101L -> "fresh new content matching nothing at all",
          102L -> (base + " yz")).toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.8)(_.collect())
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === batchTruth)
      assert(got.map(_._1) === Set(100L, 102L))
    } finally q.stop()
  }

  test("intervalJoin pairs right events with in-gap left events per user") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val left = MemoryStream[Streaming.Event]
    val right = MemoryStream[Streaming.Event]
    val joined = Streaming.intervalJoin(left.toDF(), right.toDF(),
      gapMinutes = 30, watermarkDelay = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode(OutputMode.Append()).start()
    try {
      left.addData(
        Streaming.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 0),
        Streaming.Event(2, ts("2024-01-01 10:40:00"), 1, "click", 0),
        Streaming.Event(3, ts("2024-01-01 10:00:00"), 2, "click", 0))
      right.addData(
        // matches left 1 (25 min after) but NOT left 2 (before it)
        Streaming.Event(10, ts("2024-01-01 10:25:00"), 1, "purchase", 0),
        // matches left 2 (5 min after); left 1 is 45 min earlier — out of gap
        Streaming.Event(11, ts("2024-01-01 10:45:00"), 1, "purchase", 0),
        // other user: no cross-user pairing with user 1's clicks
        Streaming.Event(12, ts("2024-01-01 10:10:00"), 2, "purchase", 0))
      q.processAllAvailable()
      val pairs = spark.table("ij_out").collect()
        .map(r => (r.getAs[Long]("left_id"), r.getAs[Long]("right_id"))).toSet
      assert(pairs === Set((1L, 10L), (2L, 11L), (3L, 12L)))
    } finally q.stop()
  }

  test("dedupWithinWatermark drops in-horizon duplicates and re-emits after eviction") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Streaming.Event]
    val q = Streaming.dedupWithinWatermark(input.toDF(), Seq("event_id"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("dd_out").outputMode(OutputMode.Append()).start()
    try {
      // same-batch duplicate + cross-batch duplicate inside the horizon
      input.addData(
        Streaming.Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Streaming.Event(1, ts("2024-01-01 10:00:01"), 1, "click", 1.0),
        Streaming.Event(2, ts("2024-01-01 10:01:00"), 2, "view", 2.0))
      q.processAllAvailable()
      input.addData(Streaming.Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("dd_out").collect().map(_.getAs[Long]("event_id")).sorted.toSeq === Seq(1L, 2L))

      // advance the watermark far past id=1's eviction horizon, then replay
      // it: the documented bounded-state contract re-emits the key
      input.addData(Streaming.Event(3, ts("2024-01-01 12:00:00"), 3, "click", 3.0))
      q.processAllAvailable()
      input.addData(Streaming.Event(1, ts("2024-01-01 11:58:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val ids = spark.table("dd_out").collect().map(_.getAs[Long]("event_id")).sorted.toSeq
      assert(ids === Seq(1L, 1L, 2L, 3L), "evicted key must re-emit (bounded-state contract)")
    } finally q.stop()
  }

  test("runStage on a streaming view publishes the output and skips instrumentation") {
    // reference parity: streaming frames go through the SAME stage, but
    // persist/records/rate instrumentation is skipped
    // (MaskDataTransform.scala:156-169); complements the pure-projection
    // streaming test below
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.functions.MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)
    val meta = graft.operators.MaskTransform.treatmentsMetadata("mask_string(16, true, ${value})")
    val input = MemoryStream[(Long, String)]
    input.toDF().select(col("_1").as("id"), col("_2").as("name", meta))
      .createOrReplaceTempView("mask_stream_in")
    val (outDF, detail) = graft.operators.MaskTransform.runStage(
      spark, "mask_stream_in", "mask_stream_out", persist = true)
    assert(outDF.isStreaming)
    // streaming skips persist/records/rate instrumentation entirely
    assert(!detail.contains("records") && !detail.contains("outputColumns"))
    val q = spark.table("mask_stream_out")
      .writeStream.format("memory").queryName("mask_stream_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "alice"), (2L, "bob"), (3L, null))
      q.processAllAvailable()
      val rows = spark.table("mask_stream_sink").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows(1L).get.matches("[A-Za-z]{16}"))
      assert(rows(2L).get.matches("[A-Za-z]{16}"))
      assert(rows(1L).get != "alice" && rows(1L) != rows(2L))
      assert(rows(3L).isEmpty, "null passes through the treatment")
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Streaming.Event]
    val q = Streaming.windowedCounts(input.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("wc_late").outputMode(OutputMode.Append()).start()
    try {
      input.addData(Streaming.Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0))
      q.processAllAvailable()
      input.addData(Streaming.Event(2, ts("2024-01-01 20:00:00"), 2, "click", 1.0)) // watermark -> 19:00
      q.processAllAvailable()
      input.addData(Streaming.Event(3, ts("2024-01-01 10:10:00"), 1, "click", 1.0)) // too late
      q.processAllAvailable()
      input.addData(Streaming.Event(4, ts("2024-01-02 10:00:00"), 3, "click", 1.0)) // close all
      q.processAllAvailable()
      val clicks10 = spark.table("wc_late").collect()
        .filter(r => r.getAs[Timestamp]("ws").toString.startsWith("2024-01-01 10:"))
        .map(_.getAs[Long]("n")).sum
      assert(clicks10 === 1L, "the late event must not be counted")
    } finally q.stop()
  }

  test("streaming sessionize emits gap-closed sessions; batch equivalent agrees") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      Streaming.Event(1, ts("2024-01-01 10:00:00"), 1, "a", 1.0),
      Streaming.Event(2, ts("2024-01-01 10:10:00"), 1, "b", 2.0),
      Streaming.Event(3, ts("2024-01-01 12:00:00"), 1, "c", 4.0), // new session (gap > 30m)
      Streaming.Event(4, ts("2024-01-01 10:05:00"), 2, "d", 8.0))

    // batch path
    val batch = Streaming.sessionizeBatch(events.toDF(), 30).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_events"), r.getAs[Double]("total_value"))).toSet
    assert(batch === Set((1L, 2, 3.0), (1L, 1, 4.0), (2L, 1, 8.0)))

    // streaming path: in-batch session close (user 1's first session closes
    // when the 12:00 event arrives in a later batch)
    val input = MemoryStream[Streaming.Event]
    val q = Streaming.sessionize(input.toDS(), 30)
      .writeStream.format("memory").queryName("sess_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(events(0), events(1), events(3))
      q.processAllAvailable()
      input.addData(events(2)) // forces user 1's open session to close
      q.processAllAvailable()
      val sessions = spark.table("sess_out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_events"), r.getAs[Double]("total_value"))).toSet
      assert(sessions.contains((1L, 2, 3.0)), s"closed session missing; got $sessions")
      // watermark far past every gap horizon -> remaining sessions time out
      input.addData(Streaming.Event(9, ts("2024-01-02 00:00:00"), 9, "z", 0.0))
      q.processAllAvailable()
      input.addData(Streaming.Event(10, ts("2024-01-03 00:00:00"), 9, "z", 0.0))
      q.processAllAvailable()
      val all = spark.table("sess_out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_events"), r.getAs[Double]("total_value"))).toSet
      assert(all.contains((2L, 1, 8.0)), s"timed-out session missing; got $all")
      assert(all.contains((1L, 1, 4.0)), s"timed-out session missing; got $all")
    } finally q.stop()
  }

  test("an in-watermark straggler far BEFORE the open session is its own session, never merged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Streaming.Event]
    // 5-minute gap, 2-hour lateness tolerance: the straggler is admissible
    // but sits 50 minutes before the open session's start
    val q = Streaming.sessionize(input.toDS(), gapMinutes = 5, watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("sess_straggler").outputMode(OutputMode.Append()).start()
    try {
      input.addData(Streaming.Event(1, ts("2024-01-01 12:00:00"), 1, "a", 1.0))
      q.processAllAvailable()
      input.addData(Streaming.Event(2, ts("2024-01-01 11:10:00"), 1, "b", 2.0))
      q.processAllAvailable()
      // flush everything with a far-future watermark advance
      input.addData(Streaming.Event(9, ts("2024-01-05 00:00:00"), 9, "z", 0.0))
      q.processAllAvailable()
      input.addData(Streaming.Event(10, ts("2024-01-09 00:00:00"), 9, "z", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_straggler").collect()
        .filter(_.getAs[Long]("user_id") == 1L)
        .map(r => (r.getAs[Int]("n_events"), r.getAs[Double]("total_value"))).toSet
      // the old `t - endMs <= gap` predicate merged them into one n=2 session
      assert(sessions === Set((1, 1.0), (1, 2.0)), s"straggler merged: $sessions")
    } finally q.stop()
  }

  test("enrichStatic resolves a same-name join key without ambiguity") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val out = Streaming.enrichStatic(
      input.toDS().toDF("user_id", "ev"), dim, "user_id", "user_id")
    val q = out.writeStream.format("memory").queryName("enrich_same_key")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "click"))
      q.processAllAvailable()
      val rows = spark.table("enrich_same_key").collect()
      assert(rows.length === 1 && rows(0).getAs[String]("tier") === "gold")
    } finally q.stop()
  }

  test("late in-window events do not regress a session's end (boundary stability)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Streaming.Event]
    val q = Streaming.sessionize(input.toDS(), 30)
      .writeStream.format("memory").queryName("sess_late").outputMode(OutputMode.Append()).start()
    try {
      input.addData(Streaming.Event(1, ts("2024-01-01 10:00:00"), 1, "a", 1.0))
      q.processAllAvailable()
      // 5-min-late event, still within watermark; must merge, not regress end
      input.addData(Streaming.Event(2, ts("2024-01-01 09:55:00"), 1, "b", 2.0))
      q.processAllAvailable()
      // 10:26 is 26 min after the true latest event (10:00) -> SAME session
      input.addData(Streaming.Event(3, ts("2024-01-01 10:26:00"), 1, "c", 4.0))
      q.processAllAvailable()
      // close everything via watermark advance
      input.addData(Streaming.Event(9, ts("2024-01-02 12:00:00"), 9, "z", 0.0))
      q.processAllAvailable()
      input.addData(Streaming.Event(10, ts("2024-01-03 12:00:00"), 9, "z", 0.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_late").collect()
        .filter(_.getAs[Long]("user_id") == 1L)
        .map(r => (r.getAs[Int]("n_events"), r.getAs[Double]("total_value")))
      assert(sessions.toSeq === Seq((3, 7.0)), s"one merged session expected, got ${sessions.toSeq}")
    } finally q.stop()
  }

  /** Asserts what every [[Streaming.drain]] run leaves behind: no sink view
    * and no active stream, with `out` still collecting. */
  private def assertDrained(name: String, out: DataFrame): Array[Row] = {
    assert(!spark.catalog.tableExists(s"graft_${name}_sink"), "drain left its sink view")
    assert(spark.streams.active.isEmpty, "drain left an active stream")
    out.collect()
  }

  test("drain in append mode equals the batch computation of the same input") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Int]
    input.addData(1 to 20: _*)
    def evens(df: DataFrame) = df.where(col("value") % 2 === 0).select((col("value") * 10).as("v"))
    val out = Streaming.drain(evens(input.toDF()), "spec_append", "append")
    assert(assertDrained("spec_append", out).map(_.getInt(0)).sorted.toSeq ===
      evens((1 to 20).toDF("value")).collect().map(_.getInt(0)).sorted.toSeq)
  }

  test("drain in complete mode equals the batch computation of the same input") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Int]
    input.addData(1 to 20: _*)
    def counts(df: DataFrame) = df.groupBy((col("value") % 3).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
    val out = Streaming.drain(counts(input.toDF()), "spec_complete", "complete")
    // a frame derived from the drained one collects too
    val derived = out.where(col("k") > 0)
    assert(assertDrained("spec_complete", out).map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet ===
      counts((1 to 20).toDF("value")).collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet)
    assert(derived.collect().map(_.getInt(0)).toSet === Set(1, 2))
  }

  test("a stream whose batch throws makes drain throw and leaves no active query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Int]
    input.addData(1 to 5: _*)
    val failing = input.toDF()
      .select(when(col("value") > 2, raise_error(lit("drain spec failure"))).otherwise(col("value")).as("v"))
    intercept[StreamingQueryException] {
      Streaming.drain(failing, "spec_failing", "append")
    }
    assert(!spark.catalog.tableExists("graft_spec_failing_sink"))
    assert(spark.streams.active.isEmpty)
  }

  test("knnProbeStream equals the batch probe edge-for-edge (MemoryStream agreement)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Similarity
    // deterministic corpus/batch vectors (integer grid — no float seams)
    def vec(seed: Long): Array[Float] =
      Array.tabulate(8)(d => (((seed * 31 + d * 7) % 19) - 9).toFloat / 9f)
    val corpus = (100L until 160L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val batch = (0L until 10L).map(i => (i, vec(i * 13 + 3))).toSeq
    val cents = Similarity.sampleCentroids(corpus, "vec_id", "embedding", 4)
    graft.SparkTestBase.withTargetDir("knn_stream_spec") { d =>
      val dir = new java.io.File(d)
      val store = new java.io.File(dir, "store").getAbsolutePath
      val sink = new java.io.File(dir, "sink").getAbsolutePath
      Similarity.writeIvfIndex(corpus, "vec_id", "embedding", cents, store)
      val input = MemoryStream[(Long, Array[Float])]
      input.addData(batch: _*)
      val q = Streaming.knnProbeStream(
        input.toDF().toDF("vec_id", "embedding"), store,
        "vec_id", "embedding", k = 2, nProbe = 4, sinkPath = sink)
      q.awaitTermination()
      val streamed = spark.read.parquet(sink)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      val batched = Similarity.knnProbeStored(spark, store,
          batch.toDF("vec_id", "embedding"), "vec_id", "embedding", k = 2, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      assert(streamed.nonEmpty)
      assert(streamed === batched,
        "streaming the probe changed the graph vs the batch operator")
      // replay idempotence (reviewer r15): a second run over the same
      // input into the SAME sink — the lost-checkpoint restart scenario —
      // must OVERWRITE its per-batch directory, not append duplicates
      val replay = MemoryStream[(Long, Array[Float])]
      replay.addData(batch: _*)
      Streaming.drainBatches(replay.toDF().toDF("vec_id", "embedding"), "knn_replay", sink) { b =>
        Similarity.knnProbeStored(spark, store, b, "vec_id", "embedding", k = 2, nProbe = 4)
      }
      val replayed = spark.read.parquet(sink)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      assert(replayed === streamed,
        "a replayed micro-batch duplicated edges in the sink")
    }
  }

  test("the masking projection passes streaming frames through (reference parity)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.types._
    graft.functions.MaskUdfs.register(spark, SparkTestBase.fastCodec, SparkTestBase.passphrase)
    val input = MemoryStream[String]
    val meta = graft.operators.MaskTransform.treatmentsMetadata("mask_string(16, true, ${value})")
    val tagged = input.toDF().select(col("value").as("name", meta))
    val masked = graft.operators.MaskTransform(tagged)
    assert(masked.isStreaming, "masking must not break streaming")
    val q = masked.writeStream.format("memory").queryName("mask_stream").outputMode(OutputMode.Append()).start()
    try {
      input.addData("alice", "bob")
      q.processAllAvailable()
      val out = spark.table("mask_stream").collect().map(_.getString(0))
      assert(out.length === 2)
      assert(out.forall(_.length === 16))
    } finally q.stop()
  }

  test("mask_stream leaves the session's temp views as it found them") {
    import spark.implicits._
    def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    SparkTestBase.withTargetDir("graft_mask_stream") { dir =>
      Seq(10L -> "Ada", 11L -> "Bo", 20L -> "Cy").toDF("c_custkey", "c_name")
        .write.parquet(s"$dir/customer.parquet")
      val before = views
      val row = graft.SparkEntry.named("mask_stream").head.run(spark, dir).head()
      assert(row.getLong(0) === 2L && row.getLong(2) === 2L) // both streamed rows match the batch mask
      assert(views === before)
    }
  }
}

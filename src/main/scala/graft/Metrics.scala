package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** What one measured body made Spark do. Jobs, stages, tasks and shuffle
  * bytes follow from the plan at a fixed data size and core count; CPU and
  * GC time do not. `cachedRddsLeft` counts the RDDs the body persisted and
  * did not release. */
final case class Counters(
    jobs: Long,
    stages: Long,
    tasks: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    executorCpuNs: Long,
    gcMs: Long,
    cachedRddsLeft: Int) {
  def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
}

/** The one Spark listener of graft's harnesses and tests. */
object Metrics {

  private final class Listener extends SparkListener {
    val jobs, stages, tasks, shuffleRead, shuffleWrite, cpuNs, gcMs = new LongAdder
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        cpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
      }
    }
  }

  /** `body`'s result and the counters of every Spark event it caused. The
    * listener bus is drained before the listener is added, so no earlier
    * event is counted, and again before the counters are read, so no event
    * of `body` is missed. */
  def measure[T](spark: SparkSession)(body: => T): (T, Counters) = {
    val sc = spark.sparkContext
    GraftBridge.drainListenerBus(sc)
    val persistedBefore = sc.getPersistentRDDs.keySet.toSet
    val l = new Listener
    sc.addSparkListener(l)
    try {
      val result = body
      GraftBridge.drainListenerBus(sc)
      (result, Counters(l.jobs.sum, l.stages.sum, l.tasks.sum, l.shuffleRead.sum,
        l.shuffleWrite.sum, l.cpuNs.sum, l.gcMs.sum,
        sc.getPersistentRDDs.keys.count(!persistedBefore(_))))
    } finally sc.removeSparkListener(l)
  }
}

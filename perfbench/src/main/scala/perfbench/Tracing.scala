package perfbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.codec.Codec

/** KDF counters shared by every copy of a [[CountingCodec]]. Spark
  * deserializes the UDF closures, and the codec inside them, once per task,
  * so per-instance counters would be lost; in `local[N]` every task runs in
  * this JVM and these statics see them all. */
object CodecCounters {
  val calls = new LongAdder
  val nanos = new LongAdder
  def reset(): Unit = { calls.reset(); nanos.reset() }
}

/** A delegating [[Codec]] that counts KDF calls and their busy time. It
  * returns the inner codec's `name` and `describe`, so graft's memo keys
  * and masks are the same as with the inner codec. */
final class CountingCodec(val inner: Codec) extends Codec {
  def name: String = inner.name
  def describe: String = inner.describe

  private def timed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally {
      CodecCounters.nanos.add(System.nanoTime() - t0)
      CodecCounters.calls.increment()
    }
  }

  def encrypt(value: Array[Char], salt: Array[Byte]): Array[Byte] = timed(inner.encrypt(value, salt))

  override def hash(value: String, deterministic: Boolean, passphrase: Array[Byte]): Array[Byte] =
    if (deterministic) timed(inner.hash(value, deterministic, passphrase))
    else inner.hash(value, deterministic, passphrase)
}

/** One traced interval: an op (the root), a pipeline stage or registry
  * query, or a Spark job. Times are epoch milliseconds; `detail` holds a
  * job's call site. */
final case class Span(id: String, parent: String, name: String, kind: String,
                      startMs: Double, endMs: Double, detail: String = "")

/** What one Spark job did, summed over its tasks. */
final class JobStats(val id: Int, val startMs: Long, val callSite: String) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var readBytes = 0L
  var writeBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
}

/** Plan traversal that also descends into adaptive query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper

/** Spark listener, query-execution listener and streaming listener for one
  * traced op. It is added before the op and removed after [[drain]], so
  * every event it sees belongs to the op. */
final class OpTracer(spark: SparkSession) {
  private val sentinelGroup = "perfbench-sentinel"
  private val lock = new Object
  val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private var sentinelDone = false
  var filesWritten = 0L
  var streamsStarted = 0
  var streamsEnded = 0
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  // call site of each SQL execution: adaptive execution submits a query's
  // jobs from a pool thread, so only the execution start carries the
  // caller's stack
  private val executionSites = mutable.HashMap.empty[Long, String]

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized { executionSites(s.executionId) = s.details }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      if (!prop("spark.jobGroup.id").contains(sentinelGroup)) {
        val site = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
          .flatMap(id => executionSites.get(id.toLong))
          .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
        jobs(e.jobId) = new JobStats(e.jobId, e.time, site)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId) match {
        case Some(j) => j.endMs = e.time
        case None => sentinelDone = true; lock.notifyAll()
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid) if m != null) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.readBytes += m.inputMetrics.bytesRead
        j.writeBytes += m.outputMetrics.bytesWritten
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val writeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val files = PlanWalk.collect(qe.executedPlan) { case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      lock.synchronized { filesWritten += files }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized { streamsStarted += 1 }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      lock.synchronized { streamsEnded += 1; lock.notifyAll() }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(writeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the listeners have seen every event of the op, then
    * removes them. Listener events arrive asynchronously; a one-task
    * sentinel job queued behind the op's events marks the end of the
    * shared queue, and each stream's termination marks the end of its own. */
  def drain(timeoutMs: Long = 30000): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(sentinelGroup, "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized {
      while ((!sentinelDone || streamsEnded < streamsStarted) && System.currentTimeMillis() < deadline)
        lock.wait(50)
    }
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(writeListener)
    spark.streams.removeListener(streamListener)
  }
}

package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-only access to two `private[spark]` members of SparkContext, which
  * is why this file sits in package `org.apache.spark`:
  *   - `checkpointDir`, so a spec can set a reliable checkpoint dir for one
  *     block and clear it again. Iterative operators pick reliable
  *     checkpoints whenever a dir is set, so a dir left behind would switch
  *     every later spec in the shared JVM onto them;
  *   - `listenerBus`, so a job count is read after every event is
  *     delivered instead of racing the asynchronous bus. */
object GraftTestHooks {

  /** Runs `body` with a fresh temp dir as the context's checkpoint dir,
    * then unsets the dir and deletes it. `body` receives the temp dir
    * (Spark writes under a random subdirectory of it). */
  def withCheckpointDir[T](sc: SparkContext)(body: java.io.File => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-").toFile
    try {
      sc.setCheckpointDir(dir.getAbsolutePath)
      body(dir)
    } finally {
      sc.checkpointDir = None
      org.apache.spark.util.Utils.deleteRecursively(dir)
    }
  }

  /** Regular files anywhere under `dir`. */
  def filesUnder(dir: java.io.File): Long = {
    val paths = java.nio.file.Files.walk(dir.toPath)
    try paths.filter(java.nio.file.Files.isRegularFile(_)).count() finally paths.close()
  }

  /** `body`'s result and the number of Spark jobs it started. The bus is
    * drained before the listener is added (so no earlier job is counted)
    * and again before it is read (so no job of `body` is missed). */
  def countJobs[T](sc: SparkContext)(body: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}

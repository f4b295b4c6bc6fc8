package org.apache.spark

/** Test-only access to the `private[spark]` `checkpointDir` of
  * SparkContext, which is why this file sits in package `org.apache.spark`:
  * a spec can set a reliable checkpoint dir for one block and clear it
  * again. Iterative operators pick reliable checkpoints whenever a dir is
  * set, so a dir left behind would switch every later spec in the shared
  * JVM onto them. */
object GraftTestHooks {

  /** Runs `body` with a fresh dir under `target/` as the context's
    * checkpoint dir, then unsets the dir and deletes it. `body` receives
    * the dir (Spark writes under a random subdirectory of it). */
  def withCheckpointDir[T](sc: SparkContext)(body: java.io.File => T): T =
    graft.SparkTestBase.withTargetDir("graft-ckpt-") { path =>
      val dir = new java.io.File(path).getAbsoluteFile
      try {
        sc.setCheckpointDir(dir.getAbsolutePath)
        body(dir)
      } finally sc.checkpointDir = None
    }

  /** Regular files anywhere under `dir`. */
  def filesUnder(dir: java.io.File): Long = {
    val paths = java.nio.file.Files.walk(dir.toPath)
    try paths.filter(java.nio.file.Files.isRegularFile(_)).count() finally paths.close()
  }
}

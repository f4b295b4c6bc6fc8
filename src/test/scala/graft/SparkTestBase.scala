package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for suites (one JVM, sequential sbt tests). */
object SparkTestBase {
  lazy val spark: SparkSession = Defaults.localSession(4, 4, Map("spark.app.name" -> "graft-test"))

  /** 64-char test passphrase (any deployment ships its own via env). */
  val passphrase: Array[Byte] = ("graft-test-passphrase-0123456789" * 2).getBytes

  /** KDF cheap enough for tests while exercising the real code path. */
  def fastCodec: graft.codec.Codec = new graft.codec.Pbkdf2Codec(64, 64)

  /** Runs `body` on a fresh directory `target/<prefix>*`, deleted afterwards. */
  def withTargetDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get("target"), prefix).toFile
    try body(dir.getPath) finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}

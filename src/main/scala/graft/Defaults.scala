package graft

import org.apache.spark.sql.SparkSession

import graft.codec.{Codec, Pbkdf2Codec}
import graft.functions.MaskUdfs

/** Session wiring for DRIVER-RUN entry points ONLY (Verify/Bench run with no
  * env configured): the local-session builder they share, and the SQL
  * function table registered with a default codec and passphrase. Env vars
  * win when present; otherwise a fixed test profile is used: PBKDF2 at 1024
  * iterations — cheap enough to run per-round over sf0.1 while exercising
  * the production code path. (The KDF strength is a config knob, not a code
  * path: Argon2id at production cost is selected purely via env.)
  *
  * The production packaging ([[GraftExtensions]]) injects the same function
  * table but does NOT use this fallback: it fails closed on missing
  * ETL_CONF_MASK_DATA_* configuration like the reference, because a silent
  * fallback to a repo-published passphrase would make deterministic masks
  * dictionary-reversible.
  */
object Defaults {

  val testPassphrase: Array[Byte] =
    "graft-spark-masking-default-test-passphrase-0123456789abcdefghij".getBytes // 64 chars

  def passphrase: Array[Byte] =
    if (sys.env.contains("ETL_CONF_MASK_DATA_PASSPHRASE")) Codec.passphraseFromEnv else testPassphrase

  def codec: Codec =
    if (sys.env.contains("ETL_CONF_MASK_DATA_CODEC")) Codec.fromEnv else new Pbkdf2Codec(1024, 64)

  /** Register every graft SQL function on the session (idempotent). */
  def registerAll(spark: SparkSession): Unit = MaskUdfs.register(spark, codec, passphrase)

  /** A `local[cpus]` session with `cpus` shuffle partitions (see below). */
  def localSession(cpus: Int): SparkSession = localSession(cpus, cpus)

  /** A `local[cpus]` session with `shufflePartitions` shuffle partitions,
    * session timezone UTC (events.ts is TIMESTAMP_NTZ; queries cast it to
    * (ltz) timestamp, exact only under a pinned UTC session timezone), the
    * UI off and log level WARN; `extra` adds further Spark settings. */
  def localSession(cpus: Int, shufflePartitions: Int,
                   extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

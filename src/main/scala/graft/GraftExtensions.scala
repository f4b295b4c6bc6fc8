package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.MaskUdfs

/** Spark-native plugin packaging: inject the whole graft SQL function table
  * ([[MaskUdfs.functions]], the same rows `Defaults.registerAll` registers on
  * a live session) at session build time via
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * (the Spark-idiomatic equivalent of the reference's ServiceLoader-discovered
  * UDFPlugin). Codec and passphrase resolve from the same ETL_CONF_MASK_DATA_*
  * environment the reference uses and FAIL CLOSED like the reference: a
  * deployment with no ETL_CONF_MASK_DATA_PASSPHRASE throws when the extension
  * is applied instead of silently masking with the repo-published test
  * passphrase (which would be dictionary-reversible for enumerable values).
  * The test profile needs an explicit opt-in: GRAFT_ALLOW_TEST_PROFILE=true in
  * the environment, or -Dgraft.allowTestProfile=true (tests).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    val testProfileAllowed: Boolean =
      sys.env.get("GRAFT_ALLOW_TEST_PROFILE").contains("true") ||
        sys.props.get("graft.allowTestProfile").contains("true")
    // STRICT vals, forced here on the DRIVER at registration time: a lazy
    // capture would be first forced wherever a task runs, reading
    // ETL_CONF_MASK_DATA_* from the EXECUTOR environment — a driver/executor
    // env mismatch would silently produce inconsistently-keyed masks, and a
    // missing executor env would fail mid-job instead of at session build
    // (the reference fails at registration: MaskDataPlugin.scala:31-38).
    val codec = if (testProfileAllowed) Defaults.codec else graft.codec.Codec.fromEnv
    val pp = if (testProfileAllowed) Defaults.passphrase else graft.codec.Codec.passphraseFromEnv
    MaskUdfs.functions(codec, pp).foreach(ext.injectFunction)
  }
}

package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

import graft.codec.Codec

/** graft's whole SQL function surface, defined once: [[functions]] is the
  * one table both entry points register — [[register]] on a live session
  * (what `Defaults.registerAll` calls) and `graft.GraftExtensions` at
  * session build time — so both expose the same names with the same bodies.
  *
  * The masking family matches the reference plugin registration
  * (/root/reference/src/main/scala/ai/tripl/arc/udf/MaskDataPlugin.scala:60-65):
  *
  *   mask_string(length INT, deterministic BOOL, value STRING) -> STRING
  *   mask_string_alphabet(length INT, alphabet STRING, deterministic BOOL, value STRING) -> STRING
  *   mask_string_alphabet_format(length INT, alphabet STRING, format STRING, deterministic BOOL, value STRING) -> STRING
  *   mask_date(range INT, deterministic BOOL, value DATE) -> DATE
  *   mask_timestamp(range INT, deterministic BOOL, value TIMESTAMP) -> TIMESTAMP
  *   mask_decimal(range DECIMAL, deterministic BOOL, value DECIMAL) -> DECIMAL
  *
  * All are `asNondeterministic`: with `deterministic=false` the reference's
  * hash is pure SecureRandom, and Catalyst must not CSE, re-execute, or
  * reorder such calls (the reference registers them as plain deterministic
  * UDFs — a latent correctness bug, SURVEY.md §2.6 Q2). The `mask_*_det`
  * twins hard-wire deterministic=true and keep Catalyst optimizations.
  * Dates and timestamps bind as `java.time` values, which Spark converts
  * whatever `spark.sql.datetime.java8API.enabled` says, so one proleptic,
  * JVM-timezone-free path serves every session.
  *
  * Beside them: `mask_name` / `mask_email` ([[Vocab]], en-AU), the FF1
  * family ([[Fpe]]: deterministic encryption, so Catalyst-deterministic),
  * and the `graft_*` analytics functions, which build native expressions
  * (no UDF wrapper — they stay codegen'd in SQL too).
  */
object MaskUdfs {

  /** One SQL function, in the shape `SparkSessionExtensions.injectFunction` takes. */
  type SqlFunction = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Register with codec + passphrase resolved from the environment
    * (ETL_CONF_MASK_DATA_*), like the reference plugin. */
  def register(spark: SparkSession): Unit =
    register(spark, Codec.fromEnv, Codec.passphraseFromEnv)

  def register(spark: SparkSession, codec: Codec, passphrase: Array[Byte]): Unit =
    functions(codec, passphrase).foreach(GraftBridge.registerFunction(spark, _))

  def functions(codec: Codec, passphrase: Array[Byte]): Seq[SqlFunction] = {
    import MaskFunctions.{DefaultAlphabet, maskDecimal, maskInstant, maskLocalDate, maskString}
    import java.time.{Instant, LocalDate}
    import java.math.{BigDecimal => JDecimal}
    val (fpeMask, fpeUnmask, fpeKey) = (Fpe.mask(passphrase), Fpe.unmask(passphrase), Fpe.deriveKey(passphrase))
    Seq(
      udfRow("mask_string", "mask_string(length, deterministic, value)")(
        udf((l: Int, d: Boolean, v: String) =>
          maskString(codec, passphrase)(l, DefaultAlphabet, None, d, v)).asNondeterministic()),
      udfRow("mask_string_alphabet", "mask_string_alphabet(length, alphabet, deterministic, value)")(
        udf((l: Int, a: String, d: Boolean, v: String) =>
          maskString(codec, passphrase)(l, a, None, d, v)).asNondeterministic()),
      udfRow("mask_string_alphabet_format",
        "mask_string_alphabet_format(length, alphabet, format, deterministic, value)")(
        udf((l: Int, a: String, f: String, d: Boolean, v: String) =>
          maskString(codec, passphrase)(l, a, Option(f), d, v)).asNondeterministic()),
      udfRow("mask_date", "mask_date(range, deterministic, value)")(
        udf((r: Int, d: Boolean, v: LocalDate) =>
          maskLocalDate(codec, passphrase)(r, d, v)).asNondeterministic()),
      udfRow("mask_timestamp", "mask_timestamp(range, deterministic, value)")(
        udf((r: Int, d: Boolean, v: Instant) =>
          maskInstant(codec, passphrase)(r, d, v)).asNondeterministic()),
      udfRow("mask_decimal", "mask_decimal(range, deterministic, value)")(
        udf((r: JDecimal, d: Boolean, v: JDecimal) =>
          maskDecimal(codec, passphrase)(r, d, v)).asNondeterministic()),
      // deterministic twins: safe for CSE/pushdown, usable as join keys
      udfRow("mask_string_det", "mask_string_det(length, value)")(
        udf((l: Int, v: String) => maskString(codec, passphrase)(l, DefaultAlphabet, None, true, v))),
      udfRow("mask_date_det", "mask_date_det(range, value)")(
        udf((r: Int, v: LocalDate) => maskLocalDate(codec, passphrase)(r, true, v))),
      udfRow("mask_timestamp_det", "mask_timestamp_det(range, value)")(
        udf((r: Int, v: Instant) => maskInstant(codec, passphrase)(r, true, v))),
      udfRow("mask_decimal_det", "mask_decimal_det(range, value)")(
        udf((r: JDecimal, v: JDecimal) => maskDecimal(codec, passphrase)(r, true, v))),
      udfRow("mask_name", "mask_name(category, deterministic, value)")(
        udf((c: String, d: Boolean, v: String) =>
          Vocab.pick(codec, passphrase)("en-AU", c, d, v)).asNondeterministic()),
      udfRow("mask_email", "mask_email(deterministic, value)")(
        udf((d: Boolean, v: String) => Vocab.maskEmail(codec, passphrase)(d, v)).asNondeterministic()),
      // FF1 FPE is deterministic ENCRYPTION — no nondeterministic flag, so
      // Catalyst may CSE/push it like any pure function
      udfRow("mask_fpe", "mask_fpe(alphabet, tweak, value) - NIST SP 800-38G FF1 format-preserving mask")(
        udf(fpeMask)),
      udfRow("unmask_fpe", "unmask_fpe(alphabet, tweak, value) - exact inverse of mask_fpe")(
        udf(fpeUnmask)),
      udfRow("mask_fpe_number",
        "mask_fpe_number(min, max, tweak, value) - rank-then-encipher FF1 mask within [min, max]")(
        udf((lo: Long, hi: Long, t: String, v: java.lang.Long) => Fpe.maskLong(lo, hi, t, v, fpeKey))),
      udfRow("unmask_fpe_number", "unmask_fpe_number(min, max, tweak, value) - exact inverse of mask_fpe_number")(
        udf((lo: Long, hi: Long, t: String, v: java.lang.Long) =>
          Fpe.maskLong(lo, hi, t, v, fpeKey, forward = false))),
      udfRow("mask_fpe_date",
        "mask_fpe_date(min, max, tweak, value) - rank-then-encipher FF1 mask within [min, max]")(
        udf((lo: LocalDate, hi: LocalDate, t: String, v: LocalDate) => Fpe.maskDate(lo, hi, t, v, fpeKey))),
      udfRow("unmask_fpe_date", "unmask_fpe_date(min, max, tweak, value) - exact inverse of mask_fpe_date")(
        udf((lo: LocalDate, hi: LocalDate, t: String, v: LocalDate) =>
          Fpe.maskDate(lo, hi, t, v, fpeKey, forward = false))),

      colRow("graft_dot", "graft_dot(array<float>, array<float>) - embedding dot product", 2) {
        case Seq(a, b) => graft.plans.VectorExpressions.dot(a, b)
      },
      colRow("graft_simhash64", "graft_simhash64(array<string>) - 64-bit SimHash of a token array", 1) {
        case Seq(t) => graft.plans.VectorExpressions.simhash64(t)
      },
      colRow("graft_quality", "graft_quality(text) - [0,100] curation quality score", 1) {
        case Seq(t) => graft.operators.TextAnalysis.qualityScore(t)
      },
      colRow("graft_lang", "graft_lang(text) - predicted language code (en/de/fr/es/zh)", 1) {
        case Seq(t) => graft.operators.TextAnalysis.languageId(t)
      },
      colRow("graft_langid",
        "graft_langid(text) - Cavnar-Trenkle n-gram-profile language code (11 languages)", 1) {
        case Seq(t) => graft.operators.LangId.langid(t)
      },
      colRow("graft_fingerprint", "graft_fingerprint(text) - canonical-content xxhash64", 1) {
        case Seq(t) => graft.operators.TextAnalysis.fingerprint(t)
      },
      colRow("graft_url_host", "graft_url_host(url) - lowercased host, port/userinfo/path stripped", 1) {
        case Seq(u) => graft.plans.UrlExpressions.urlHost(u)
      },
      colRow("graft_url_domain",
        "graft_url_domain(url) - registrable domain under public-suffix rules (null for IPs/single labels)", 1) {
        case Seq(u) => graft.plans.UrlExpressions.urlDomain(u)
      },
      colRow("graft_url_canonical",
        "graft_url_canonical(url) - canonical URL (case/port/fragment/tracker-param/param-order normalized)", 1) {
        case Seq(u) => graft.plans.UrlExpressions.urlCanonical(u)
      },
      colRow("graft_hash_bucket",
        "graft_hash_bucket(id) - deterministic 32-bit sample hash; WHERE graft_hash_bucket(id) < cutoff", 1) {
        case Seq(id) => graft.operators.Sampling.idHash(id)
      },
      colRow("graft_max_abs", "graft_max_abs(array<float>) - max absolute element", 1) {
        case Seq(v) => graft.plans.QuantExpressions.maxAbs(v)
      },
      colRow("graft_quantize_int8", "graft_quantize_int8(array<float>, scale) - symmetric int8 quantization", 2) {
        case Seq(v, s) => graft.plans.QuantExpressions.quantizeInt8(v, s)
      },
      colRow("graft_dequant_max_error",
        "graft_dequant_max_error(array<float>, array<int>, scale) - max reconstruction error", 3) {
        case Seq(v, q, s) => graft.plans.QuantExpressions.dequantMaxError(v, q, s)
      },
      colRow("graft_redact", "graft_redact(text) - scrub email/CCN/SSN/phone/IPv4 PII from free text", 1) {
        case Seq(t) => graft.operators.Redaction.redact(t)
      },
      colRow("graft_redaction_count",
        "graft_redaction_count(text) - how many redactions graft_redact(text) performs", 1) {
        case Seq(t) => graft.operators.Redaction.redactionCount(t)
      },
      colRow("graft_normalize",
        "graft_normalize(text) - lowercase, control chars + whitespace runs to single spaces, trim", 1) {
        case Seq(t) => graft.operators.TextAnalysis.normalize(t)
      },
      colRow("graft_normalize_nopunct",
        "graft_normalize_nopunct(text) - graft_normalize plus punctuation stripped", 1) {
        case Seq(t) => graft.operators.TextAnalysis.normalize(t, stripPunct = true)
      },
      colRow("graft_tokens", "graft_tokens(text) - whitespace tokens of the lowercased text", 1) {
        case Seq(t) => graft.operators.TextAnalysis.tokens(t)
      },
      // literal trailing arguments parameterize the expression itself, so
      // the SQL form requires a constant
      exprRow("graft_epoch_key",
        "graft_epoch_key(id, seed) - deterministic epoch-shuffle order key; ORDER BY graft_epoch_key(id, 7)", 2) {
        case Seq(id, seed) =>
          val s = literal(seed, "graft_epoch_key seed") match {
            case v: Long => v
            case v: Int => v.toLong
            case v => throw new IllegalArgumentException(s"graft_epoch_key seed must be an integer literal, got $v")
          }
          GraftBridge.convert(graft.operators.Shuffling.epochKey(GraftBridge.column(id), s))
      },
      exprRow("graft_zorder2", "graft_zorder2(x, y, bits) - Morton interleave of the low `bits` bits", 3) {
        case Seq(x, y, bits) => graft.plans.ZOrder2(x, y, litInt(bits, "bits"))
      },
      exprRow("graft_top_k",
        "graft_top_k(score, id, k) - aggregate: top-k (id, score) pairs by (score DESC, id ASC)", 3) {
        case Seq(score, id, k) => graft.plans.TopKByScore(score, id, litInt(k, "k"))
      },
      exprRow("graft_bottom_k",
        "graft_bottom_k(key, value, k) - aggregate: bottom-k (key, value) bigint pairs " +
          "by (key ASC, value ASC); the portable quantile-sketch state", 3) {
        case Seq(key, value, k) => graft.plans.BottomKLongPairs(key, value, litInt(k, "k"))
      },
      exprRow("graft_kll_sketch",
        "graft_kll_sketch(value, capacity) - aggregate: KLL quantile sketch state " +
          "array<struct<level:int,v:bigint>> (Karnin-Lang-Liberty 2016)", 2) {
        case Seq(value, capacity) => graft.plans.KllSketchAgg(value, litInt(capacity, "capacity"))
      },
      exprRow("graft_gram_matrix",
        "graft_gram_matrix(qvec, d) - aggregate: exact integer second-moment state " +
          "[n, sums(d), upper-tri products(d(d+1)/2)] over array<bigint> quantized vectors", 2) {
        case Seq(qvec, d) => graft.plans.GramMatrixAgg(qvec, litInt(d, "d"))
      })
  }

  // (className, db, name, usage, then arguments/examples/note/group/since/deprecated/source unset)
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(getClass.getName, null, name, usage, "", "", "", "", "", "", "")

  /** A UDF row. `withName` keeps default column names like
    * `mask_string(16, true, a)` rather than `UDF(16, true, a)`. */
  private def udfRow(name: String, usage: String)(f: UserDefinedFunction): SqlFunction = {
    val named = f.withName(name)
    (FunctionIdentifier(name), info(name, usage),
      children => GraftBridge.convert(named(children.map(GraftBridge.column): _*)))
  }

  /** A native-expression row of fixed arity. */
  private def exprRow(name: String, usage: String, arity: Int)(build: Seq[Expression] => Expression): SqlFunction =
    (FunctionIdentifier(name), info(name, usage), { children =>
      if (children.length != arity)
        throw new IllegalArgumentException(s"$name expects $arity argument(s): $usage")
      build(children)
    })

  /** A row built from the Column API. */
  private def colRow(name: String, usage: String, arity: Int)(build: Seq[Column] => Column): SqlFunction =
    exprRow(name, usage, arity)(children =>
      GraftBridge.convert(build(children.map(GraftBridge.column))))

  /** The plan-time value of a constant argument (the SQL parser hands
    * builders Literals for constants). */
  private def literal(e: Expression, what: String): Any =
    if (e.resolved && e.foldable) e.eval(null)
    else throw new IllegalArgumentException(s"$what must be an integer literal, got ${e.sql}")

  private def litInt(e: Expression, what: String): Int = literal(e, what) match {
    case v: Int => v
    case v => throw new IllegalArgumentException(s"$what must be an integer literal, got $v")
  }
}

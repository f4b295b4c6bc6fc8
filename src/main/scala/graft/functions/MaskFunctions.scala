package graft.functions

import java.nio.ByteBuffer
import java.sql.{Date, Timestamp}
import java.time.temporal.ChronoUnit
import java.util.concurrent.ConcurrentHashMap

import graft.codec.Codec

/** The scalar masking function family (reference surface F1-F6,
  * /root/reference/src/main/scala/ai/tripl/arc/udf/MaskDataPlugin.scala:60-122),
  * as plain Scala functions over (codec, passphrase).
  *
  * Deviations from the reference, all deliberate (SURVEY.md §2.6):
  *  - Q1 fix: the `length` argument is honored (the reference truncates to a
  *    hardcoded 16 regardless).
  *  - F3 fix: the `format` template is implemented — each 'x' consumes the
  *    next encoded-hash character, every other character passes through
  *    (the reference accepts the argument and ignores it, an acknowledged TODO).
  *  - Deterministic KDF calls are memoized per executor JVM: masking is a pure
  *    function of the cell value, and at 100 TB the KDF (memory-hard by
  *    design) would otherwise be recomputed per cell. The random path is
  *    NEVER cached.
  */
object MaskFunctions {

  val DefaultAlphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"

  // --- per-executor memo for the deterministic KDF path -------------------
  // Key = SHA-256(codec identity || passphrase digest || value) — the
  // PLAINTEXT cell value is never retained (a long-lived executor heap, and
  // any heap dump of it, holds only digests). Bounded: beyond the cap,
  // entries are no longer inserted (hot values arrive first under any skewed
  // distribution, so first-come retention keeps the useful set). Tunable via
  // GRAFT_MASK_CACHE_ENTRIES; 0 disables. 1M entries ~ 100-150 MB worst case.
  private val cacheCap: Int = Codec.envInt("GRAFT_MASK_CACHE_ENTRIES", 1 << 20)
  // Presized: computeIfAbsent holds the BIN lock for the duration of the
  // mapping function (a millisecond-to-second KDF call here). A default
  // 16-bin table serializes 32 executor threads computing DIFFERENT keys;
  // 64k bins make bin collisions rare from the first call on.
  private val cache = new ConcurrentHashMap[String, Array[Byte]](1 << 16)
  private val digester = ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("SHA-256"))

  // Cache-key prefix = codec config + SHA-256 fingerprint of the passphrase
  // BYTES (not just its length - two same-length passphrases in one JVM must
  // never share entries). A task evaluates millions of rows against ONE
  // (codec, passphrase) pair, so a per-thread last-pair memo reduces the
  // per-row cost to two reference compares; on a pair switch the prefix is
  // recomputed (a 64-byte SHA-256, sub-microsecond). Nothing is strongly
  // retained beyond the most recent pair per thread.
  private final class TagState {
    var codec: Codec = _
    var passphrase: Array[Byte] = _
    var prefix: String = _
  }
  private val lastTag = ThreadLocal.withInitial(() => new TagState)

  private def keyPrefixOf(codec: Codec, passphrase: Array[Byte]): String = {
    val t = lastTag.get()
    if ((t.codec eq codec) && (t.passphrase eq passphrase)) return t.prefix
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(passphrase)
    t.codec = codec
    t.passphrase = passphrase
    t.prefix = codec.describe + "\u0000" + d.take(12).map(x => f"$x%02x").mkString + "\u0000"
    t.prefix
  }

  private[graft] def cachedHash(codec: Codec, passphrase: Array[Byte], deterministic: Boolean, value: String): Array[Byte] = {
    if (!deterministic || cacheCap <= 0) return codec.hash(value, deterministic, passphrase)
    val md = digester.get()
    md.reset()
    md.update(keyPrefixOf(codec, passphrase).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.update(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // ISO-8859-1 round-trips every byte, so the String key IS the digest
    val key = new String(md.digest(), java.nio.charset.StandardCharsets.ISO_8859_1)
    val hit = cache.get(key)
    if (hit != null) return hit
    // computeIfAbsent, not get/put: bounds total KDF work to ONE compute per
    // distinct value JVM-wide. With get/put, 32 executor threads encountering
    // keys in lock-step (round-robin partitioning preserves row order, so
    // every task sees a near-identical key sequence) each compute the same
    // value before the first insert lands — 32x the CPU and, for Argon2,
    // 32 concurrent memory-hard workspaces. Wall-clock during cache FILL is
    // comparable either way (blocked waiters vs duplicated work); for
    // low-cardinality columns the fill cost itself is what
    // MaskTransform.maskViaDistinct eliminates. Over the cap, compute
    // without inserting.
    if (cache.size >= cacheCap) return codec.hash(value, deterministic = true, passphrase)
    cache.computeIfAbsent(key, _ => codec.hash(value, deterministic = true, passphrase))
  }

  private[graft] def cacheSize: Int = cache.size
  private[graft] def clearCache(): Unit = cache.clear()

  // --- encoding helpers ---------------------------------------------------

  /** Map hash bytes onto `alphabet` — `abs(byte) % len`, exactly the
    * reference's (modulo-biased) scheme so deterministic outputs agree
    * (MaskDataPlugin.scala:71). */
  def encode(bytes: Array[Byte], alphabet: String): String = {
    val n = alphabet.length
    val out = new Array[Char](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = alphabet.charAt(Math.abs(bytes(i).toInt) % n)
      i += 1
    }
    new String(out)
  }

  private def cut(encoded: String, length: Int, algorithm: String): String = {
    if (encoded.length < length)
      throw new Exception(s"'$algorithm' cannot produce required $length length output based on the input")
    encoded.substring(0, length)
  }

  /** Fill a template like `4xxx-xxxx-xxxx-xxxx`: each 'x' takes the next
    * encoded-hash char, everything else is literal. */
  def applyFormat(format: String, encoded: String, algorithm: String): String = {
    val slots = format.count(_ == 'x')
    if (slots > encoded.length)
      throw new Exception(s"'$algorithm' cannot produce required $slots length output based on the input")
    val sb = new StringBuilder(format.length)
    var next = 0
    format.foreach { ch =>
      if (ch == 'x') { sb.append(encoded.charAt(next)); next += 1 }
      else sb.append(ch)
    }
    sb.toString
  }

  // --- F1-F3: string masking ---------------------------------------------

  def maskString(codec: Codec, passphrase: Array[Byte])(
      length: Int, alphabet: String, format: Option[String], deterministic: Boolean, value: String): String = {
    if (value == null) return null
    val encoded = encode(cachedHash(codec, passphrase, deterministic, value), alphabet)
    format match {
      case Some(f) => applyFormat(f, encoded, codec.name)
      case None => cut(encoded, length, codec.name)
    }
  }

  // --- F4: date masking — whole-day jitter in (-range, +range) ------------

  def maskLocalDate(codec: Codec, passphrase: Array[Byte])(
      range: Int, deterministic: Boolean, value: java.time.LocalDate): java.time.LocalDate = {
    if (value == null) return null
    require(range > 0, s"mask_date range must be positive, got $range")
    val offsetDays = (hashLongOf(codec, passphrase, deterministic, value.toString) % range).toInt
    value.plusDays(offsetDays)
  }

  // --- F5: timestamp masking — shifts whole days, preserves time-of-day ---

  /** The hash input for timestamp masking: the UTC wall clock in
    * java.sql.Timestamp's `toString` format (`yyyy-mm-dd hh:mm:ss.f`, the
    * fraction without trailing zeros, `.0` when whole), written directly.
    * Rendering through the JVM DEFAULT timezone instead — `value.toString`,
    * or `Timestamp.valueOf` on the UTC wall clock, which shifts wall clocks
    * inside a DST gap of that zone — would make two deployments with
    * different default TZs hash different strings for the same instant and
    * produce different "deterministic" masks, breaking cross-system
    * join-key stability. */
  private[functions] def utcTimestampString(i: java.time.Instant): String = {
    val t = java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    def pad(v: Int, width: Int): String = { val d = Integer.toString(v); "0" * (width - d.length) + d }
    val fraction = pad(t.getNano, 9).reverse.dropWhile(_ == '0').reverse
    s"${pad(t.getYear, 4)}-${pad(t.getMonthValue, 2)}-${pad(t.getDayOfMonth, 2)} " +
      s"${pad(t.getHour, 2)}:${pad(t.getMinute, 2)}:${pad(t.getSecond, 2)}.${if (fraction.isEmpty) "0" else fraction}"
  }

  def maskInstant(codec: Codec, passphrase: Array[Byte])(
      range: Int, deterministic: Boolean, value: java.time.Instant): java.time.Instant = {
    if (value == null) return null
    require(range > 0, s"mask_timestamp range must be positive, got $range")
    val offsetDays = (hashLongOf(codec, passphrase, deterministic, utcTimestampString(value)) % range).toInt
    value.plus(offsetDays.toLong, ChronoUnit.DAYS)
  }

  /** `java.sql` views of [[maskLocalDate]] / [[maskInstant]] for callers
    * that hold `java.sql` values (the perfbench mask checks); the SQL
    * functions bind `java.time` values directly. */
  def maskDate(codec: Codec, passphrase: Array[Byte])(range: Int, deterministic: Boolean, value: Date): Date =
    if (value == null) null else Date.valueOf(maskLocalDate(codec, passphrase)(range, deterministic, value.toLocalDate))

  def maskTimestamp(codec: Codec, passphrase: Array[Byte])(
      range: Int, deterministic: Boolean, value: Timestamp): Timestamp =
    if (value == null) null else Timestamp.from(maskInstant(codec, passphrase)(range, deterministic, value.toInstant))

  // --- F6: decimal masking — additive jitter in (-range, +range) ----------

  def maskDecimal(codec: Codec, passphrase: Array[Byte])(
      range: java.math.BigDecimal, deterministic: Boolean, value: java.math.BigDecimal): java.math.BigDecimal = {
    if (value == null) return null
    require(range != null && range.signum > 0,
      s"mask_decimal range must be positive, got $range")
    val firstEight = ByteBuffer.wrap(cachedHash(codec, passphrase, deterministic, value.toString)).getLong
    val jitter = BigDecimal(firstEight) / BigDecimal(10).pow(value.scale)
    (BigDecimal(value) + (jitter % BigDecimal(range))).bigDecimal
  }

  private def hashLongOf(codec: Codec, passphrase: Array[Byte], deterministic: Boolean, value: String): Long =
    ByteBuffer.wrap(cachedHash(codec, passphrase, deterministic, value)).getLong
}

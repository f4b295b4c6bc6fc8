package graft.functions

import java.time.{Instant, LocalDate}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{fastCodec, passphrase}

class MaskFunctionsSpec extends AnyFunSuite {

  private val codec = fastCodec
  private def mkString = MaskFunctions.maskString(codec, passphrase) _
  private val alpha = MaskFunctions.DefaultAlphabet

  test("mask_string: null-preserving, deterministic, alphabet-bounded, length honored") {
    assert(mkString(16, alpha, None, true, null) === null)
    val a = mkString(16, alpha, None, true, "alice")
    val b = mkString(16, alpha, None, true, "alice")
    assert(a === b)
    assert(a.length === 16)
    assert(a.forall(alpha.contains(_)))
    assert(mkString(8, alpha, None, true, "alice").length === 8)
    assert(mkString(8, alpha, None, true, "alice") === a.take(8))
    assert(mkString(16, alpha, None, true, "bob") !== a)
  }

  test("mask_string: non-deterministic varies per call, still alphabet-bounded") {
    val a = mkString(16, alpha, None, false, "alice")
    val b = mkString(16, alpha, None, false, "alice")
    assert(a !== b) // 52^16 collision odds are ignorable
    assert(a.length === 16 && a.forall(alpha.contains(_)))
  }

  test("mask_string: custom alphabet") {
    val digits = "0123456789"
    val v = mkString(16, digits, None, true, "alice")
    assert(v.length === 16 && v.forall(digits.contains(_)))
  }

  test("mask_string: over-length request throws the truncation error") {
    val e = intercept[Exception](mkString(100, alpha, None, true, "alice"))
    assert(e.getMessage.contains("cannot produce required 100 length output"))
  }

  test("mask_string_alphabet_format fills x slots and passes literals") {
    val v = MaskFunctions.maskString(codec, passphrase)(16, "0123456789", Some("4xxx-xxxx-xxxx-xxxx"), true, "alice")
    assert(v.length === 19)
    assert(v.head === '4')
    assert(v(4) === '-' && v(9) === '-' && v(14) === '-')
    assert(v.count(_.isDigit) === 16)
    // deterministic
    assert(v === MaskFunctions.maskString(codec, passphrase)(16, "0123456789", Some("4xxx-xxxx-xxxx-xxxx"), true, "alice"))
  }

  test("format with more x slots than hash bytes throws") {
    val e = intercept[Exception](
      MaskFunctions.maskString(codec, passphrase)(16, "01", Some("x" * 65), true, "alice"))
    assert(e.getMessage.contains("cannot produce required 65 length output"))
  }

  test("mask_date: null-preserving, jitter within (-range, range), deterministic") {
    val f = MaskFunctions.maskLocalDate(codec, passphrase) _
    assert(f(14, true, null) === null)
    val d = LocalDate.parse("2016-12-18")
    val masked = f(14, true, d)
    assert(math.abs(masked.toEpochDay - d.toEpochDay) < 14)
    assert(f(14, true, d) === masked)
  }

  test("mask_timestamp: preserves time-of-day, whole-day jitter bounded") {
    val f = MaskFunctions.maskInstant(codec, passphrase) _
    assert(f(14, true, null) === null)
    val ts = Instant.parse("2016-12-18T21:46:54Z")
    val masked = f(14, true, ts)
    val deltaMillis = masked.toEpochMilli - ts.toEpochMilli
    assert(deltaMillis % (24L * 3600 * 1000) === 0, "whole-day shift expected")
    assert(math.abs(deltaMillis / (24L * 3600 * 1000)) < 14)
    assert(f(14, true, ts) === masked)
  }

  test("mask_decimal: additive jitter within (-range, range), scale from value") {
    val f = MaskFunctions.maskDecimal(codec, passphrase) _
    assert(f(new java.math.BigDecimal("5.00"), true, null) === null)
    val v = new java.math.BigDecimal("96.37")
    val range = new java.math.BigDecimal("5.00")
    val masked = f(range, true, v)
    val delta = masked.subtract(v).abs
    assert(delta.compareTo(range) < 0, s"delta $delta exceeds range")
    assert(f(range, true, v) === masked)
  }

  test("deterministic hashes are memoized; random path is not") {
    MaskFunctions.clearCache()
    mkString(16, alpha, None, true, "memo-probe-1")
    val afterDet = MaskFunctions.cacheSize
    assert(afterDet >= 1)
    mkString(16, alpha, None, false, "memo-probe-2")
    assert(MaskFunctions.cacheSize === afterDet, "random path must not populate the cache")
    // cached result equals fresh compute
    val h1 = MaskFunctions.cachedHash(codec, passphrase, deterministic = true, "memo-probe-1")
    val h2 = codec.hash("memo-probe-1", deterministic = true, passphrase)
    assert(h1.toSeq === h2.toSeq)
  }

  test("pinned golden vectors: deterministic masks are stable across releases") {
    // Deterministic masking is only useful if the same (codec, passphrase,
    // value) yields the same mask FOREVER - joins across datasets masked at
    // different times depend on it. Any change to the KDF, passphrase split,
    // encode, cut, format, vocab pick, or jitter math must fail here and be
    // a deliberate, versioned decision.
    val c = new graft.codec.Pbkdf2Codec(1024, 64)
    val pp = graft.Defaults.testPassphrase
    val mf = MaskFunctions
    assert(mf.maskString(c, pp)(16, mf.DefaultAlphabet, None, true, "alice") === "VpNoiFtCClceKoSn")
    assert(mf.maskString(c, pp)(12, "0123456789", None, true, "alice") === "999421300168")
    assert(mf.maskString(c, pp)(16, "0123456789", Some("4xxx-xxxx-xxxx-xxxx"), true, "alice")
      === "4999-4213-0016-8886")
    assert(mf.maskLocalDate(c, pp)(14, true, java.time.LocalDate.parse("2020-06-15")).toString
      === "2020-06-14")
    assert(mf.maskInstant(c, pp)(14, true, java.time.Instant.parse("2020-06-15T10:30:45Z")).toString
      === "2020-06-09T10:30:45Z")
    assert(mf.maskDecimal(c, pp)(new java.math.BigDecimal("5.00"), true, new java.math.BigDecimal("123.45")).toString
      === "120.54")
    assert(graft.functions.Vocab.pick(c, pp)("en-AU", "last_name", true, "alice") === "Greeson")
    assert(graft.functions.Vocab.maskEmail(c, pp)(true, "alice") === "vpnoiftcclce@hotmail.com")
  }

  test("timestamp masks are identical under different JVM default timezones") {
    val ts = Instant.parse("2024-03-05T22:30:00Z")
    val saved = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
      val utc = MaskFunctions.maskInstant(codec, passphrase)(30, true, ts)
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/New_York"))
      val ny = MaskFunctions.maskInstant(codec, passphrase)(30, true, ts)
      assert(utc === ny, "same instant must mask identically regardless of JVM default TZ")
      // a UTC wall clock inside the JVM zone's spring-forward gap
      val gap = Instant.parse("2024-03-10T02:30:00Z")
      val nyGap = MaskFunctions.maskInstant(codec, passphrase)(30, true, gap)
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
      assert(MaskFunctions.maskInstant(codec, passphrase)(30, true, gap) === nyGap)
    } finally java.util.TimeZone.setDefault(saved)
  }

  test("non-positive mask ranges fail with a named error, not ArithmeticException") {
    val ts = Instant.parse("2024-03-05T22:30:00Z")
    val d = LocalDate.parse("2024-03-05")
    intercept[IllegalArgumentException] { MaskFunctions.maskInstant(codec, passphrase)(0, true, ts) }
    intercept[IllegalArgumentException] { MaskFunctions.maskLocalDate(codec, passphrase)(0, true, d) }
    intercept[IllegalArgumentException] {
      MaskFunctions.maskDecimal(codec, passphrase)(java.math.BigDecimal.ZERO, true, new java.math.BigDecimal("1.0"))
    }
  }
}

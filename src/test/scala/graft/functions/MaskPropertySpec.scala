package graft.functions

import java.time.{Instant, LocalDate}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{fastCodec, passphrase}

/** Property-based invariants over arbitrary inputs — the guarantees a
  * masking engine must never break regardless of value. Uses raw ScalaCheck
  * generators with a fixed seed (scalatestplus isn't on the offline
  * classpath), so runs are reproducible. */
class MaskPropertySpec extends AnyFunSuite {

  private val codec = fastCodec
  private val alpha = MaskFunctions.DefaultAlphabet
  private val f = MaskFunctions.maskString(codec, passphrase) _

  private def samples[A](g: Gen[A], n: Int = 40): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(0xC0FFEEL + i)))

  test("mask_string: every output char in alphabet, length honored, deterministic") {
    for ((value, len) <- samples(Gen.zip(Gen.asciiPrintableStr, Gen.choose(1, 64)))) {
      val m = f(len, alpha, None, true, value)
      assert(m.length === len, s"value=$value")
      assert(m.forall(alpha.contains(_)), s"value=$value")
      assert(m === f(len, alpha, None, true, value))
    }
  }

  test("mask_string: unicode inputs never crash and stay in alphabet") {
    val g = Gen.listOf(Gen.choose(0x20.toChar, 0x2FFF.toChar)).map(_.mkString)
    for (value <- samples(g)) {
      val m = f(16, alpha, None, true, value)
      assert(m.length === 16 && m.forall(alpha.contains(_)))
    }
  }

  test("mask_date: |offset| < range for any date and range") {
    val g = Gen.zip(
      Gen.choose(-20000L, 40000L).map(LocalDate.ofEpochDay),
      Gen.choose(1, 10000))
    for ((d, range) <- samples(g)) {
      val m = MaskFunctions.maskLocalDate(codec, passphrase)(range, true, d)
      val delta = m.toEpochDay - d.toEpochDay
      assert(math.abs(delta) < range, s"date=$d range=$range delta=$delta")
    }
  }

  test("mask_timestamp: whole-day shift, |offset| < range") {
    val g = Gen.zip(Gen.choose(0L, 4102444800000L).map(Instant.ofEpochMilli), Gen.choose(1, 1000))
    for ((ts, range) <- samples(g)) {
      val m = MaskFunctions.maskInstant(codec, passphrase)(range, true, ts)
      val deltaMs = m.toEpochMilli - ts.toEpochMilli
      assert(deltaMs % 86400000L === 0, s"ts=$ts")
      assert(math.abs(deltaMs / 86400000L) < range, s"ts=$ts range=$range")
    }
  }

  test("timestamp hash input is java.sql.Timestamp's rendering of the UTC wall clock") {
    // 0001-01-01 .. 9999-12-31 in micros, plus whole seconds and millis
    val g = Gen.oneOf(
      Gen.choose(-62135596800000000L, 253402300799999999L).map(us =>
        Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)),
      Gen.choose(-62135596800L, 253402300799L).map(Instant.ofEpochSecond(_)),
      Gen.choose(-62135596800000L, 253402300799999L).map(Instant.ofEpochMilli))
    val saved = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
      for (i <- samples(g, 200)) {
        val viaSql = java.sql.Timestamp.valueOf(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC))
        assert(MaskFunctions.utcTimestampString(i) === viaSql.toString, s"instant=$i")
      }
    } finally java.util.TimeZone.setDefault(saved)
  }

  test("mask_decimal: |jitter| < range, deterministic") {
    val g = Gen.zip(
      for {
        unscaled <- Gen.choose(-100000000L, 100000000L)
        scale <- Gen.choose(0, 6)
      } yield java.math.BigDecimal.valueOf(unscaled, scale),
      Gen.choose(1, 1000))
    for ((v, r) <- samples(g)) {
      val range = new java.math.BigDecimal(r)
      val m = MaskFunctions.maskDecimal(codec, passphrase)(range, true, v)
      assert(m.subtract(v).abs.compareTo(range) < 0, s"v=$v r=$r m=$m")
      assert(MaskFunctions.maskDecimal(codec, passphrase)(range, true, v) === m)
    }
  }

  test("format templates: literal chars always survive, x slots always from alphabet") {
    val fmtGen = Gen.listOfN(12, Gen.oneOf(Gen.const('x'), Gen.oneOf('-', '#', '/', ' '))).map(_.mkString)
    val g = Gen.zip(Gen.alphaNumStr.suchThat(_.nonEmpty), fmtGen)
    for ((value, fmt) <- samples(g)) {
      val out = MaskFunctions.maskString(codec, passphrase)(16, "0123456789", Some(fmt), true, value)
      assert(out.length === fmt.length)
      fmt.zip(out).foreach {
        case ('x', c) => assert(c.isDigit, s"fmt=$fmt out=$out")
        case (l, c) => assert(l === c, s"fmt=$fmt out=$out")
      }
    }
  }
}

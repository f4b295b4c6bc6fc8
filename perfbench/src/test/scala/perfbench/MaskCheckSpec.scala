package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.codec.Pbkdf2Codec
import graft.functions.MaskFunctions

class MaskCheckSpec extends AnyFunSuite {
  private val spec = Inputs.EtlSpec(rows = 300, distinct = 20, zipf = 1.1, nullShare = 0.05)
  private val input = Inputs.etlTable(3, spec)
  private val codec = new Pbkdf2Codec(1, 64)
  private val pass = Workloads.Passphrase
  private val format = "xxxx-xxxx-xxxx-xxxx"
  private val rules = Seq(
    MaskCheck.StringRule("holder", 16, MaskFunctions.DefaultAlphabet),
    MaskCheck.StringRule("card", 16, "0123456789", Some(format)),
    MaskCheck.DayJitterRule("birth_date", 365),
    MaskCheck.DayJitterRule("created_at", 30),
    MaskCheck.DecimalJitterRule("balance", BigDecimal("5.00")))

  /** The masked rows graft's functions produce for the input, as the
    * `mask_etl` pipeline returns them. */
  private def masked(tamper: (Int, Array[Any]) => Unit = (_, _) => ()): Seq[Row] =
    input.rows.zipWithIndex.map { case (r, i) =>
      def opt[A <: AnyRef](j: Int)(f: A => Any): Any = if (r.isNullAt(j)) null else f(r.getAs[A](j))
      val cells = Array[Any](
        r.getLong(0),
        opt[String](1)(v => MaskFunctions.maskString(codec, pass)(16, MaskFunctions.DefaultAlphabet, None, true, v)),
        opt[String](2)(v => MaskFunctions.maskString(codec, pass)(16, "0123456789", Some(format), true, v)),
        opt[java.sql.Date](3)(v => MaskFunctions.maskDate(codec, pass)(365, true, v)),
        opt[java.sql.Timestamp](4)(v => MaskFunctions.maskTimestamp(codec, pass)(30, true, v)),
        opt[java.math.BigDecimal](5)(v => MaskFunctions.maskDecimal(codec, pass)(new java.math.BigDecimal("5.00"), true, v)
          .setScale(2, java.math.RoundingMode.HALF_UP)))
      tamper(i, cells)
      Row.fromSeq(cells.toSeq)
    }

  private def check(out: Seq[Row], rows: Long = spec.rows, rs: Seq[MaskCheck.Rule] = rules,
                    seen: scala.collection.mutable.Map[(String, Any), Any] = scala.collection.mutable.HashMap.empty) =
    MaskCheck.check(MaskCheck.Expect(rows, rs), input, out, seen)

  test("graft's masks pass every check") {
    assert(check(masked()) == Nil)
  }

  test("a wrong expected row count is a failure") {
    assert(check(masked(), rows = spec.rows + 1).exists(_.contains("row count")))
  }

  test("a wrong expected format template is a failure") {
    val wrong = rules.updated(1, MaskCheck.StringRule("card", 16, "0123456789", Some("xxxxxxxxxxxxxxxx")))
    assert(check(masked(), rs = wrong).exists(_.contains("does not fit template")))
  }

  test("a mask equal to its plaintext is a failure") {
    val out = masked((i, c) => if (i == 5 && c(1) != null) c(1) = input.rows(5).getString(1))
    assert(check(out).exists(_.contains("equals plaintext")))
  }

  test("jitter outside its bound is a failure") {
    val out = masked((i, c) => if (i == 7 && c(3) != null)
      c(3) = java.sql.Date.valueOf(input.rows(7).getDate(3).toLocalDate.plusDays(400)))
    assert(check(out).exists(_.contains("outside")))
  }

  test("one value with two masks across ops is a failure") {
    val seen = scala.collection.mutable.HashMap.empty[(String, Any), Any]
    assert(check(masked(), seen = seen) == Nil)
    val out = masked((i, c) => if (i == 0 && c(1) != null) c(1) = "Z" * 16)
    assert(check(out, seen = seen).exists(_.contains("two masks")))
  }

  test("a dropped null is a failure") {
    val i = input.rows.indexWhere(_.isNullAt(1))
    val out = masked((j, c) => if (j == i) c(1) = "a" * 16)
    assert(check(out).exists(_.contains("null not preserved")))
  }
}

package perfbench

import org.apache.spark.sql.Row

/** Output checks for one masking op, as a pure function of the generated
  * input, the masked rows and the masks seen so far in the run. */
object MaskCheck {

  sealed trait Rule { def column: String }
  /** A masked string: `length` characters from `alphabet`, or the `format`
    * template with each 'x' replaced by one alphabet character. */
  final case class StringRule(column: String, length: Int, alphabet: String,
                              format: Option[String] = None) extends Rule
  /** A date or timestamp shifted by whole days, strictly inside ±`rangeDays`. */
  final case class DayJitterRule(column: String, rangeDays: Int) extends Rule
  /** A decimal moved strictly inside ±`range`. */
  final case class DecimalJitterRule(column: String, range: BigDecimal) extends Rule

  final case class Expect(rows: Long, rules: Seq[Rule])

  private val MaxReported = 5

  /** Returns the failures (empty when the op is correct). `input` rows are
    * keyed by their `id` column (column 0); `output` rows are (id, masked
    * columns in `expect.rules` order). `seen` maps (column, plaintext) to
    * the mask the run produced first, so determinism is checked across ops
    * as well as within one. */
  def check(expect: Expect, input: Inputs.Table, output: Seq[Row],
            seen: scala.collection.mutable.Map[(String, Any), Any]): Seq[String] = {
    val failures = Seq.newBuilder[String]
    var n = 0
    def fail(msg: => String): Unit = { if (n < MaxReported) failures += msg; n += 1 }
    if (output.length.toLong != expect.rows)
      fail(s"row count ${output.length} != expected ${expect.rows}")
    val colIndex = input.schema.fieldNames.zipWithIndex.toMap
    val byId = input.rows.iterator.map(r => r.getLong(0) -> r).toMap
    output.foreach { out =>
      val id = out.getLong(0)
      byId.get(id) match {
        case None => fail(s"unknown id $id in output")
        case Some(in) =>
          expect.rules.zipWithIndex.foreach { case (rule, j) =>
            val plain = in.get(colIndex(rule.column))
            val masked = out.get(j + 1)
            if (plain == null || masked == null) {
              if (plain != masked) fail(s"${rule.column} id=$id: null not preserved ($plain -> $masked)")
            } else {
              ruleFailure(rule, plain, masked).foreach(m => fail(s"${rule.column} id=$id: $m"))
              val first = seen.getOrElseUpdate((rule.column, plain), masked)
              if (first != masked)
                fail(s"${rule.column} id=$id: one value got two masks ($first, $masked)")
            }
          }
      }
    }
    if (n > MaxReported) failures += s"... ${n - MaxReported} more"
    failures.result()
  }

  private def ruleFailure(rule: Rule, plain: Any, masked: Any): Option[String] = rule match {
    case StringRule(_, length, alphabet, format) =>
      val s = masked.toString
      if (s == plain.toString) Some("mask equals plaintext")
      else format match {
        case Some(f) =>
          val okShape = s.length == f.length && s.zip(f).forall {
            case (c, 'x') => alphabet.indexOf(c) >= 0
            case (c, lit) => c == lit
          }
          if (okShape) None else Some(s"'$s' does not fit template '$f' over '$alphabet'")
        case None =>
          if (s.length != length) Some(s"length ${s.length} != $length")
          else if (!s.forall(c => alphabet.indexOf(c) >= 0)) Some(s"'$s' leaves alphabet")
          else None
      }
    case DayJitterRule(_, range) =>
      val (shiftMs, dayMs) = (plain, masked) match {
        case (p: java.sql.Date, m: java.sql.Date) =>
          ((m.toLocalDate.toEpochDay - p.toLocalDate.toEpochDay) * 86400000L, 86400000L)
        case (p: java.sql.Timestamp, m: java.sql.Timestamp) => (m.getTime - p.getTime, 86400000L)
        case _ => return Some(s"unexpected types ${plain.getClass} / ${masked.getClass}")
      }
      if (shiftMs % dayMs != 0) Some(s"shift of $shiftMs ms is not whole days")
      else if (math.abs(shiftMs / dayMs) >= range) Some(s"shift of ${shiftMs / dayMs} days outside ±$range")
      else None
    case DecimalJitterRule(_, range) =>
      val d = BigDecimal(masked.asInstanceOf[java.math.BigDecimal]) -
        BigDecimal(plain.asInstanceOf[java.math.BigDecimal])
      if (d.abs >= range) Some(s"jitter $d outside ±$range") else None
  }
}

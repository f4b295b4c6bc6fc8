package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {
  private val etl = Inputs.EtlSpec(rows = 5000, distinct = 40, zipf = 1.1, nullShare = 0.02)
  private val kdf = Inputs.KdfSpec(rows = 100)
  private val masked = Seq("holder", "card", "birth_date", "created_at", "balance")

  test("the same seed gives the same masking tables") {
    val (a, b) = (Inputs.etlTable(7, etl), Inputs.etlTable(7, etl))
    assert(a.fingerprint == b.fingerprint)
    assert(a.cardinalities == b.cardinalities)
    assert(Inputs.kdfTable(7, kdf).fingerprint == Inputs.kdfTable(7, kdf).fingerprint)
  }

  test("another seed gives other values with the same cardinalities") {
    val (a, b) = (Inputs.etlTable(7, etl), Inputs.etlTable(8, etl))
    assert(a.fingerprint != b.fingerprint)
    masked.foreach(c => assert(a.cardinalities(c) == etl.distinct && b.cardinalities(c) == etl.distinct, c))
    val col = a.schema.fieldIndex("holder")
    assert(a.rows.map(_.get(col)).toSet != b.rows.map(_.get(col)).toSet)
    val (k1, k2) = (Inputs.kdfTable(7, kdf), Inputs.kdfTable(8, kdf))
    assert(k1.fingerprint != k2.fingerprint)
    assert(k1.cardinalities("name") == kdf.rows && k2.cardinalities("name") == kdf.rows)
  }

  test("the wide table is Zipf-skewed with the stated null share") {
    val t = Inputs.etlTable(7, etl)
    val col = t.schema.fieldIndex("holder")
    val values = t.rows.map(_.get(col))
    val nulls = values.count(_ == null).toDouble / values.length
    assert(nulls > 0.01 && nulls < 0.03, nulls)
    val counts = values.filter(_ != null).groupBy(identity).values.map(_.length).toSeq.sorted.reverse
    assert(counts.head > 10 * counts.last)
  }
}

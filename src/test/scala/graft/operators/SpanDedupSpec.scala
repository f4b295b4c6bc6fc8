package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class SpanDedupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import scala.jdk.CollectionConverters._

  private def docs(rows: (Long, String)*) = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      rows.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
  }

  private def run(df: org.apache.spark.sql.DataFrame, L: Int = 4) =
    SpanDedup.removeDuplicatedSpans(df, "doc_id", "text", L)(_.collect())
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap

  test("a span shared by two docs is removed from BOTH occurrences") {
    val shared = "alpha beta gamma delta" // 4 tokens = one full window at L=4
    val out = run(docs(
      1L -> s"intro one two $shared tail1 x",
      2L -> s"$shared other closing words here"))
    val (n1, s1, rm1, t1) = out(1L)
    val (n2, s2, rm2, t2) = out(2L)
    assert((n1, s1, rm1) === ((9L, 1L, 4L)))
    assert(t1 === "intro one two tail1 x")
    assert((n2, s2, rm2) === ((8L, 1L, 4L)))
    assert(t2 === "other closing words here")
  }

  test("documents with no duplicated window pass through normalized but uncut") {
    val out = run(docs(1L -> "  Unique Words Only In This Document  ", 2L -> "並 unrelated 行 tokens"))
    assert(out(1L) === ((6L, 0L, 0L, "unique words only in this document")))
    assert(out(2L) === ((4L, 0L, 0L, "並 unrelated 行 tokens")))
  }

  test("overlapping and adjacent duplicated windows merge into one maximal span") {
    // docs 1 and 2 share a 6-token run -> at L=4 that is 3 overlapping
    // windows; they must merge to ONE span of 6 tokens, not 3 spans.
    val runTokens = "p q r s t u"
    val out = run(docs(1L -> s"a b $runTokens c d", 2L -> s"e f g $runTokens h"))
    assert(out(1L) === ((10L, 1L, 6L, "a b c d")))
    assert(out(2L) === ((10L, 1L, 6L, "e f g h")))
  }

  test("two separated shared spans stay two spans") {
    val out = run(docs(
      1L -> "one two three four MID1 five six seven eight end1",
      2L -> "one two three four MID2 five six seven eight end2"))
    val (_, s1, rm1, t1) = out(1L)
    assert(s1 === 2L, "separated spans must not merge")
    assert(rm1 === 8L)
    assert(t1 === "mid1 end1")
  }

  test("a window repeated WITHIN one document is removed (both copies)") {
    val out = run(docs(1L -> "x y z w middle x y z w tail"))
    assert(out(1L) === ((10L, 2L, 8L, "middle tail")))
  }

  test("docs shorter than the window length are never cut; null text dropped") {
    val out = run(docs(1L -> "a b c", 2L -> "a b c", 3L -> null.asInstanceOf[String]))
    assert(out(1L) === ((3L, 0L, 0L, "a b c")))
    assert(out(2L) === ((3L, 0L, 0L, "a b c")))
    assert(!out.contains(3L))
  }

  test("a fully-duplicated document empties to the empty string") {
    val t = "w1 w2 w3 w4 w5"
    val out = run(docs(1L -> t, 2L -> t))
    assert(out(1L) === ((5L, 1L, 5L, "")))
    assert(out(2L) === ((5L, 1L, 5L, "")))
  }

  test("null doc ids are dropped up front (no identity to cut against)") {
    import spark.implicits._
    val t = "alpha beta gamma delta"
    val df = Seq((Option(1L), Option(s"$t x")), (Option.empty[Long], Option(s"$t y")))
      .toDF("doc_id", "text")
    val out = SpanDedup.removeDuplicatedSpans(df, "doc_id", "text", 4)(_.collect())
      .map(_.getLong(0)).toSeq
    assert(out === Seq(1L)) // null-id row absent, not passed through uncut
  }
}

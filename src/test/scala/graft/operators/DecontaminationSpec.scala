package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class DecontaminationSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val eight = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens

  test("flags exactly the documents sharing an n-gram with the benchmark") {
    import spark.implicits._
    val docs = Seq(
      (1L, s"prefix words then $eight and a tail"), // contains the full 8-gram
      (2L, "alpha beta gamma delta epsilon zeta eta NOPE"), // only a 7-overlap
      (3L, s"${eight.toUpperCase} cased differently"), // tokenization lowercases
      (4L, "completely unrelated text with many many words here"),
      (5L, "short")).toDF("doc_id", "text")
    val bench = Seq(s"question: $eight?").toDF("text")
    // note: the benchmark's trailing '?' sticks to 'theta' -> 'theta?' is a
    // DIFFERENT token, so the benchmark's grams come from its first 8 tokens
    // 'question: alpha ... eta' and the clean 'alpha ... theta' 8-gram is
    // NOT in it. Use a benchmark without punctuation for the exact match:
    val benchClean = Seq(s"intro $eight outro").toDF("text")
    val ids = Decontamination.contaminatedIds(docs, "doc_id", "text", benchClean, "text")
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 3L), s"got $ids")
    val kept = Decontamination.dropContaminated(docs, "doc_id", "text", benchClean, "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 4L, 5L))
    // the punctuation-fused benchmark only matches nothing (token mismatch)
    assert(Decontamination.contaminatedIds(docs, "doc_id", "text", bench, "text").count() === 0L)
  }

  test("n controls strictness; short docs and empty benchmarks are safe") {
    import spark.implicits._
    val docs = Seq((1L, "one two three four"), (2L, "two three four five")).toDF("doc_id", "text")
    val bench = Seq("zero one two three four five six").toDF("text")
    assert(Decontamination.contaminatedIds(docs, "doc_id", "text", bench, "text", n = 4)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(Decontamination.contaminatedIds(docs, "doc_id", "text", bench, "text", n = 5)
      .count() === 0L, "neither doc has 5 tokens in a benchmark 5-gram")
    val empty = Seq.empty[String].toDF("text")
    assert(Decontamination.dropContaminated(docs, "doc_id", "text", empty, "text").count() === 2L)
  }

  test("bloom prefilter path returns exactly the exact-path ids") {
    import spark.implicits._
    val eight = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"prefix words then $eight and a tail"),
      (2L, "alpha beta gamma delta epsilon zeta eta NOPE"),
      (3L, s"$eight verbatim"),
      (4L, "completely unrelated text with many many words here"),
      (5L, "short")).toDF("doc_id", "text")
    val bench = Seq(s"intro $eight outro").toDF("text")
    val exact = Decontamination.contaminatedIds(docs, "doc_id", "text", bench, "text")
      .collect().map(_.getLong(0)).toSet
    val bloom = Decontamination.contaminatedIdsBloom(docs, "doc_id", "text", bench, "text")(_.collect())
      .map(_.getLong(0)).toSet
    assert(bloom === exact)
    assert(bloom === Set(1L, 3L))
    // empty benchmark: no grams, nothing flagged, no crash building the filter
    val empty = Seq.empty[String].toDF("text")
    assert(Decontamination.contaminatedIdsBloom(docs, "doc_id", "text", empty, "text")(_.count()) === 0L)
  }

  test("corpus side never shuffles before the broadcast probe") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text")
    val bench = Seq("a b c d e f g h").toDF("text")
    val plan = Decontamination.contaminatedIds(docs, "doc_id", "text", bench, "text")
      .queryExecution.executedPlan.toString
    val joinLine = plan.linesIterator.find(_.contains("Join")).getOrElse("")
    assert(joinLine.contains("BroadcastHashJoin"), s"expected broadcast probe, got: $joinLine")
  }

  test("dropContaminated rejects non-integral ids loudly (a cast-to-null would no-op silently)") {
    import spark.implicits._
    val docs = Seq(("uuid-1", "text here")).toDF("id", "text")
    val bench = Seq(Tuple1("text here")).toDF("text")
    val e = intercept[IllegalArgumentException] {
      Decontamination.dropContaminated(docs, "id", "text", bench, "text")
    }
    assert(e.getMessage.contains("integral id column"))
  }

  test("contaminationRatio: verbatim copy scores 10000, partial overlap is graded") {
    import spark.implicits._
    // bench doc = 9 tokens -> grams(8) = 2 distinct grams
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota"
    val docs = Seq(
      (1L, benchText),                         // verbatim: 2/2 -> 10000
      (2L, s"$benchText extra trailing words"), // 5 grams, first 2 hit -> 4000
      (3L, "totally unrelated words one two three four five six"), // 0 hits
      (4L, "short doc")).toDF("doc_id", "text") // no grams -> absent
    val bench = Seq(benchText).toDF("text")
    val out = Decontamination.contaminationRatio(docs, "doc_id", "text", bench, "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((2L, 2L, 10000L)))
    assert(out(2L) === ((5L, 2L, 4000L)))
    assert(out(3L)._2 === 0L && out(3L)._3 === 0L)
    assert(!out.contains(4L))
  }

  test("contaminationRatio: duplicate doc_id rows still count the doc's DISTINCT grams") {
    import spark.implicits._
    val g = "alpha beta gamma delta epsilon zeta eta theta"
    // the same doc id appears twice with identical text: its distinct
    // gram set is ONE gram, hit once — not two
    val docs = Seq((1L, g), (1L, g)).toDF("doc_id", "text")
    val bench = Seq(g).toDF("text")
    val Array(r) = Decontamination.contaminationRatio(docs, "doc_id", "text", bench, "text")
      .collect()
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((1L, 1L, 10000L)))
  }

  test("contaminationRatio counts DISTINCT grams (repetition cannot inflate the score)") {
    import spark.implicits._
    val g = "a b c d e f g h"
    val docs = Seq((1L, s"$g $g $g")).toDF("doc_id", "text") // 24 tokens, many dup windows
    val bench = Seq(g).toDF("text")
    val Array(r) = Decontamination.contaminationRatio(docs, "doc_id", "text", bench, "text")
      .collect()
    // 24-token doc: 17 windows but only 8 DISTINCT grams (the cycle of 8
    // rotations); exactly one of them ('a..h') is the benchmark gram
    assert(r.getLong(1) === 8L)
    assert(r.getLong(2) === 1L)
    assert(r.getLong(3) === 10000L / 8)
  }

  test("semanticContaminated flags near-benchmark vectors, counts hits exactly") {
    import spark.implicits._
    // bench = unit x-axis and unit y-axis; corpus: an x-copy (cos 1 to
    // bench 0), a 45-degree vector (cos ~0.707 to BOTH), a z-axis vector
    // (cos 0 to both — never flagged)
    val bench = Seq((0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(2f, 0f, 0f)),
      (11L, Array(1f, 1f, 0f)),
      (12L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val got = Decontamination.semanticContaminated(
        corpus, "vec_id", "embedding", bench, "vec_id", "embedding", tauPpm = 500000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(10L) === ((1L, 1000000L)))
    assert(got(11L) === ((2L, 707107L))) // 1/sqrt(2) on the ppm grid, both benches
    assert(!got.contains(12L))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scaled corpus ScaleCheck measures on must grow like more of the
  * same corpus, not like copies of it. */
class ScaleCheckSpec extends AnyFunSuite {

  test("documentCopies at 104x: no cross-copy text collisions, lengths preserved") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // real-ish sentences incl. a palindromic word ("did") — the trap the
    // word-level transforms must not re-duplicate through
    val docs = Seq(
      (0L, "the cat did sit on the mat tonight"),
      (1L, "a completely different second document body"),
      (2L, "short one")).toDF("doc_id", "text")
    val out = ScaleCheck.documentCopies(docs, 104).cache()
    try {
      assert(out.count() === 3L * 104)
      // every copy of every doc is a distinct string: zero duplicate mass
      assert(out.select("text").distinct().count() === 3L * 104)
      // bijections preserve length (the per-copy cost statistics)
      val lens = out.selectExpr("doc_id % 100000000 AS base", "length(text) AS l")
        .distinct().groupBy("base").count().collect()
      assert(lens.forall(_.getLong(1) === 1L), "a copy changed its text length")
      intercept[IllegalArgumentException](ScaleCheck.documentCopies(docs, 105))
    } finally out.unpersist()
  }
}

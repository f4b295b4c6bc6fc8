package graft.operators

import org.apache.spark.GraftTestHooks
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class DedupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import scala.jdk.CollectionConverters._

  private def docs(rows: (Long, String)*) = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      rows.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
  }

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"

  test("exact dedup keeps one representative per identical text") {
    val df = docs(1L -> "aaa", 2L -> "bbb", 3L -> "aaa", 4L -> "ccc", 5L -> "bbb")
    val out = Dedup.exact(df, "doc_id", Seq("text"))
    assert(out.count() === 3)
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 4L))
    val clusters = Dedup.exactClusters(df, "doc_id", Seq("text"))
    assert(clusters.where("cluster_size = 2").count() === 2)
  }

  test("keepBest keeps the highest-quality copy; ties break to lowest id") {
    import spark.implicits._
    val df = Seq(
      (1L, "aaa", 10L), (2L, "aaa", 30L), (3L, "aaa", 30L), // winner: 2 (max q, tie -> min id)
      (4L, "bbb", 5L),                                      // singleton
      (5L, "ccc", 7L), (6L, "ccc", 2L))                     // winner: 5
      .toDF("doc_id", "text", "quality")
    val kept = Dedup.keepBest(df, "doc_id", Seq("text"), "quality")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 4L, 5L))
  }

  test("keepBest: recurring id values across DIFFERENT keys cannot cross-keep (join-degeneracy regression)") {
    import spark.implicits._
    // id 7 wins group 'aaa' but LOSES group 'bbb'; a degenerate key==key
    // join would keep the 'bbb' copy of id 7 too
    val df = Seq(
      (7L, "aaa", 10L), (8L, "aaa", 1L),
      (7L, "bbb", 1L), (9L, "bbb", 10L))
      .toDF("doc_id", "text", "quality")
    val kept = Dedup.keepBest(df, "doc_id", Seq("text"), "quality")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept === Set((7L, "aaa"), (9L, "bbb")))
  }

  test("keepBest passes null-id and null-quality rows through untouched") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), "aaa", Some(1L)), (Some(2L), "aaa", Some(9L)),
      (None, "aaa", Some(99L)),      // null id: kept, never competes
      (Some(3L), "aaa", None))       // null quality: kept, never competes
      .toDF("doc_id", "text", "quality")
    val kept = Dedup.keepBest(df, "doc_id", Seq("text"), "quality")
    assert(kept.count() === 3L)
    assert(kept.where("doc_id = 1").count() === 0L)
    assert(kept.where("doc_id IS NULL OR quality IS NULL").count() === 2L)
  }

  test("minhash LSH finds planted near-duplicates and skips distant pairs") {
    val nearDup = base.replace("quick", "quik") // tiny edit, high jaccard
    val far = "completely different content about spark query engines and columnar execution at scale"
    val df = docs(1L -> base, 2L -> nearDup, 3L -> far, 4L -> base) // 4 = exact dup of 1
    val pairs = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact duplicate must be found")
    assert(pairs.contains((1L, 2L)), "near duplicate must be found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("minhash agrees with exact char-5-gram jaccard on a small corpus") {
    val variants = Seq(
      base, base.replace("lazy", "hazy"), base + " extra tail words here",
      "some wholly unrelated text that shares nothing with the others at all",
      base.replace("the", "a"))
    val df = docs(variants.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    def exactJaccard(a: String, b: String): Double = {
      def sh(s: String) = s.sliding(5).toSet
      val (sa, sb) = (sh(a), sh(b))
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    val expected = (for {
      i <- variants.indices; j <- variants.indices if i < j
      jac = exactJaccard(variants(i), variants(j)) if jac >= 0.5
    } yield (i.toLong, j.toLong)).toSet
    val got = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
  }

  test("ngram jaccard inverted-index pairs match brute force") {
    val a = "spark makes distributed data processing simple and fast for everyone"
    val b = "spark makes distributed data processing simple and fast for most people"
    val c = "flink handles streaming state management with exactly once guarantees always"
    val df = docs(1L -> a, 2L -> b, 3L -> c)
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.3, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L)))
  }

  test("simhash pairs: exact dup at hamming 0; unrelated text filtered") {
    val df = docs(1L -> base, 2L -> base, 3L -> "utterly different corpus content here about databases")
    val out = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.exists(p => p._1 == 1L && p._2 == 2L && p._3 === 0))
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: multiple null-text docs neither NPE nor pair with each other (advisor r5)") {
    import spark.implicits._
    val df = Seq((1L, base), (2L, base), (3L, null: String), (4L, null: String), (5L, null: String))
      .toDF("doc_id", "text")
    // pre-fix: null sigs chunked into an array of 4 nulls, bucketed together,
    // and pairUdf NPE'd on getLong of the null sig
    val out = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L)), s"null docs must drop out entirely: $out")
  }

  test("short and empty documents neither crash nor fake-pair (descending-sequence guard)") {
    val df = docs(1L -> "", 2L -> "", 3L -> "ab", 4L -> "xy z", 5L -> base)
    // minhash: empty/short docs have empty shingle sets -> no pairs, no crash
    val mh = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.isEmpty, s"short docs must not pair: $mh")
    // ngram: docs with < n tokens -> empty gram sets, no slice(t, 0, n) crash
    val ng = Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.3, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ng.isEmpty, s"short docs must not pair: $ng")
  }

  test("connectedComponents: transitive clusters, chain convergence, representatives") {
    import spark.implicits._
    // two components: {1,2,3} via transitivity, {10,11}; 99 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))

    // a 10-node path needs diameter-many propagation rounds
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainComp = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(1)).distinct
    assert(chainComp.toSeq === Seq(0L), "whole path collapses to one component")

    // a path longer than maxIter hops fails loudly instead of returning
    // silently split components
    val longChain = (0L until 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](Dedup.connectedComponents(longChain, maxIter = 3))
    assert(e.getMessage.contains("did not converge"))

    // end-to-end: drop near-dups keeps one representative + unpaired docs
    val df = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(df, "doc_id", Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b"))
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 3L, 5L))
  }

  test("connectedComponents with reliable checkpoints matches the local path") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = GraftTestHooks.withCheckpointDir(spark.sparkContext) { _ =>
      Dedup.connectedComponents(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents on a 10-node chain runs a pinned number of jobs") {
    import spark.implicits._
    // the changed count rides each round's checkpoint; AQE runs each
    // shuffle stage as its own job, so the figure is a pin, not a formula —
    // any extra per-round action (a count() per round) raises it
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (comp, jobs) = GraftTestHooks.countJobs(spark.sparkContext)(
      Dedup.connectedComponents(chain).collect())
    assert(comp.map(_.getLong(1)).distinct.toSeq === Seq(0L))
    assert(jobs === 53)
  }

  test("incremental near-dedup flags exactly the new docs duplicating the corpus") {
    val corpus = docs(
      1L -> base,
      2L -> "a completely different document about other things entirely and nothing else",
      3L -> (base + " slightly extended"))
    val batch = docs(
      100L -> (base + " x"), // near-dup of corpus 1 (and 3)
      101L -> "fresh new content that matches nothing in the existing corpus at all today")
    val out = Dedup.incrementalNearDuplicates(corpus, batch, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.map(_._1).toSet === Set(100L), s"got ${out.toSeq}")
    assert(out.map(_._2).toSet.subsetOf(Set(1L, 3L)))
    // never pairs corpus docs with each other, never pairs batch with itself
    assert(out.forall { case (n, c) => n >= 100L && c < 100L })
    // plan: the batch side broadcasts; no cartesian product
    val plan = Dedup.incrementalNearDuplicates(corpus, batch, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"), "batch band keys must broadcast")
  }

  test("incremental near-dedup is correct when batch ids collide with corpus ids (advisor r8)") {
    // id 1 exists on BOTH sides with DIFFERENT text: the batch's doc 1 is a
    // near-dup of corpus doc 2, the corpus's doc 1 is unrelated. A union
    // keyed on bare doc_id would hand the verify join both shingle rows and
    // emit duplicated/garbage jaccard values for every pair touching id 1.
    val corpus = docs(
      1L -> "a completely different document about other things entirely and nothing else",
      2L -> base)
    val batch = docs(
      1L -> (base + " x"), // same id as corpus 1, but near-dups corpus 2
      3L -> "fresh new content that matches nothing in the existing corpus at all today")
    val direct = Dedup.incrementalNearDuplicates(corpus, batch, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(direct === Set((1L, 2L)), s"got $direct")
    val index = Dedup.bandIndex(corpus, "doc_id", "text", threshold = 0.8)
    val indexed = Dedup.incrementalNearDuplicatesIndexed(corpus, index, batch, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(indexed === direct)
  }

  test("ngramHotGrams reports exactly the grams above the df cutoff") {
    val common = "the quick brown fox"          // 4 tokens -> 2 trigrams, in every doc
    val df = docs(
      1L -> (common + " alpha"), 2L -> (common + " beta"), 3L -> (common + " gamma"))
    // trigrams "the quick brown" and "quick brown fox" have df=3 > 2
    val r = Dedup.ngramHotGrams(df, "doc_id", "text", n = 3, maxDf = 2).collect()(0)
    assert(r.getAs[Long]("n_hot") === 2L)
    assert(r.getAs[Long]("max_df") === 3L)
    assert(r.getAs[Long]("hot_gram_docs") === 6L)
    // nothing hot at a high cutoff -> defined zeros, not nulls
    val z = Dedup.ngramHotGrams(df, "doc_id", "text", n = 3, maxDf = 100).collect()(0)
    assert((z.getAs[Long]("n_hot"), z.getAs[Long]("max_df"), z.getAs[Long]("hot_gram_docs")) === ((0L, 0L, 0L)))
  }

  test("cluster size report histograms component sizes") {
    import graft.SparkTestBase.spark.implicits._
    // components: {1,2,3} (size 3), {10,11} (size 2), {20,21} (size 2)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.clusterSizeReport(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(2L -> 2L, 3L -> 1L))
  }

  test("exact incremental dedup flags byte-identical new docs with min corpus id") {
    val corpus = docs(1L -> "same text", 2L -> "same text", 3L -> "unique text")
    val batch = docs(
      100L -> "same text",      // matches 1 and 2 -> corpus_id 1
      101L -> "unique text",    // matches 3
      102L -> "no match here")
    val got = Dedup.exactIncremental(corpus, batch, "doc_id", Seq("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(100L -> 1L, 101L -> 3L))
    // the batch side broadcasts - the corpus never reshuffles for the join
    val plan = Dedup.exactIncremental(corpus, batch, "doc_id", Seq("text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("indexed incremental dedup agrees exactly with the direct operator") {
    val corpus = docs(
      1L -> base,
      2L -> "a completely different document about other things entirely and nothing else",
      3L -> (base + " slightly extended"))
    val batch = docs(
      100L -> (base + " x"),
      101L -> "fresh new content that matches nothing in the existing corpus at all today")
    val index = Dedup.bandIndex(corpus, "doc_id", "text", threshold = 0.8)
    // index schema is the compact materializable shape
    assert(index.columns.toSeq === Seq("doc_id", "band", "bucket"))
    val direct = Dedup.incrementalNearDuplicates(corpus, batch, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val indexed = Dedup.incrementalNearDuplicatesIndexed(corpus, index, batch, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed === direct)
    assert(indexed.map(_._1) === Set(100L))
    // plan: batch band keys broadcast; candidate re-shingle is a semi-join
    val plan = Dedup.incrementalNearDuplicatesIndexed(corpus, index, batch, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("LeftSemi"), "candidate corpus docs must semi-join")
  }

  test("dedup plans contain no cartesian product") {
    val df = docs(1L -> base, 2L -> (base + " x"))
    for (plan <- Seq(
      Dedup.minhashPairs(df, "doc_id", "text").queryExecution.executedPlan.toString,
      Dedup.simhashPairs(df, "doc_id", "text").queryExecution.executedPlan.toString,
      Dedup.ngramJaccardPairs(df, "doc_id", "text").queryExecution.executedPlan.toString)) {
      assert(!plan.contains("CartesianProduct"), "bucketed dedup must not cross-join")
      assert(!plan.contains("BroadcastNestedLoopJoin"), "bucketed dedup must not nested-loop-join")
    }
  }

  test("exact() passes null-id rows through untouched (never deletes them)") {
    import spark.implicits._
    val df = Seq((Option(1L), "a"), (Option(2L), "a"), (Option.empty[Long], "unique"),
      (Option.empty[Long], "a")).toDF("id", "text")
    val out = Dedup.exact(df, "id", Seq("text"))
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1))).toSet
    // min-id keeps (1,"a"); BOTH null-id rows survive regardless of content
    assert(out === Set((Some(1L), "a"), (None, "unique"), (None, "a")))
  }

  test("connectedComponents on an empty pair set returns empty without poisoning the observe path") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() === 0)
    // a subsequent non-empty run must still converge normally (a null
    // metric misread as "observation unsupported" would force the count
    // fallback — the 0-row round must read as changed=0, not as no-event)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("ngramContainmentPairs catches an embedded doc that Jaccard misses") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta"
    val long = s"$short one two three four five six seven eight nine ten"
    val other = "completely different words with no shared trigram content here"
    val docs = Seq((1L, short), (2L, long), (3L, other)).toDF("doc_id", "text")
    // short: 4 grams, all inside long (prefix) -> containment 1.0
    val c = Dedup.ngramContainmentPairs(docs, "doc_id", "text", threshold = 0.9, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(c.toSeq.map(t => (t._1, t._2)) === Seq((1L, 2L)))
    assert(c.head._3 === 1.0)
    // symmetric jaccard on the same pair: 4 / (4 + 14 - 4) ~ 0.29 -> missed
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.9, n = 3)
    assert(j.count() === 0L)
  }

  test("ngramContainmentPairs denominators use the post-cutoff gram sets") {
    import spark.implicits._
    // short is fully embedded in long, but HALF of short's grams are hot
    // (planted in 3 filler docs -> df=5 > maxDf=2, cut). `common` can only
    // count rare grams, so full-set denominators would score the pair
    // 2/4 = 0.5 and miss the 0.9 threshold; the consistent cut denominators
    // score it 2/2 = 1.0.
    val short = "a b c d e f"                 // grams: [a b c][b c d][c d e][d e f]
    val long = "a b c d e f g h i j"          // 8 grams, 2 hot -> nb_cut = 6
    val docs = (Seq(1L -> short, 2L -> long) ++
      (10L to 12L).map(_ -> "a b c d"))       // fillers make [a b c],[b c d] hot
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
        threshold = 0.9, n = 3, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
    // the raw pipeline exposes both denominator families
    val pc = Dedup.ngramPairCounts(docs, "doc_id", "text", n = 3, maxDf = 2)
      .where("id_a = 1 and id_b = 2").collect().head
    assert(pc.getAs[Long]("na") === 4L && pc.getAs[Long]("na_cut") === 2L)
    assert(pc.getAs[Long]("nb") === 8L && pc.getAs[Long]("nb_cut") === 6L)
    assert(pc.getAs[Long]("common") === 2L)
  }

  test("connectedComponents reliableCheckpoint path writes checkpoints and matches local") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("id_a", "id_b")
    val expected = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    GraftTestHooks.withCheckpointDir(spark.sparkContext) { dir =>
      val labels = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels === expected)
      assert(expected === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
        20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
      // reliable checkpoints materialize under the configured dir
      assert(GraftTestHooks.filesUnder(dir) > 0, "no checkpoint files were written")
    }
  }
}

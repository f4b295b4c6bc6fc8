package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class InvertedIndexSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def corpus(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val docs = corpus(Seq(
    1L -> "spark shuffles the hash join build side",
    2L -> "a window over the stream keeps state",
    3L -> "hash hash hash everywhere in the join",
    4L -> "the quick brown fox avoids every keyword",
    5L -> "stream stream window join hash"))

  test("driver-side term bucket equals the column expression") {
    import spark.implicits._
    val toks = Seq("hash", "join", "window", "stream", "fox", "ünïcode", "", "a b")
    val got = toks.toDF("tok")
      .select(col("tok"), InvertedIndex.termBucket(col("tok"), 64).as("tb"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    toks.foreach { t =>
      assert(got(t) === InvertedIndex.termBucketScala(t, 64), s"token '$t'")
    }
  }

  test("probe through the store equals the direct operator row-for-row") {
    SparkTestBase.withTargetDir("graft_ii_spec_probe") { root =>
      val path = s"$root/store"
      InvertedIndex.writeIndex(docs, "doc_id", "text", path, nBuckets = 16)
      val q = Seq("hash", "join", "window", "stream")
      val direct = Ranking.bm25TopK(docs, "doc_id", "text", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val stored = InvertedIndex.probeStored(spark, path, q, k = 5, nBuckets = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(stored === direct)
      assert(stored.nonEmpty)
    }
  }

  test("addBatch merge equals full rebuild: postings row-for-row, stats exact") {
    val day0 = docs.where(col("doc_id") <= 3)
    val day1 = docs.where(col("doc_id") > 3)
    SparkTestBase.withTargetDir("graft_ii_spec_inc") { root =>
      val path = s"$root/store"
      InvertedIndex.writeIndex(day0, "doc_id", "text", path, nBuckets = 16)
      InvertedIndex.addBatch(spark, path, day1, "doc_id", "text", nBuckets = 16)

      val merged = spark.read.parquet(path)
        .select(col("tok"), col("doc_id"), col("dl"), col("tf"),
          col("tb").cast("long").as("tb"))
      val rebuilt = InvertedIndex.postings(docs, "doc_id", "text", nBuckets = 16)
      val mismatch = merged.as("m")
        .join(rebuilt.as("r"), Seq("tok", "doc_id"), "full_outer")
        .where(!(col("m.tf") <=> col("r.tf")) || !(col("m.dl") <=> col("r.dl")) ||
          !(col("m.tb") <=> col("r.tb")))
        .count()
      assert(mismatch === 0L)

      val (n, s) = InvertedIndex.readStats(spark, path)
      val w = InvertedIndex.corpusStats(docs, "doc_id", "text").collect()(0)
      assert(n === w.getLong(0) && s === w.getLong(1))

      // and the probe through the merged store equals the whole-corpus direct run
      val q = Seq("hash", "stream")
      val direct = Ranking.bm25TopK(docs, "doc_id", "text", q, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val stored = InvertedIndex.probeStored(spark, path, q, k = 5, nBuckets = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(stored === direct)
    }
  }

  test("null-text docs are excluded from postings AND stats") {
    val withNull = corpus(Seq(1L -> "one two", 2L -> null))
    val p = InvertedIndex.postings(withNull, "doc_id", "text")
    assert(p.where(col("doc_id") === 2L).count() === 0L)
    val s = InvertedIndex.corpusStats(withNull, "doc_id", "text").collect()(0)
    assert(s.getLong(0) === 1L && s.getLong(1) === 2L)
  }

  test("query terms absent from the corpus yield an empty result") {
    SparkTestBase.withTargetDir("graft_ii_spec_absent") { root =>
      val path = s"$root/store"
      InvertedIndex.writeIndex(docs, "doc_id", "text", path, nBuckets = 16)
      assert(InvertedIndex.probeStored(spark, path, Seq("zzzznope"), k = 3,
        nBuckets = 16).count() === 0L)
    }
  }

  test("postings directory without the stats sidecar is rejected loudly") {
    SparkTestBase.withTargetDir("graft_ii_spec_nostats") { root =>
      val path = s"$root/store"
      InvertedIndex.postings(docs, "doc_id", "text", nBuckets = 16)
        .write.mode("overwrite").partitionBy("tb").parquet(path)
      val e = intercept[IllegalArgumentException] {
        InvertedIndex.probeStored(spark, path, Seq("hash"), k = 3, nBuckets = 16)
      }
      assert(e.getMessage.contains("_stats"))
    }
  }

  test("auditStore: healthy stores pass; a partial append is detected") {
    SparkTestBase.withTargetDir("graft_ii_spec_audit") { root =>
      val path = s"$root/store"
      InvertedIndex.writeIndex(docs.where(col("doc_id") <= 3), "doc_id", "text",
        path, nBuckets = 16)
      InvertedIndex.addBatch(spark, path,
        docs.where(col("doc_id") > 3), "doc_id", "text", nBuckets = 16)
      val (ok, nDocs, sumDl, sumTf, dDocs) = InvertedIndex.auditStore(spark, path)
      assert(ok, s"healthy store must audit clean: n_docs=$nDocs sum_dl=$sumDl sum_tf=$sumTf docs=$dDocs")
      assert(sumTf === sumDl && dDocs <= nDocs)
      // plant the addBatch failure mode the audit exists for: postings
      // landed, stats swap never ran (crash between the two writes)
      InvertedIndex.postings(corpus(Seq(99L -> "orphan orphan posting")),
          "doc_id", "text", nBuckets = 16)
        .write.mode("append").partitionBy("tb").parquet(path)
      val (ok2, _, sumDl2, sumTf2, _) = InvertedIndex.auditStore(spark, path)
      assert(!ok2 && sumTf2 === sumDl2 + 3L,
        "orphaned postings must break the exact sum(tf) == sum_dl law")
    }
  }

  test("addBatch stats swap: sidecar is whole-file old or new, never half") {
    SparkTestBase.withTargetDir("graft_ii_spec_swap") { root =>
      val path = s"$root/store"
      InvertedIndex.writeIndex(docs.where(col("doc_id") <= 2), "doc_id", "text",
        path, nBuckets = 16)
      InvertedIndex.addBatch(spark, path,
        docs.where(col("doc_id") === 3), "doc_id", "text", nBuckets = 16)
      // no _stats_tmp_* residue after a successful swap, and the sidecar reads
      val residue = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("_stats_tmp_"))
      assert(residue.isEmpty, s"temp sidecars must not survive: ${residue.mkString(",")}")
      val (n, s) = InvertedIndex.readStats(spark, path)
      assert(n === 3L && s > 0L)
    }
  }

  test("nBuckets must divide 4096") {
    intercept[IllegalArgumentException] {
      InvertedIndex.postings(docs, "doc_id", "text", nBuckets = 100)
    }
  }
}

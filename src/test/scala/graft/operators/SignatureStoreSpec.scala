package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The materialized 64-bit signature store: round-trip fidelity, the
  * incremental decomposition law (within-day0 + within-day1 + cross ==
  * the direct batch operator), and probe semantics. */
class SignatureStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  // signatures engineered for known hamming structure: pairs of ids share
  // a base pattern with 0-4 bits flipped
  private def sigFrame = {
    import spark.implicits._
    val base = 0x5A5A5A5A5A5A5A5AL
    Seq(
      (1L, base), (2L, base),                       // hamming 0
      (3L, base ^ 1L), (4L, base ^ 3L),             // 3-1: h1, 3-4: h1, 1-3: h1
      (5L, base ^ 0xF0L),                           // h4 from base: NOT flagged
      (6L, 0x1111111111111111L),                    // far from everything
      (7L, Long.MinValue), (8L, Long.MinValue | 2L) // negative sigs, h1
    ).toDF("doc_id", "sig")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Number](2).longValue)).toSet

  test("store round-trip: readSignatureStore returns the exact frame") {
    SparkTestBase.withTargetDir("graft_sigstore_spec_rt") { root =>
      val path = s"$root/store"
      Dedup.writeSignatureStore(sigFrame, path)
      val back = Dedup.readSignatureStore(spark, path)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(back === sigFrame.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet)
    }
  }

  test("incremental decomposition == direct batch operator, pair for pair") {
    SparkTestBase.withTargetDir("graft_sigstore_spec_inc") { root =>
      val path = s"$root/store"
      val day0 = sigFrame.where(col("doc_id") % 2 === 0)
      val day1 = sigFrame.where(col("doc_id") % 2 === 1)
      Dedup.writeSignatureStore(day0, path)
      val cross = Dedup.probeSignatureStore(spark, path, day1)
        .select(least(col("new_id"), col("corpus_id")).as("id_a"),
          greatest(col("new_id"), col("corpus_id")).as("id_b"), col("hamming"))
      Dedup.addSignatureBatch(path, day1)
      val reloaded = Dedup.readSignatureStore(spark, path)
      def within(p: Int) = Dedup.pairsFromSignatures64(
        reloaded.where(col("doc_id") % 2 === p), maxBucket = Int.MaxValue)
      val incremental = pairSet(within(0).unionByName(within(1)).unionByName(cross))
      val direct = pairSet(Dedup.pairsFromSignatures64(sigFrame, maxBucket = Int.MaxValue))
      assert(incremental === direct)
      assert(direct.contains((1L, 2L, 0L)) && direct.contains((7L, 8L, 1L)))
      assert(!direct.exists(p => p._1 == 5L || p._2 == 5L)) // h4 excluded
    }
  }

  test("probe flags only cross pairs and never pairs the corpus with itself") {
    SparkTestBase.withTargetDir("graft_sigstore_spec_probe") { root =>
      val path = s"$root/store"
      Dedup.writeSignatureStore(sigFrame.where(col("doc_id") <= 4), path)
      // batch reuses id 3 (same doc arriving again) and adds id 9 == base
      import spark.implicits._
      val batch = Seq((3L, 0x5A5A5A5A5A5A5A5BL), (9L, 0x5A5A5A5A5A5A5A5AL)).toDF("doc_id", "sig")
      val got = pairSet(Dedup.probeSignatureStore(spark, path, batch))
      // id 3 matches corpus 1,2,4 (and NOT itself); 9 matches 1,2 (h0), 3 (h1), 4 (h2)
      assert(got === Set(
        (3L, 1L, 1L), (3L, 2L, 1L), (3L, 4L, 1L),
        (9L, 1L, 0L), (9L, 2L, 0L), (9L, 3L, 1L), (9L, 4L, 2L)))
    }
  }
}

package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every op starts as a new job would: a cold KDF memo and no cache. */
class FreshJobSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-fresh").toFile
  private var spark: SparkSession = _

  override def beforeAll(): Unit =
    spark = Main.session(Main.Args("mask_kdf", 1, 1, trace = false, cores = 2, work.getPath, ""))

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(work)
  }

  /** KDF calls of each of `n` ops of `item`. */
  private def kdfCalls(w: Workload, item: String, n: Int): Seq[Long] = (1 to n).map { _ =>
    Main.reset(spark)
    val codec = new CountingCodec(w.codec)
    Workloads.register(spark, codec)
    CodecCounters.reset()
    w.run(spark, item, traced = false)
    CodecCounters.calls.sum
  }

  test("every mask_kdf op computes each distinct value once, not just the first") {
    val w = new MaskKdf(2)
    w.prepare(spark, 5, s"$work/kdf")
    assert(w.expectedKdfCalls == w.spec.rows)
    assert(kdfCalls(w, "pipeline", 3) == Seq.fill(3)(w.spec.rows.toLong))
  }

  test("the pipeline's persisted views are counted, then reset") {
    val w = new MaskKdf(2)
    w.prepare(spark, 5, s"$work/kdf")
    kdfCalls(w, "pipeline", 1)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Main.reset(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("analytics_mix ops make no KDF call") {
    val w = new AnalyticsMix(2)
    w.prepare(spark, 5, s"$work/analytics")
    Seq("hll_distinct", "dedup_ngram_hot").foreach(q => assert(kdfCalls(w, q, 2) == Seq(0L, 0L), q))
  }
}

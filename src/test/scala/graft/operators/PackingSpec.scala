package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class PackingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def docs(n: Int) = {
    import spark.implicits._
    // deterministic pseudo-random token counts 1..97
    (0 until n).map(i => (i.toLong, 1L + math.floorMod(i * 7919L + 13, 97L))).toDF("doc_id", "toks")
  }

  test("tokenSpans rejects duplicate order keys loudly (spans would overlap)") {
    import spark.implicits._
    val df = Seq((1L, 5L), (1L, 7L), (2L, 3L)).toDF("doc_id", "toks")
    val e = intercept[Exception] {
      Packing.tokenSpans(df, "doc_id", "toks")(_.collect())
    }
    assert(e.getMessage != null)
  }

  test("tokenSpans output carries no internal working columns") {
    val cols = Packing.tokenSpans(docs(50), "doc_id", "toks")(_.columns.toSet)
    assert(cols === Set("doc_id", "toks", "token_start", "token_end"))
  }

  test("tokenSpans computes the exact global prefix sum in doc_id order") {
    val df = docs(500)
    val spans = Packing.tokenSpans(df, "doc_id", "toks")(
        _.select("doc_id", "toks", "token_start", "token_end").collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    var expectStart = 0L
    spans.foreach { case (id, toks, start, end) =>
      assert(start === expectStart, s"doc $id start")
      assert(end === start + toks, s"doc $id end")
      expectStart = end
    }
  }

  test("tokenSpans does not funnel the data through one global-order window") {
    // the data-sized window must be partitioned (by the range-partition id);
    // the only unpartitioned window runs over <=parallelism offset rows.
    // tokenSpans builds that window's frame before its result runs, so the
    // plan checked is the frame's own
    val plan = Packing.localSpans(docs(500), "doc_id", "toks")
      .queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), "expected a range repartition of the data")
  }

  test("assignBins: contiguous bins with bounded overflow") {
    val capacity = 256L
    val out = Packing.assignBins(docs(400), "doc_id", "toks", capacity)(
        _.select("doc_id", "toks", "token_start", "token_end", "bin").collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    // bin is floor(start/capacity), non-decreasing in doc order
    out.foreach { case (_, _, start, _, bin) => assert(bin === start / capacity) }
    assert(out.sliding(2).forall { case Array(a, b) => a._5 <= b._5 }, "bins non-decreasing")
    // every bin's fill is < capacity + its largest doc (bounded overflow)
    val byBin = out.groupBy(_._5)
    byBin.foreach { case (bin, rows) =>
      val fill = rows.map(_._2).sum
      assert(fill < capacity + rows.map(_._2).max, s"bin $bin overflowed beyond one document")
    }
    // every bin except the last reaches its capacity boundary (no bin was
    // closed early): its last document's token_end crosses (bin+1)*capacity
    val lastBin = out.map(_._5).max
    byBin.filter(_._1 != lastBin).foreach { case (bin, rows) =>
      assert(rows.map(_._4).max >= (bin + 1) * capacity, s"bin $bin closed before its boundary")
    }
    // no empty bins: binning is contiguous
    assert(byBin.keySet === (0L to lastBin).toSet)
  }

  test("chunkSpans: straddlers touch every crossed chunk; totals agree") {
    val capacity = 100L
    val out = Packing.chunkSpans(docs(300), "doc_id", "toks", capacity)(
        _.select("doc_id", "toks", "token_start", "token_end", "chunk_first", "chunk_last", "n_chunks")
          .collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val totalTokens = out.map(_._2).sum
    val nChunksGlobal = (totalTokens + capacity - 1) / capacity
    assert(out.map(_._6).max + 1 === nChunksGlobal, "last touched chunk = ceil(total/capacity)")
    out.foreach { case (id, toks, start, end, first, last, n) =>
      assert(first === start / capacity && last === (end - 1) / capacity, s"doc $id")
      assert(n === last - first + 1, s"doc $id n_chunks")
    }
    // chunk coverage: every chunk 0..n-1 is touched by at least one doc
    val touched = out.flatMap(r => r._5 to r._6).toSet
    assert(touched === (0L until nChunksGlobal).toSet)
  }

  test("deterministic across runs (same data, same spans)") {
    def bins = Packing.assignBins(docs(200), "doc_id", "toks", 128)(_.select("doc_id", "bin").collect())
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val a = bins
    val b = bins
    assert(a === b)
  }

  test("paddingReport: smallest-bucket assignment, exact waste, overflow sentinel") {
    import spark.implicits._
    // caps 16/32/64: toks 16 fits 16 exactly (zero waste), 17 pads to 32,
    // 65 and 1000 overflow to the -1 sentinel; 0/null dropped
    val df = Seq(Some(16L), Some(17L), Some(30L), Some(65L), Some(1000L), Some(0L), None)
      .toDF("toks")
    val got = Packing.paddingReport(df, "toks", capacities = Seq(16L, 32L, 64L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got(16L) === ((1L, 16L, 0L, 0L)))
    // bucket 32: docs 17+30=47 tokens, cap 64 total, padding 17, ppm 17e6/64
    assert(got(32L) === ((2L, 47L, 17L, 17L * 1000000L / 64L)))
    assert(got(-1L) === ((2L, 1065L, 0L, 0L)))
    assert(got.keySet === Set(16L, 32L, -1L))
  }

  test("paddingReport rejects unsorted capacities") {
    import spark.implicits._
    val df = Seq(1L).toDF("toks")
    intercept[IllegalArgumentException] {
      Packing.paddingReport(df, "toks", capacities = Seq(32L, 16L))
    }
  }
}

package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.{Metrics, SparkTestBase}

class CdcSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def bytes(n: Int, seed: Long): Array[Byte] = {
    val r = new scala.util.Random(seed)
    val a = new Array[Byte](n)
    r.nextBytes(a)
    a
  }

  private def sizes(data: Array[Byte], min: Int = 256, normal: Int = 1024,
                    max: Int = 4096): Array[Int] = {
    val cuts = Cdc.boundaries(data, min, normal, max)
    var start = 0
    cuts.map { c => val s = c - start; start = c; s }
  }

  test("partition law: contiguous cover, bounds respected") {
    val data = bytes(100000, 1L)
    val cuts = Cdc.boundaries(data, 256, 1024, 4096)
    assert(cuts.last === data.length)
    assert(cuts.sorted.sameElements(cuts))
    val ss = sizes(data)
    assert(ss.sum === data.length)
    assert(ss.forall(_ <= 4096))
    assert(ss.dropRight(1).forall(_ > 256)) // only the final chunk may be small
  }

  test("size distribution centers near normalSize") {
    val data = bytes(262144, 2L)
    val ss = sizes(data)
    val avg = ss.sum.toDouble / ss.length
    assert(avg > 1024 / 3.0 && avg < 3 * 1024.0, s"avg chunk $avg")
  }

  test("determinism") {
    val data = bytes(50000, 3L)
    assert(Cdc.boundaries(data, 256, 1024, 4096)
      .sameElements(Cdc.boundaries(data, 256, 1024, 4096)))
  }

  test("resynchronization: a prefix change realigns within the shared run") {
    val shared = bytes(30000, 4L)
    val a = bytes(137, 5L) ++ shared
    val b = bytes(731, 6L) ++ shared
    def hashes(d: Array[Byte]): Array[Long] = {
      val cuts = Cdc.boundaries(d, 256, 1024, 4096)
      var start = 0
      cuts.map { c => val h = Cdc.fnv1a64(d, start, c - start); start = c; h }
    }
    val ha = hashes(a)
    val hb = hashes(b)
    // boundaries realign: the two chunkings share their trailing chunks
    assert(ha.last === hb.last)
    val common = ha.toSet.intersect(hb.toSet).size
    assert(common >= ha.length / 2, s"only $common shared of ${ha.length}")
  }

  test("fixed-size chunking would NOT resync (the reason CDC exists)") {
    val shared = bytes(30000, 4L)
    val a = bytes(137, 5L) ++ shared
    val b = bytes(731, 6L) ++ shared
    def fixedHashes(d: Array[Byte]): Set[Long] =
      d.grouped(1024).map(g => Cdc.fnv1a64(g, 0, g.length)).toSet
    // 137 vs 731 prefix shift: no 1024-aligned window coincides
    assert(fixedHashes(a).intersect(fixedHashes(b)).size <= 1)
  }

  test("edge cases: empty, tiny, exactly-min inputs") {
    assert(Cdc.boundaries(Array.emptyByteArray, 256, 1024, 4096).isEmpty)
    assert(sizes(bytes(10, 7L)) === Array(10))
    assert(sizes(bytes(256, 8L)) === Array(256))
    assert(sizes(bytes(257, 9L)).sum === 257)
  }

  private def withStore[A](body: String => A): A = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"cdc_store_spec_${System.nanoTime()}")
    try body(dir.getAbsolutePath)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def dataFiles(path: String): Int =
    new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))

  test("chunk store: exact novelty, append correctness, idempotent re-ingest") {
    import spark.implicits._
    def frame(hs: (Long, Long)*) = hs.toSeq.toDF("hash", "size")
    withStore { path =>
      Cdc.writeChunkStore(frame(1L -> 100L, 2L -> 200L, 65L -> 300L), path)
      // 65 % 64 == 1 % 64 (and 129 likewise): hashes that collide under a
      // modular bucketing must still be told apart
      val novel = sortedRows(Cdc.ingestNovel(spark, path,
        frame(2L -> 200L, 3L -> 50L, 129L -> 70L)).novel)
      assert(novel === Seq(3L -> 50L, 129L -> 70L)) // 2 was seen
      // re-ingesting the same batch finds nothing: the append landed, and
      // an all-seen batch writes no file
      val files = dataFiles(path)
      val again = Cdc.ingestNovel(spark, path, frame(2L -> 200L, 3L -> 50L, 129L -> 70L))
      assert(again.novel.count() === 0 && again.chunks === 0 && again.bytes === 0)
      assert(dataFiles(path) === files)
      // a flat file set: no partition directories
      assert(new java.io.File(path).listFiles().forall(!_.isDirectory))
      // the store remains a set: all five distinct hashes, no duplicates
      val store = spark.read.parquet(path)
      assert(store.select("hash").distinct().count() === 5)
      assert(store.count() === 5)
    }
  }

  test("chunk store: the observed count and bytes are the novel set's") {
    import spark.implicits._
    withStore { path =>
      Cdc.writeChunkStore((0L until 40L).map(h => h -> (h + 1)).toDF("hash", "size"), path)
      // duplicate hashes in the batch and a seen-only half
      val batch = (20L until 90L).flatMap(h => Seq(h -> (h + 1), h -> (h + 1))).toDF("hash", "size")
      val in = Cdc.ingestNovel(spark, path, batch)
      val r = in.novel.agg(count(lit(1)), sum(col("size"))).head()
      assert(in.chunks === r.getLong(0) && in.chunks === 50L)
      assert(in.bytes === r.getLong(1) && in.bytes === (40L until 90L).map(_ + 1).sum)
      Fixpoint.release(in.novel)
    }
  }

  test("chunk store: an all-seen batch runs a fixed number of jobs and writes no file") {
    import spark.implicits._
    withStore { path =>
      val rows = (0L until 30L).map(h => h -> h).toDF("hash", "size")
      Cdc.writeChunkStore(rows, path)
      val files = dataFiles(path)
      val (in, counters) = Metrics.measure(spark)(Cdc.ingestNovel(spark, path, rows))
      assert(in.chunks === 0 && in.bytes === 0)
      assert(dataFiles(path) === files)
      // a pin, not a formula (AQE runs each exchange, broadcast and cache
      // build as its own job): a count job or a write of the empty set
      // would raise it
      assert(counters.jobs === 6)
      // the batch's cache is released; only the novel set's checkpoint stays
      assert(counters.cachedRddsLeft === 1)
      Fixpoint.release(in.novel)
    }
  }

  test("chunk store: writeChunkStore replaces an existing store") {
    import spark.implicits._
    withStore { path =>
      Cdc.writeChunkStore(Seq(1L -> 10L, 2L -> 20L).toDF("hash", "size"), path)
      Cdc.writeChunkStore(Seq(3L -> 30L).toDF("hash", "size"), path)
      assert(sortedRows(spark.read.parquet(path)) === Seq(3L -> 30L))
    }
  }

  test("chunk store: novel set does not depend on spark.sql.shuffle.partitions") {
    import spark.implicits._
    val day0 = (0L until 300L).map(h => (h * 7919L) -> (h % 50)).toDF("hash", "size")
    val batch = (150L until 600L).flatMap(h => Seq((h * 7919L) -> (h % 50), (h * 7919L) -> 3L))
      .toDF("hash", "size")
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def novelAt(partitions: Int): (Seq[(Long, Long)], Seq[(Long, Long)]) =
      withStore { path =>
        spark.conf.set(key, partitions.toLong)
        Cdc.writeChunkStore(day0, path)
        val novel = sortedRows(Cdc.ingestNovel(spark, path, batch).novel)
        (novel, sortedRows(spark.read.parquet(path)))
      }
    try {
      val (novel1, store1) = novelAt(1)
      val (novel8, store8) = novelAt(8)
      assert(novel1.size === 300)
      assert(novel1 === novel8)
      assert(store1 === store8)
    } finally spark.conf.set(key, saved)
  }

  test("expression path: codegen column agrees with the kernel; null-safe") {
    import spark.implicits._
    val data = bytes(20000, 10L)
    val df = Seq((1L, data), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "blob")
    val rows = df.select(col("id"),
        graft.plans.CdcExpressions.cdcChunks(col("blob"), 256, 1024, 4096).as("c"))
      .orderBy("id").collect()
    val got = rows(0).getSeq[org.apache.spark.sql.Row](1)
    val cuts = Cdc.boundaries(data, 256, 1024, 4096)
    assert(got.length === cuts.length)
    var start = 0
    cuts.zipWithIndex.foreach { case (c, k) =>
      assert(got(k).getLong(0) === start.toLong)
      assert(got(k).getLong(1) === (c - start).toLong)
      assert(got(k).getLong(2) === Cdc.fnv1a64(data, start, c - start))
      start = c
    }
    assert(rows(1).isNullAt(1))
  }
}

package graft.operators

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Content-defined chunking (FastCDC-style gear rolling hash — Xia et
  * al., "FastCDC: a Fast and Efficient Content-Defined Chunking Approach
  * for Data Deduplication", USENIX ATC 2016) over opaque binary columns —
  * the sub-document dedup primitive for multimodal blob stores: two blobs
  * that share a long byte run (same video with a different container
  * header, same tarball with one file changed) share almost all their
  * CHUNKS even though whole-blob hashing sees two distinct objects.
  * Fixed-size chunking cannot do this: one inserted byte shifts every
  * later boundary; content-defined boundaries RESYNCHRONIZE within ~one
  * chunk because a cut depends only on the trailing bytes (the gear hash
  * left-shifts one bit per byte, so bytes more than 63 positions back
  * are forgotten).
  *
  * Algorithm (deterministic, committed constants):
  *   - gear table: 256 64-bit values from the public-domain SplitMix64
  *     generator seeded with the golden-gamma constant — reproducible
  *     from the code alone, no embedded data;
  *   - rolling hash `h = (h << 1) + gear(byte)` restarted at each chunk;
  *   - normalized chunking: the first `minSize` bytes of a chunk are
  *     never cut; up to `normalSize` a HARDER mask (bits+1 one-bits)
  *     must hit, past it an EASIER mask (bits-1) — this centers the size
  *     distribution on `normalSize` (deviation from the paper: masks use
  *     contiguous low bits rather than spread bits — any fixed mask is
  *     equally content-defined, and low bits keep the oracle story
  *     trivially reproducible);
  *   - hard ceiling `maxSize` forces a cut; a remainder `<= minSize`
  *     bytes is one final chunk.
  *
  * Chunk identity is FNV-1a 64 over the chunk bytes (public domain) —
  * the store key for a chunk-level CAS; collisions only weaken dedup,
  * never correctness, because a CAS confirm compares bytes. The CAS
  * index ([[writeChunkStore]], [[ingestNovel]]) is a flat parquet file
  * set of distinct (hash, size) rows. An ingest's novel-chunk count and
  * byte sum ride its checkpoint job, so a caller reads them with no
  * further job.
  *
  * Scale shape: pure per-row kernel (no shuffle, no UDF — the codegen'd
  * [[graft.plans.CdcExpressions]] wraps it); the emitted rows are
  * (offset, size, hash) triples, NOT chunk bytes, so a 100-TB chunking
  * pass writes a ~0.1% index, and the dedup itself is one hash aggregate
  * on `chunk_hash` — the [[Dedup]] discipline.
  */
object Cdc {

  /** SplitMix64 (Steele, Lea & Flood, public domain) — gear table
    * generator. */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 256 gear constants, `gear(i) = splitmix64(i+1)`. */
  val gear: Array[Long] = Array.tabulate(256)(i => splitmix64((i + 1).toLong))

  /** Cut positions (exclusive chunk ends, ascending, last == length).
    * Empty input yields no chunks. */
  def boundaries(data: Array[Byte], minSize: Int, normalSize: Int,
                 maxSize: Int): Array[Int] = {
    require(0 < minSize && minSize <= normalSize && normalSize <= maxSize,
      s"need 0 < minSize <= normalSize <= maxSize, got ($minSize, $normalSize, $maxSize)")
    val n = data.length
    if (n == 0) return Array.emptyIntArray
    val bits = 64 - java.lang.Long.numberOfLeadingZeros((normalSize - 1).toLong)
    val maskS = (1L << (bits + 1)) - 1
    val maskL = (1L << (bits - 1)) - 1
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var start = 0
    while (start < n) {
      val end = math.min(start + maxSize, n)
      var cut = end
      if (end - start > minSize) {
        var h = 0L
        var i = start + minSize
        val normalEnd = math.min(start + normalSize, end)
        var found = false
        while (i < normalEnd && !found) {
          h = (h << 1) + gear(data(i) & 0xff)
          if ((h & maskS) == 0L) { cut = i + 1; found = true }
          i += 1
        }
        while (i < end && !found) {
          h = (h << 1) + gear(data(i) & 0xff)
          if ((h & maskL) == 0L) { cut = i + 1; found = true }
          i += 1
        }
      }
      out += cut
      start = cut
    }
    out.toArray
  }

  /** FNV-1a 64 over `data[off, off+len)`. */
  def fnv1a64(data: Array[Byte], off: Int, len: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = off
    val end = off + len
    while (i < end) {
      h ^= (data(i) & 0xffL)
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  /** (hash, size) of a chunk-index frame, distinct by hash. */
  private def distinctChunks(chunks: DataFrame): DataFrame =
    chunks.select(col("hash").cast("long").as("hash"),
        col("size").cast("long").as("size"))
      .groupBy("hash").agg(max(col("size")).as("size"))

  /** Build or replace the chunk CAS index at `path` from a (hash, size)
    * chunk frame — the store a content-addressed blob store keeps next to
    * its chunk data: one row per distinct chunk hash in a flat parquet
    * file set. Any store already at `path` is replaced, never merged.
    * The store is not partitioned: an ingest batch of a few hundred
    * chunks touches every hash bucket anyway, so a layout keyed by hash
    * prunes nothing and only multiplies files and directory listings.
    * (Unlike [[Frontier]] there is no Bloom sidecar: a frontier probe is
    * mostly NEGATIVE — the bloom short-circuits store I/O — while a CAS
    * ingest batch is mostly NOVEL chunks whose confirm join must run
    * anyway, so a prefilter buys one scan it would spend itself.) */
  def writeChunkStore(chunks: DataFrame, path: String): Unit =
    distinctChunks(chunks).write.mode("overwrite").parquet(path)

  /** The novel (hash, size) rows of one [[ingestNovel]] call, already
    * appended to the store and pinned by a local checkpoint (drop it with
    * [[Fixpoint.release]]), with their count and byte sum. */
  final case class Ingested(novel: DataFrame, chunks: Long, bytes: Long)

  /** EXACT novel chunks of a batch against the store, and append them —
    * the per-batch CAS ingest step: only bytes of never-seen chunks are
    * stored/shipped; re-arriving content costs index rows only. Plan
    * shape: the batch's DISTINCT (hash, size) set BROADCASTS against ONE
    * full store scan (inner join on hash, then left_anti of the batch
    * against the hits — an anti join ignores duplicate hits, so they are
    * not deduplicated); the store is never shuffled, never grouped, and
    * novelty is exact. The novel set is checkpointed eagerly, and its row
    * count and byte sum ride that same job as an observed metric, so no
    * job exists only to count. The novel rows are then appended as they
    * are partitioned, one file at most per partition; an all-seen batch
    * (count 0) writes none. */
  def ingestNovel(spark: SparkSession, path: String,
                  batchChunks: DataFrame): Ingested = {
    val b = distinctChunks(batchChunks)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val store = spark.read.schema("hash LONG, size LONG").parquet(path)
      val seen = store.join(broadcast(b.select(col("hash"))), Seq("hash"))
        .select(col("hash"))
      val chunks = count(lit(1)).as("chunks")
      val bytes = coalesce(sum(col("size")), lit(0L)).as("bytes")
      val obs = Observation()
      // eager localCheckpoint BEFORE the append: the append refreshes any
      // cache whose plan reads the store path (recacheByPath), which would
      // re-execute a merely-persisted novel frame against the
      // post-append listing and collapse it to empty; the checkpoint
      // truncates lineage so the novel set is pinned
      val novel = b.join(broadcast(seen), Seq("hash"), "left_anti")
        .observe(obs, chunks, bytes)
        .localCheckpoint(eager = true)
      val row = Fixpoint.awaitObserved(obs).getOrElse(novel.agg(chunks, bytes).head())
      if (row.getLong(0) > 0) novel.write.mode("append").parquet(path)
      Ingested(novel, row.getLong(0), row.getLong(1))
    } finally b.unpersist(blocking = false)
  }

  /** Static entry point for generated code: array of (offset, size,
    * hash) structs — the chunk INDEX, never the chunk bytes. */
  def chunksArray(data: Array[Byte], minSize: Int, normalSize: Int,
                  maxSize: Int): ArrayData = {
    val cuts = boundaries(data, minSize, normalSize, maxSize)
    val rows = new Array[Any](cuts.length)
    var start = 0
    var k = 0
    while (k < cuts.length) {
      val end = cuts(k)
      rows(k) = InternalRow(start.toLong, (end - start).toLong,
        fnv1a64(data, start, end - start))
      start = end
      k += 1
    }
    new GenericArrayData(rows)
  }
}

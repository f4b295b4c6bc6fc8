package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** URL-seen frontier store — THE data structure of a continuous crawl:
  * "have we fetched this URL before?" asked for every discovered URL
  * against billions of already-crawled ones. Exact set semantics with a
  * Bloom-prefiltered probe (the decontamination discipline applied to
  * the frontier):
  *
  *  - STORE: distinct canonical urls ([[UrlDomain.canonicalizeUrl]] —
  *    the same key url-level dedup uses), parquet-partitioned by
  *    `chunk = xxhash64(canon) % 64`, plus a SHARDED Bloom sidecar
  *    (`_bloom/chunk-<k>`, one filter per chunk at capacity/64 each,
  *    ~10 bits/key at the default fpp). The Bloom CAPACITY is a declared
  *    store parameter: batches build same-shaped per-chunk filters, so
  *    [[markSeen]] can OR them chunk-by-chunk (Spark blooms merge only
  *    at identical bit size). Exceeding capacity degrades a filter's
  *    fpp, never correctness — the confirm join is exact.
  *  - PROBE ([[novelUrls]]): the batch canonicalizes in-row and tests
  *    its CHUNK-LOCAL filter via the codegen'd
  *    [[graft.plans.BloomMightContainSharded]] probe (the chunk is the
  *    same hash the store partitioned by). Bloom-negative urls are
  *    DEFINITELY novel (a Bloom never misses) — the ~all-of-batch fast
  *    path with zero store I/O. Only bloom-positive urls (truly seen +
  *    ~fpp false positives) go to the exact confirm join, BROADCAST
  *    against ONE store scan: the store is never shuffled, never
  *    grouped, and the novel set is EXACT.
  *
  * Why SHARDED (r18, verdict ask #6): the r17 sidecar was one file read
  * and rewritten WHOLE on the driver per [[markSeen]] — at 1e9 urls a
  * ~1.2 GB single-node rewrite per batch, the store's growth bottleneck.
  * Now the per-chunk filters BUILD distributed (one bloom per chunk on
  * executors, driver only persists the ~capacity/64-sized byte images),
  * and an append touches ONLY the chunks its batch hashes into — a small
  * batch rewrites a few 1/64-sized files, never the whole sidecar.
  *
  * Crash ordering invariant (advisor r17): every write path lands the
  * Bloom BEFORE the parquet rows it covers, so a failure between the two
  * leaves bloom ⊇ store — extra confirm-join work (false positives),
  * never a missed seen URL. The reverse order would leave store rows the
  * Bloom never saw, and bloom-negative short-circuits with zero store
  * I/O: those urls would be re-reported novel forever.
  *
  * Cost per probe: O(batch) in-row work + one store scan with
  * match-sized output — independent of how many probes ran before;
  * [[markSeen]] appends the batch and ORs its per-chunk Blooms, so the
  * frontier grows without ever rewriting history. */
object Frontier {

  val Chunks = 64
  private val BloomDir = "_bloom"

  /** Per-chunk filter capacity: the declared store capacity spread over
    * the uniform hash chunks (floor 64 keeps tiny declared capacities
    * legal). Must be derived the SAME way by every batch — bit size is
    * what makes per-chunk filters mergeable. */
  private def chunkCapacity(capacity: Long): Long =
    math.max(64L, capacity / Chunks)

  /** (canon, chunk) — canonicalized, null-hostless dropped, distinct. */
  private[operators] def canonChunks(urls: DataFrame, urlCol: String): DataFrame =
    urls.select(UrlDomain.urlCanonical(col(s"`$urlCol`")).as("canon"))
      .where(col("canon").isNotNull)
      .distinct()
      .withColumn("chunk", pmod(xxhash64(col("canon")), lit(Chunks.toLong)))

  /** Per-chunk Bloom images of a (canon, chunk) frame, built DISTRIBUTED
    * (one group task per chunk — the bit-set work happens on executors;
    * only the serialized images reach the driver, Chunks × ~10 bits/key
    * of the per-chunk capacity). Only chunks present in the frame appear
    * in the result. */
  private def chunkBlooms(c: DataFrame, capacity: Long,
                          fpp: Double): Map[Int, Array[Byte]] = {
    import c.sparkSession.implicits._
    val cap = chunkCapacity(capacity)
    c.select(col("chunk").cast("int"), col("canon")).as[(Int, String)]
      .groupByKey(_._1)
      .mapGroups { (k, it) =>
        val bf = BloomFilter.create(cap, fpp)
        it.foreach(r => bf.putBinary(r._2.getBytes(StandardCharsets.UTF_8)))
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (k, bos.toByteArray)
      }.collect().toMap
  }

  private def emptyBloomBytes(capacity: Long, fpp: Double): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    BloomFilter.create(chunkCapacity(capacity), fpp).writeTo(bos)
    bos.toByteArray
  }

  private def bloomPath(path: String, k: Int) =
    new org.apache.hadoop.fs.Path(path, s"$BloomDir/chunk-$k")

  private def writeChunkBloom(spark: SparkSession, path: String, k: Int,
                              bytes: Array[Byte]): Unit = {
    val p = bloomPath(path, k)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(bytes) finally os.close()
  }

  private def readChunkBloomBytes(spark: SparkSession, path: String,
                                  k: Int): Array[Byte] = {
    val p = bloomPath(path, k)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var r = in.read(buf)
      while (r >= 0) { bos.write(buf, 0, r); r = in.read(buf) }
      bos.toByteArray
    } finally in.close()
  }

  private def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** Build the store from an already-crawled url frame. */
  def writeSeenStore(urls: DataFrame, urlCol: String, path: String,
                     capacity: Long = 4000000L, fpp: Double = 0.01,
                     filesPerPartition: Int = 1): Unit = {
    require(capacity >= 1, "capacity must be positive")
    val spark = urls.sparkSession
    val c = canonChunks(urls, urlCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // parquet first HERE (writePartitioned's static overwrite would
      // wipe a sidecar written before it): the bloom-before-rows crash
      // invariant protects LIVE stores ([[markSeen]]); a build that
      // crashes between the two leaves a store with no sidecar, and the
      // probe fails LOUD on the missing chunk files — a half-built store
      // is a failed build, never a silently-lossy one
      graft.sources.Sinks.writePartitioned(c, path, Seq("chunk"), filesPerPartition)
      val blooms = chunkBlooms(c, capacity, fpp)
      val empty = emptyBloomBytes(capacity, fpp)
      // every chunk gets a file, empty chunks included: the probe reads
      // a fixed 64-file sidecar, day-0 stores are a legal state
      (0 until Chunks).foreach(k =>
        writeChunkBloom(spark, path, k, blooms.getOrElse(k, empty)))
    } finally c.unpersist(blocking = false)
  }

  /** Append a batch to the store and OR its per-chunk Blooms into the
    * sidecar — touching ONLY the chunk files the batch hashes into.
    * Re-adding an already-seen url is harmless (the store is a SET:
    * probes join on canon equality — duplicate rows only cost bytes;
    * callers feed [[novelUrls]] output to keep it tight). The batch
    * Blooms must be built at the SAME (capacity, fpp) as the store's. */
  def markSeen(path: String, urls: DataFrame, urlCol: String,
               capacity: Long = 4000000L, fpp: Double = 0.01): Unit = {
    val spark = urls.sparkSession
    val c = canonChunks(urls, urlCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // Bloom FIRST, parquet second: a crash between the two writes must
      // leave bloom ⊇ store (see the class doc's ordering invariant)
      chunkBlooms(c, capacity, fpp).foreach { case (k, bytes) =>
        val merged = deserialize(readChunkBloomBytes(spark, path, k))
          .mergeInPlace(deserialize(bytes))
        val bos = new java.io.ByteArrayOutputStream()
        merged.writeTo(bos)
        writeChunkBloom(spark, path, k, bos.toByteArray)
      }
      // lay out by chunk before the append: without it every task opens a
      // file in every chunk dir it touches — up to 32 tasks x 64 chunks of
      // small files per markSeen batch, which every later probe re-lists
      c.repartition(col("chunk")).write.mode("append").partitionBy("chunk").parquet(path)
    } finally c.unpersist(blocking = false)
  }

  /** EXACT novel set of a batch against the store: canonical urls of the
    * batch that the crawl has never seen. One store scan, store never
    * shuffled; bloom-negatives short-circuit with zero store I/O. */
  def novelUrls(spark: SparkSession, path: String, batch: DataFrame,
                urlCol: String): DataFrame = {
    val images = (0 until Chunks).map(readChunkBloomBytes(spark, path, _))
    val b = canonChunks(batch, urlCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val hit = graft.plans.BloomExpression.mightContainSharded(
      col("chunk"), col("canon"), images)
    val definitelyNovel = b.where(!hit).select(col("canon"))
    val maybeSeen = b.where(hit)
    // explicit schema: a store written from zero urls has no parquet
    // files to infer from, and an empty frontier is a legal day-0 state
    val store = spark.read.schema("canon STRING, chunk BIGINT").parquet(path)
    val confirmedSeen = store.join(broadcast(maybeSeen), Seq("chunk", "canon"))
      .select(col("canon")).distinct()
    val novelOfMaybe = maybeSeen.select(col("canon"))
      .join(broadcast(confirmedSeen), Seq("canon"), "left_anti")
    Partitioning.releaseAfterUse(
      definitelyNovel.unionByName(novelOfMaybe), b)
  }
}

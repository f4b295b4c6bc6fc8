package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class SimilaritySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def vecs(rows: (Long, Array[Float])*) = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  private val rnd = new scala.util.Random(7)
  private def randUnit(dim: Int): Array[Float] = {
    val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
    v.map(_ / n)
  }
  private def jitter(v: Array[Float], eps: Float): Array[Float] =
    v.map(x => x + eps * rnd.nextGaussian().toFloat)

  test("brute-force topK returns the planted nearest neighbors in order") {
    val q = randUnit(16)
    val near = jitter(q, 0.01f)  // cosine ~0.9999
    val near2 = jitter(q, 0.05f) // cosine ~0.997
    val others = (10L until 40L).map(i => i -> randUnit(16))
    val df = vecs((Seq(1L -> near, 2L -> near2) ++ others): _*)
    val top = Similarity.topK(df, "vec_id", "embedding", q.map(_.toDouble), 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top === Seq(1L, 2L))
  }

  test("lshTopK finds the same top results as brute force for close vectors") {
    val q = randUnit(64)
    val near = jitter(q, 0.02f)
    val others = (10L until 200L).map(i => i -> randUnit(64))
    val df = vecs((Seq(1L -> near) ++ others): _*)
    val brute = Similarity.topK(df, "vec_id", "embedding", q.map(_.toDouble), 1).collect()(0).getLong(0)
    val approx = Similarity.lshTopK(df, "vec_id", "embedding", q.map(_.toDouble), 1).collect()
    assert(brute === 1L)
    assert(approx.nonEmpty && approx(0).getLong(0) === 1L, "LSH must catch a 0.999-cosine neighbor")
  }

  test("ivfTopK at full probe equals brute-force topK rank-for-rank") {
    val df = vecs((0L until 100L).map(i => i -> randUnit(32)): _*)
    val q = randUnit(32).map(_.toDouble)
    val brute = Similarity.topK(df, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSeq
    val ivf = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10, nLists = 8, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf === brute)
  }

  test("ivfTopK partial probe finds the right cluster with given centroids") {
    // 4 well-separated axis clusters; centroids = the axes themselves
    val axes = (0 until 4).map { a =>
      Array.tabulate(32)(i => if (i / 8 == a) 1.0 else 0.0)
    }
    val members = for (a <- 0 until 4; j <- 0 until 25) yield {
      val base = axes(a).map(_.toFloat)
      (a * 100L + j, jitter(base, 0.02f))
    }
    val df = vecs(members: _*)
    // query near cluster 2, probe ONLY 1 of 4 lists
    val q = jitter(axes(2).map(_.toFloat), 0.02f).map(_.toDouble)
    val got = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10,
      nLists = 4, nProbe = 1, centroids = Some(axes.toArray))
      .collect().map(_.getLong(0)).toSeq
    assert(got.size === 10)
    assert(got.forall(id => id >= 200L && id < 300L), s"probe leaked outside cluster 2: $got")
    // and it matches the brute-force ranking (cluster 2 dominates cosine)
    val brute = Similarity.topK(df, "vec_id", "embedding", q, 10).collect().map(_.getLong(0)).toSeq
    assert(got === brute)
  }

  test("kmeans-trained centroids drive partial-probe IVF to the exact answer") {
    val axes = (0 until 4).map(a => Array.tabulate(32)(i => if (i / 8 == a) 1.0 else 0.0))
    val members = for (a <- 0 until 4; j <- 0 until 25) yield
      (a * 100L + j, jitter(axes(a).map(_.toFloat), 0.02f))
    val df = vecs(members: _*)
    // over-provision lists vs clusters; training tightens the sampled init
    val trained = Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 8, iters = 5)
    assert(trained.length === 8)
    // every true cluster direction is captured by some trained centroid
    for (a <- 0 until 4) {
      val best = trained.map { c =>
        val dot = c.zip(axes(a)).map { case (x, y) => x * y }.sum
        val n = math.sqrt(c.map(x => x * x).sum) * math.sqrt(axes(a).map(x => x * x).sum)
        if (n > 0) dot / n else 0.0
      }.max
      assert(best > 0.9, s"cluster $a not represented (best cosine $best)")
    }
    val q = jitter(axes(1).map(_.toFloat), 0.02f).map(_.toDouble)
    val brute = Similarity.topK(df, "vec_id", "embedding", q, 10).collect().map(_.getLong(0)).toSet
    // partial probe: over-provisioned k may split one cluster across lists,
    // so assert recall, not rank equality
    val partial = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10,
      nLists = 8, nProbe = 2, centroids = Some(trained)).collect().map(_.getLong(0)).toSet
    val recall = brute.count(partial.contains).toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall at nProbe=2")
    assert(partial.forall(id => id >= 100L && id < 200L), "probe leaked outside the query's cluster")
    // full probe with trained centroids stays exact
    val full = Similarity.ivfTopK(df, "vec_id", "embedding", q, 10,
      nLists = 8, nProbe = 8, centroids = Some(trained)).collect().map(_.getLong(0)).toSet
    assert(full === brute)
  }

  test("ivfAssign routes every vector to its nearest centroid; sampleCentroids deterministic") {
    val axes = (0 until 2).map(a => Array.tabulate(8)(i => if (i / 4 == a) 1.0 else 0.0))
    val df = vecs(1L -> axes(0).map(_.toFloat), 2L -> axes(1).map(_.toFloat))
    val assigned = Similarity.ivfAssign(df, "vec_id", "embedding", axes.toArray)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(assigned === Map(1L -> 0, 2L -> 1))
    val df2 = vecs((0L until 50L).map(i => i -> randUnit(8)): _*)
    val c1 = Similarity.sampleCentroids(df2, "vec_id", "embedding", 4).map(_.toSeq).toSeq
    val c2 = Similarity.sampleCentroids(df2, "vec_id", "embedding", 4).map(_.toSeq).toSeq
    assert(c1 === c2)
    assert(c1.size === 4)
  }

  test("cosinePairsExact finds exactly the planted near-dup pairs") {
    val a = randUnit(32)
    val df = vecs(1L -> a, 2L -> jitter(a, 0.01f), 3L -> randUnit(32), 4L -> randUnit(32))
    val pairs = Similarity.cosinePairsExact(df, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("cosinePairsLsh recalls planted duplicates without a cartesian plan") {
    val planted = (0L until 20L).map { i =>
      val v = randUnit(64)
      Seq((i * 2) -> v, (i * 2 + 1) -> jitter(v, 0.01f))
    }.flatten
    val noise = (1000L until 1200L).map(i => i -> randUnit(64))
    val df = vecs((planted ++ noise): _*)
    val (plan, got) = Similarity.cosinePairsLsh(df, "vec_id", "embedding", 0.95)(out =>
      (out.queryExecution.executedPlan.toString,
        out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
    assert(!plan.contains("CartesianProduct"))
    val expected = (0L until 20L).map(i => (i * 2, i * 2 + 1)).toSet
    val recall = expected.count(got.contains).toDouble / expected.size
    assert(recall >= 0.9, s"LSH recall $recall below 0.9; got ${got.size} pairs")
  }

  test("farthest-point init lands one seed per separated cluster; kmeans recovers exactly") {
    import graft.SparkTestBase.spark.implicits._
    // 3 tight clusters on orthogonal axes; 5 points each
    val pts = for (c <- 0 until 3; i <- 0 until 5) yield {
      val v = Array.fill(6)(0f)
      v(c * 2) = 10f
      v(5) = v(5) + (c * 5 + i) * 0.01f // deterministic jitter off-axis
      (c * 5L + i, v.toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val init = Similarity.farthestPointCentroids(df, "vec_id", "embedding", k = 3)
    // one seed per cluster: each seed's dominant axis is distinct
    val axes = init.map(_.zipWithIndex.maxBy(_._1)._2).toSet
    assert(axes === Set(0, 2, 4))
    val cents = Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 3,
      iters = 2, init = Some(init))
    val assigned = Similarity.ivfAssign(df, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getInt(2)))
    val byCluster = assigned.groupBy(_._1 / 5).mapValues(_.map(_._2).toSet)
    assert(byCluster.values.forall(_.size == 1), s"split cluster: $byCluster")
    assert(byCluster.values.flatten.toSet.size === 3, "clusters merged")
  }

  test("farthestPointCentroids auto-samples above maxSeedRows (bounded by construction)") {
    val df = vecs((0L until 500L).map(i => i -> randUnit(8)): _*)
    // auto path: n=500 > maxSeedRows=100 -> internal hash cut at
    // ceil(100/500 * 10000) = 2000 bp; manual path pre-samples with the
    // same cut and disables the internal one -> seeds must be identical
    val auto = Similarity.farthestPointCentroids(df, "vec_id", "embedding", 5, maxSeedRows = 100)
    val manual = Similarity.farthestPointCentroids(
      Sampling.hashSample(df, "vec_id", 2000), "vec_id", "embedding", 5, maxSeedRows = Long.MaxValue)
    assert(auto.map(_.toSeq).toSeq === manual.map(_.toSeq).toSeq)
    assert(auto.length === 5)
    // an input under the bound passes through unsampled (default = 100k)
    val small = Similarity.farthestPointCentroids(df, "vec_id", "embedding", 3)
    val unlimited = Similarity.farthestPointCentroids(
      df, "vec_id", "embedding", 3, maxSeedRows = Long.MaxValue)
    assert(small.map(_.toSeq).toSeq === unlimited.map(_.toSeq).toSeq)
    intercept[IllegalArgumentException](
      Similarity.farthestPointCentroids(df, "vec_id", "embedding", 5, maxSeedRows = 4))
  }

  test("cosinePairsLsh: empty frame and null-first embedding return empty, not NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.cosinePairsLsh(empty, "vec_id", "embedding", 0.9)(_.count()) === 0)
    val allNull = Seq((1L, Option.empty[Array[Float]]), (2L, None)).toDF("vec_id", "embedding")
    assert(Similarity.cosinePairsLsh(allNull, "vec_id", "embedding", 0.9)(_.count()) === 0)
  }

  test("sampleCentroids skips null embeddings instead of NPE-ing the driver") {
    import spark.implicits._
    val df = Seq((1L, Option(Array(1.0f, 0.0f))), (2L, Option.empty[Array[Float]]),
      (3L, Option(Array(0.0f, 1.0f)))).toDF("vec_id", "embedding")
    val cs = Similarity.sampleCentroids(df, "vec_id", "embedding", 3)
    assert(cs.length === 2 && cs.forall(_ != null))
  }

  test("integerCentroids: exact grid means, floor (not truncate) on negatives") {
    import spark.implicits._
    val df = Seq(
      ("a", Array(1.0f, 2.0f)), ("a", Array(3.0f, 5.0f)),
      ("b", Array(-1.0f, 0.5f)), ("b", Array(0.0f, 0.5f)), ("b", Array(0.0f, 0.5f)))
      .toDF("label", "embedding")
    val out = Similarity.integerCentroids(df, "label", "embedding")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(("a", 1)) === ((2L, 4000000L, 2000000L)))
    assert(out(("a", 2)) === ((2L, 7000000L, 3500000L)))
    // -1e6 / 3 floors to -333334, never truncates to -333333 — the
    // engine-parity trap this operator exists to avoid
    assert(out(("b", 1)) === ((3L, -1000000L, -333334L)))
    assert(out(("b", 2)) === ((3L, 1500000L, 500000L)))
  }

  test("integerCentroids: null embeddings skipped, partitioning-invariant") {
    import spark.implicits._
    val df = Seq(("a", Option(Array(1.0f))), ("a", Option.empty[Array[Float]]))
      .toDF("label", "embedding")
    val out = Similarity.integerCentroids(df, "label", "embedding").collect()
    assert(out.length === 1 && out.head.getLong(2) === 1L)
    val big = (1 to 500).map(i => ("g", Array(i.toFloat))).toDF("label", "embedding")
    val a = Similarity.integerCentroids(big, "label", "embedding").head().getLong(4)
    val b = Similarity.integerCentroids(big.repartition(13), "label", "embedding").head().getLong(4)
    assert(a === b && a === 250500000L) // mean of 1..500 = 250.5 exactly on the grid
  }

  test("hardNegatives: same-label neighbors are invisible, ranks follow cosine") {
    import spark.implicits._
    // probe 0 (label 1): its exact duplicate 10 carries label 1 (must be
    // invisible), 11 is a near-copy with label 2 (must rank 1), the rest
    // are orthogonal-ish fillers with label 2
    val q = Array(1.0f, 0f, 0f, 0f)
    val rows = Seq(
      (0L, q, 1), (10L, q, 1), (11L, Array(0.99f, 0.1f, 0f, 0f), 2),
      (12L, Array(0f, 1f, 0f, 0f), 2), (13L, Array(0f, 0f, 1f, 0f), 2),
      (14L, Array(0.5f, 0.5f, 0f, 0f), 2)).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(rows, "vec_id", "embedding", "label",
      probeIds = Seq(0L), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._4)
    assert(got.map(_._2).toSeq === Seq(11L, 14L, 12L)) // by cosine to the probe
    assert(!got.map(_._2).contains(10L), "same-label duplicate leaked in")
    assert(got.map(_._4).toSeq === Seq(1L, 2L, 3L))
    // the ppm surrogate is the published score: cos(14)=1/sqrt(2), cos(12)=0
    assert(got.find(_._2 == 14L).get._3 === 707107L)
    assert(got.find(_._2 == 12L).get._3 === 0L)
  }

  test("mmrRerank: λ=1 is pure relevance; λ=0.5 skips the redundant near-copy") {
    import spark.implicits._
    val q = Array(1.0f, 0f, 0f, 0f)
    // 11 ~ near-copy of 10 (the most relevant): pure relevance ranks it
    // second; at λ=0.5 the redundancy term (sim(11,10) ≈ 0.99994) drives
    // 11's marginal score negative while the orthogonal-ish 12 and 13
    // stay positive, so the diversified set drops 11 entirely
    val rows = Seq(
      (0L, q), (10L, Array(0.9f, 0.1f, 0f, 0f)), (11L, Array(0.9f, 0.11f, 0f, 0f)),
      (12L, Array(0.5f, 0f, 0.8f, 0f)), (13L, Array(0.4f, 0f, 0f, 0.9f)))
      .toDF("vec_id", "embedding")
    def sel(lam: Int) = Similarity.mmrRerank(rows, "vec_id", "embedding",
        q.map(_.toDouble), k = 3, nCandidates = 4, lamX10 = lam, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).map(_._2).toSeq
    assert(sel(10) === Seq(10L, 11L, 12L)) // relevance order
    assert(sel(5) === Seq(10L, 12L, 13L), "λ=0.5 must trade the near-copy for coverage")
  }

  test("mmrRerank: rel_ppm grid, selection order column, bounds enforced") {
    import spark.implicits._
    val q = Array(1.0f, 0f)
    val rows = Seq((0L, q), (1L, Array(1.0f, 0f)), (2L, Array(0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(rows, "vec_id", "embedding", q.map(_.toDouble),
        k = 2, nCandidates = 2, lamX10 = 7, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 1L, 1000000L), (2L, 2L, 0L)))
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(rows, "vec_id", "embedding", q.map(_.toDouble),
        k = 5, nCandidates = 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrRerank(rows, "vec_id", "embedding", q.map(_.toDouble),
        k = 5, nCandidates = 500)
    }
  }

  // ---- knnJoin (round 14: the all-points neighbor graph) ----

  private def bruteKnn(rows: Seq[(Long, Array[Float])], k: Int): Seq[(Long, Long, Long, Long)] =
    rows.flatMap { case (id, v) =>
      val vd = v.map(_.toDouble)
      val nv = math.sqrt(vd.map(x => x * x).sum)
      rows.filter(_._1 != id).map { case (oid, o) =>
        val od = o.map(_.toDouble)
        val no = math.sqrt(od.map(x => x * x).sum)
        val cos = vd.zip(od).map { case (a, b) => a * b }.sum / math.max(nv * no, 1e-300)
        (oid, math.round(cos * 1e6))
      }.sortBy { case (oid, ppm) => (-ppm, oid) }.take(k)
        .zipWithIndex.map { case ((oid, ppm), r) => (id, (r + 1).toLong, oid, ppm) }
    }

  test("knnJoin at full probe equals the brute-force kNN graph exactly") {
    val rows = (0L until 60L).map(i => i -> randUnit(16))
    val got = Similarity.knnJoin(vecs(rows: _*), "vec_id", "embedding", k = 3,
        nLists = 4, nProbe = 4)(_.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got === bruteKnn(rows, 3).sortBy(t => (t._1, t._2)))
  }

  test("knnJoin pruned probing: bounded output, no self edges, high recall on clustered data") {
    // 4 tight clusters: neighbors live in the probed (own) list, so
    // pruned recall is structural, not luck
    val centers = (0 until 4).map(_ => randUnit(16))
    val rows = (0L until 120L).map(i => i -> jitter(centers((i % 4).toInt), 0.05f))
    val df = vecs(rows: _*)
    val exact = Similarity.knnJoin(df, "vec_id", "embedding", k = 3, nLists = 4, nProbe = 4)(
        _.collect())
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pruned = Similarity.knnJoin(df, "vec_id", "embedding", k = 3, nLists = 4, nProbe = 1,
        centroids = Some(centers.map(_.map(_.toDouble)).toArray))(_.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pruned.forall { case (v, _, n) => v != n }, "self edge")
    assert(pruned.groupBy(_._1).forall(_._2.length <= 3), "more than k per vector")
    val recall = pruned.map(t => (t._1, t._3)).count(exact.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall on well-clustered data")
  }

  test("knnProbeIndexed at full probe equals brute-force batch-vs-index; pruned is a subset") {
    val corpus = (100L until 180L).map(i => i -> randUnit(16))
    val batch = (0L until 10L).map(i => i -> randUnit(16))
    val corpusDf = vecs(corpus: _*)
    val cents = Similarity.sampleCentroids(corpusDf, "vec_id", "embedding", 4)
    val index = Similarity.ivfAssign(corpusDf, "vec_id", "embedding", cents)
    val got = Similarity.knnProbeIndexed(index, vecs(batch: _*), "vec_id", "embedding",
        cents, k = 2, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // brute force: each batch vector's top-2 over the corpus on the ppm grid
    val want = batch.flatMap { case (id, v) =>
      val vd = v.map(_.toDouble)
      val nv = math.sqrt(vd.map(x => x * x).sum)
      corpus.map { case (oid, o) =>
        val od = o.map(_.toDouble)
        val no = math.sqrt(od.map(x => x * x).sum)
        (oid, math.round(vd.zip(od).map { case (a, b) => a * b }.sum / math.max(nv * no, 1e-300) * 1e6))
      }.sortBy { case (oid, ppm) => (-ppm, oid) }.take(2)
        .zipWithIndex.map { case ((oid, ppm), r) => (id, (r + 1).toLong, oid, ppm) }
    }.sortBy(t => (t._1, t._2))
    assert(got === want)
    // pruned probing returns a subset of the exact edges, bounded per vector
    val pruned = Similarity.knnProbeIndexed(index, vecs(batch: _*), "vec_id", "embedding",
        cents, k = 2, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(pruned.groupBy(_._1).forall(_._2.length <= 2))
    // index-schema guard
    intercept[IllegalArgumentException] {
      Similarity.knnProbeIndexed(corpusDf, vecs(batch: _*), "vec_id", "embedding",
        cents, k = 2, nProbe = 1)
    }
  }

  test("IVF store cycle: quantizer sidecar rides the index; mismatched centroids are rejected") {
    val corpus = (100L until 180L).map(i => i -> randUnit(16))
    val batch = (0L until 10L).map(i => i -> randUnit(16))
    val corpusDf = vecs(corpus: _*)
    val cents = Similarity.sampleCentroids(corpusDf, "vec_id", "embedding", 4)
    SparkTestBase.withTargetDir("ivf_store_spec") { d =>
      val dir = new java.io.File(d)
      val path = new java.io.File(dir, "idx").getAbsolutePath
      Similarity.writeIvfIndex(corpusDf, "vec_id", "embedding", cents, path)
      // the sidecar reloads the quantizer bit-for-bit, in list order
      val (index, stored) = Similarity.readIvfIndex(corpusDf.sparkSession, path)
      assert(stored.length === cents.length)
      assert(stored.zip(cents).forall { case (a, b) => a.sameElements(b) })
      // the underscore sidecar is INVISIBLE to the index read: schema and
      // row count are exactly the assignment's
      assert(index.columns.toSet === Set("vec_id", "emb", "list_id"))
      assert(index.count() === corpus.length.toLong)
      // store-routed probe == probe with the original in-memory centroids
      val viaStore = Similarity.knnProbeStored(corpusDf.sparkSession, path,
          vecs(batch: _*), "vec_id", "embedding", k = 2, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
      val viaMemory = Similarity.knnProbeIndexed(index, vecs(batch: _*),
          "vec_id", "embedding", cents, k = 2, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
      assert(viaStore === viaMemory)
      // a probe handed a DIFFERENT quantizer than the index was built
      // with must be rejected (sampled routing check), not silently
      // probe wrong buckets
      val foreign = Similarity.sampleCentroids(
        vecs((500L until 504L).map(i => i -> randUnit(16)): _*), "vec_id", "embedding", 4)
      val err = intercept[IllegalArgumentException] {
        Similarity.knnProbeIndexed(index, vecs(batch: _*), "vec_id", "embedding",
          foreign, k = 2, nProbe = 4).collect()
      }
      assert(err.getMessage.contains("different quantizer"))
    }
  }

  test("knnJoin maxBucket guard throws before a quadratic bucket job") {
    val rows = (0L until 50L).map(i => i -> randUnit(8))
    val err = intercept[IllegalArgumentException] {
      Similarity.knnJoin(vecs(rows: _*), "vec_id", "embedding", k = 2,
        nLists = 2, nProbe = 1, maxBucket = 5L)(_.collect())
    }
    assert(err.getMessage.contains("maxBucket"))
  }

  test("marginMine: a true pair beats a hub that is moderately close to everything") {
    // src 0 and tgt 11 are a planted translation pair (near-identical);
    // tgt 99 is a HUB: decent cosine to EVERY src. A raw-cosine top-1
    // would sometimes pick the hub; the margin criterion must not —
    // the hub's backward neighborhood average is as high as its pair
    // cosines, so its margins hover near 1.
    val base = (0 until 6).map(_ => randUnit(32))
    val hub = {
      // the normalized centroid: moderately close to every src
      val c = Array.tabulate(32)(d => base.map(_(d)).sum)
      val n = math.sqrt(c.map(x => x * x.toDouble).sum).toFloat
      c.map(_ / n)
    }
    val srcRows = base.zipWithIndex.map { case (v, i) => (i * 2).toLong -> v }
    val tgtRows = base.zipWithIndex.map { case (v, i) => (i * 2 + 11).toLong -> jitter(v, 0.02f) } :+
      (99L -> hub)
    val out = Similarity.marginMine(
      vecs(srcRows: _*), vecs(tgtRows: _*), "vec_id", "embedding", k = 3)(_.collect())
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    (0 until 6).foreach { i =>
      assert(out((i * 2).toLong) === (i * 2 + 11).toLong,
        s"src ${i * 2} should mine its planted pair, got ${out((i * 2).toLong)}")
    }
  }

  test("marginMine: bounded-src guard throws on an oversized source side") {
    val big = vecs((0L until 50L).map(i => i -> randUnit(8)): _*)
    val err = intercept[IllegalArgumentException] {
      Similarity.marginMine(big, big, "vec_id", "embedding", k = 2, maxSrc = 10)(_.collect())
    }
    assert(err.getMessage.contains("maxSrc"))
  }
}

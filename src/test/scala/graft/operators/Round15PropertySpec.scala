package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Property laws for the round-15 additions (unigram-LM trainer, token
  * drift, principal-angle drift, the IVF store cycle, the narrow
  * repetition profile). Same conventions as the earlier round specs:
  * raw ScalaCheck generators with fixed seeds, laws exercised through
  * real Spark plans. */
class Round15PropertySpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 8): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(0xC15L + i)))

  // ---- unigram-LM trainer ----

  /** Small lowercase corpora with heavy repetition (the regime a subword
    * trainer exists for) plus noise words. */
  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    nDocs <- Gen.choose(2, 10)
    base <- Gen.listOfN(4, Gen.listOfN(4, Gen.oneOf("ab", "ba", "cab", "bc", "a", "abc"))
      .map(_.mkString("")))
    docs <- Gen.listOfN(nDocs, for {
      nw <- Gen.choose(1, 12)
      ws <- Gen.listOfN(nw, Gen.frequency(
        6 -> Gen.oneOf(base),
        2 -> Gen.listOfN(3, Gen.oneOf("x", "y", "z")).map(_.mkString),
        1 -> Gen.const("q")))
    } yield ws.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("unigram conservation laws: chars partition exactly; every word segments; target held") {
    for ((docs, i) <- samples(corpusGen).zipWithIndex) {
      val df = docs.toDF("doc_id", "text")
      val words = docs.flatMap(_._2.split("\\s+")).filter(_.matches("[a-z]+"))
      if (words.nonEmpty) {
        val chars = words.flatMap(_.toSeq).distinct
        val vocabSize = chars.size + 3 + (i % 4)
        val out = Unigram.train(df, "text", vocabSize = vocabSize,
          seedSize = 50, maxPieceLen = 3, rounds = 1 + i % 2, minFreq = 1L)
          .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
        // single characters always survive
        assert(chars.map(_.toString).toSet.subsetOf(out.map(_._1).toSet))
        // the vocabulary never exceeds the target
        assert(out.length <= vocabSize)
        // char conservation: a segmentation PARTITIONS its word, so the
        // usage-weighted piece chars must equal the corpus word chars
        val usageChars = out.map { case (_, len, usage) => len * usage }.sum
        val corpusChars = words.map(_.length.toLong).sum
        assert(usageChars === corpusChars,
          s"case $i: usage·len $usageChars != corpus chars $corpusChars")
        // total usage == the corpus token count of a full re-segmentation
        val seg = Segment.viterbiSegment(df, "doc_id", "text", out.map(_._1).toSeq)
        assert(out.map(_._3).sum === seg.count(),
          s"case $i: trainer usage must equal the segmenter's token count")
      }
    }
  }

  // ---- vocab drift ----

  private def driftRow(a: Seq[(Long, String)], b: Seq[(Long, String)]) =
    TextAnalysis.vocabDrift(a.toDF("doc_id", "text"), b.toDF("doc_id", "text"), "text")
      .collect()(0)

  test("vocab drift laws: zero self-drift, direction symmetry, partitioning invariance") {
    for ((docs, i) <- samples(corpusGen).zipWithIndex) {
      val other = samples(corpusGen, 16)(15 - i % 8)
      // self-drift is exactly zero regardless of content
      val self = driftRow(docs, docs)
      assert(self.getLong(self.fieldIndex("l1_ppm")) === 0L)
      assert(self.getLong(self.fieldIndex("n_new")) === 0L)
      assert(self.getLong(self.fieldIndex("n_gone")) === 0L)
      // direction symmetry: L1 and the mover magnitude are symmetric,
      // appeared/vanished swap
      val ab = driftRow(docs, other)
      val ba = driftRow(other, docs)
      assert(ab.getLong(ab.fieldIndex("l1_ppm")) === ba.getLong(ba.fieldIndex("l1_ppm")))
      assert(ab.getLong(ab.fieldIndex("top_mover_delta_ppm")) ===
        ba.getLong(ba.fieldIndex("top_mover_delta_ppm")))
      assert(ab.getLong(ab.fieldIndex("n_new")) === ba.getLong(ba.fieldIndex("n_gone")))
      assert(ab.getLong(ab.fieldIndex("n_gone")) === ba.getLong(ba.fieldIndex("n_new")))
      // histogram-store form agrees with the direct form exactly
      val viaHists = TextAnalysis.vocabDriftFromHistograms(
        TextAnalysis.tokenHistogram(docs.toDF("doc_id", "text"), "text").repartition(7),
        TextAnalysis.tokenHistogram(other.toDF("doc_id", "text"), "text"))
        .collect()(0)
      assert(viaHists.toSeq === ab.toSeq, s"case $i: store form diverged")
    }
  }

  // ---- principal-angle drift ----

  private val shardGen: Gen[(Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])])] = for {
    d <- Gen.choose(3, 6)
    n <- Gen.choose(30, 80)
    mk = (off: Long) => (0 until n).map { i =>
      (i.toLong + off, (0 until d).map(k =>
        ((i * 31 + k * 7 + off) % 19 - 9).toDouble * (d - k)).toSeq)
    }
  } yield (mk(0), mk(1000))

  test("principalCosines laws: symmetry, [0, 1] bounds, self-identity") {
    for (((a, b), i) <- samples(shardGen).zipWithIndex) {
      val d = a.head._2.size
      def st(rows: Seq[(Long, Seq[Double])]) = Pca.stateOf(
        Pca.gram(rows.toDF("vec_id", "embedding"), "embedding", d, 1000L)
          .collect()(0).getSeq[Long](0), d, 1000L)
      val (sa, sb) = (st(a), st(b))
      val k = 1 + i % d
      val ab = Pca.principalCosines(sa, sb, k)
      val ba = Pca.principalCosines(sb, sa, k)
      assert(ab.length === k && ba.length === k)
      assert(ab.forall(c => c >= 0.0 && c <= 1.0))
      // principal angles are symmetric in the two subspaces
      ab.zip(ba).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, s"case $i k=$k: $x vs $y") }
      // a basis compared against itself is perfectly aligned
      assert(Pca.principalCosines(sa, sa, k).forall(c => math.abs(c - 1.0) < 1e-9))
    }
  }

  // ---- IVF store round-trip ----

  test("IVF store law: write→read preserves every assignment row and the quantizer bit-for-bit") {
    val vecsGen: Gen[Seq[(Long, Array[Float])]] = for {
      n <- Gen.choose(20, 60)
    } yield (0 until n).map(i =>
      (i.toLong, Array.tabulate(8)(k => ((i * 13 + k * 5) % 17 - 8).toFloat / 8f)))
    for ((rows, i) <- samples(vecsGen, 4).zipWithIndex) {
      val df = rows.toDF("vec_id", "embedding")
      val cents = Similarity.sampleCentroids(df, "vec_id", "embedding", 3)
      SparkTestBase.withTargetDir(s"r15_ivf_$i") { dir =>
        Similarity.writeIvfIndex(df, "vec_id", "embedding", cents, s"$dir/idx")
        val (index, stored) = Similarity.readIvfIndex(spark, s"$dir/idx")
        assert(stored.zip(cents).forall { case (x, y) => x.sameElements(y) })
        val direct = Similarity.ivfAssign(df, "vec_id", "embedding", cents)
          .where(col("list_id") >= 0)
          .select(col("vec_id"), col("list_id")).collect()
          .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
        val reloaded = index.select(col("vec_id"), col("list_id")).collect()
          .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
        assert(reloaded === direct, s"case $i: store changed the assignment")
      }
    }
  }

  // ---- narrow repetition profile ----

  test("repetitionProfile invariants: fractions bounded, dup coverage monotone in n is NOT assumed, partitioning-invariant") {
    for ((docs, i) <- samples(corpusGen, 6).zipWithIndex) {
      val df = docs.toDF("doc_id", "text")
      val once = TextAnalysis.repetitionProfile(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.toSeq).toMap
      val again = TextAnalysis.repetitionProfile(df.repartition(5), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.toSeq).toMap
      assert(once === again, s"case $i: partitioning changed the profile")
      once.values.foreach { row =>
        // dup-coverage fractions can never exceed 1 (positions are
        // marked once); top-n overlap fractions may exceed 1 by the
        // documented overlapping-occurrence semantics, so only dup
        // columns are bounded here (the last six)
        row.takeRight(6).foreach { v =>
          val x = v.asInstanceOf[Long]
          assert(x >= 0L && x <= 10000L, s"case $i: dup frac $x out of [0, 10000]")
        }
      }
    }
  }

  // ---- batch-4 laws: inverted-index store, NB classifier ----

  test("inverted-index law: addBatch merge == full rebuild, probe == direct, on random corpora") {
    samples(corpusGen, n = 4).zipWithIndex.foreach { case (rows, i) =>
      val docs = rows.toDF("doc_id", "text")
      val d0 = docs.where(col("doc_id") % 2 === 0)
      val d1 = docs.where(col("doc_id") % 2 === 1)
      SparkTestBase.withTargetDir(s"graft_r15p_ii_$i") { d =>
        val dir = new java.io.File(d, "store")
        InvertedIndex.writeIndex(d0, "doc_id", "text", dir.getAbsolutePath, nBuckets = 16)
        InvertedIndex.addBatch(spark, dir.getAbsolutePath, d1, "doc_id", "text", nBuckets = 16)
        val merged = spark.read.parquet(dir.getAbsolutePath)
          .select(col("tok"), col("doc_id"), col("dl"), col("tf"))
        val rebuilt = InvertedIndex.postings(docs, "doc_id", "text", nBuckets = 16)
        val mismatch = merged.as("m").join(rebuilt.as("r"), Seq("tok", "doc_id"), "full_outer")
          .where(!(col("m.tf") <=> col("r.tf")) || !(col("m.dl") <=> col("r.dl"))).count()
        assert(mismatch === 0L, s"corpus $i: merged store != rebuild")
        // probe any term present in the corpus: store == direct
        val term = rebuilt.select(col("tok")).where(length(col("tok")) > 0)
          .orderBy(col("tok")).limit(1).collect().headOption.map(_.getString(0))
        term.foreach { t =>
          val direct = Ranking.bm25TopK(docs, "doc_id", "text", Seq(t), k = 5)
            .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
          val stored = InvertedIndex.probeStored(spark, dir.getAbsolutePath, Seq(t), k = 5, nBuckets = 16)
            .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
          assert(stored === direct, s"corpus $i term '$t': store probe != direct")
        }
      }
    }
  }

  test("NB law: shard-merged counts retrain to the in-row scorer's exact predictions") {
    samples(corpusGen, n = 4).zipWithIndex.foreach { case (rows, i) =>
      // deterministic two-class labels from doc parity
      val docs = rows.toDF("doc_id", "text")
        .withColumn("label", when(col("doc_id") % 2 === 0, "even").otherwise("odd"))
      val (c0, d0) = Classifier.trainNb(docs.where(col("doc_id") % 3 === 0), "text", "label", 64)
      val (c1, d1) = Classifier.trainNb(docs.where(col("doc_id") % 3 =!= 0), "text", "label", 64)
      val cm = c0.unionByName(c1).groupBy(col("label"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
      val dm = d0.unionByName(d1).groupBy(col("label")).agg(sum(col("n_docs")).as("n_docs"))
      val (cw, dw) = Classifier.trainNb(docs, "text", "label", 64)
      // merged model == whole-corpus model -> identical predictions both paths
      val viaMerged = Classifier.predictNb(
          Classifier.scoreNb(docs, "doc_id", "text", cm, dm, 64))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val inRow = Classifier.predictNbInRow(
          docs, "doc_id", "text", Classifier.collectModel(cw, dw, 64), 64)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(viaMerged === inRow, s"corpus $i: merged-shard batch path != whole-corpus in-row path")
    }
  }
}

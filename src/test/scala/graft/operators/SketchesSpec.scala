package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SketchesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import org.apache.spark.sql.DataFrame

  private def keysDf(keys: Seq[String]): DataFrame = {
    import spark.implicits._
    keys.toDF("k")
  }

  test("CMS never underestimates, and is exact for a collision-free toy set") {
    val data = Seq.fill(100)("alpha") ++ Seq.fill(7)("beta") ++ Seq("gamma")
    val df = keysDf(scala.util.Random.shuffle(data))
    val cells = Sketches.cmsAggregate(df, "k")
    val est = Sketches.cmsEstimates(cells, keysDf(Seq("alpha", "beta", "gamma")), "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("alpha") >= 100L && est("beta") >= 7L && est("gamma") >= 1L)
    // 3 keys in 4x1024 cells: a same-row collision among all four rows is
    // astronomically unlikely; equality is the expected outcome
    assert(est === Map("alpha" -> 100L, "beta" -> 7L, "gamma" -> 1L))
  }

  test("CMS cell table is bounded by depth x width regardless of input") {
    val df = keysDf((1 to 5000).map(i => s"key$i"))
    val n = Sketches.cmsAggregate(df, "k", depth = 4, width = 64).count()
    assert(n <= 4L * 64L)
  }

  test("CMS join-size estimate: exact for collision-free sets, upper bound always") {
    val a = keysDf(Seq.fill(4)("x") ++ Seq.fill(2)("y") ++ Seq("z"))
    val b = keysDf(Seq.fill(3)("x") ++ Seq.fill(5)("y") ++ Seq("w"))
    val est = Sketches.cmsJoinSizeEstimate(
        Sketches.cmsAggregate(a, "k"), Sketches.cmsAggregate(b, "k"))
      .collect()(0).getLong(0)
    // true join size = 4*3 + 2*5 = 22; 4 keys in 4x1024 cells: a same-row
    // collision across all rows is astronomically unlikely
    assert(est === 22L)
  }

  test("CMS join-size estimate: disjoint key sets estimate zero") {
    val est = Sketches.cmsJoinSizeEstimate(
        Sketches.cmsAggregate(keysDf(Seq("a", "b")), "k"),
        Sketches.cmsAggregate(keysDf(Seq("c", "d")), "k"))
      .collect()(0).getLong(0)
    // min over rows sees any zero-dot row; with 4 keys a cross-collision
    // in EVERY row is astronomically unlikely
    assert(est === 0L)
  }

  test("CMS join-size estimate rejects mismatched sketch params") {
    val cells = Sketches.cmsAggregate(keysDf(Seq("a")), "k", depth = 4, width = 512)
    intercept[IllegalArgumentException] {
      Sketches.cmsJoinSizeEstimate(cells, cells, depth = 4, width = 1024)
    }
  }

  test("CMS estimate for a key hashed only to empty cells is zero") {
    val cells = Sketches.cmsAggregate(keysDf(Seq("only")), "k")
    val est = Sketches.cmsEstimates(cells, keysDf(Seq("absent-key-xyz")), "k")
      .collect().head.getLong(1)
    assert(est === 0L)
  }

  test("width/depth contracts are enforced") {
    intercept[IllegalArgumentException] {
      Sketches.cmsAggregate(keysDf(Seq("a")), "k", width = 1000)
    }
    intercept[IllegalArgumentException] {
      Sketches.cmsAggregate(keysDf(Seq("a")), "k", depth = 11)
    }
    intercept[IllegalArgumentException] {
      Sketches.hllRegisters(keysDf(Seq("a")), "k", m = 100)
    }
  }

  test("HLL registers are duplicate-insensitive (max-aggregate, not count)") {
    val once = keysDf((1 to 500).map(i => s"v$i"))
    val thrice = once.unionAll(once).unionAll(once)
    val a = Sketches.hllRegisters(once, "k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = Sketches.hllRegisters(thrice, "k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === b)
  }

  test("HLL estimate lands within 10% of the true cardinality at n=10000") {
    val n = 10000
    val regs = Sketches.hllRegisters(keysDf((1 to n).map(i => s"item-$i")), "k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val est = Sketches.hllEstimate(regs, 1024)
    assert(math.abs(est - n) / n.toDouble < 0.10,
      s"HLL estimate $est vs true $n (m=1024, rse ~3.2%)")
  }

  test("HLL small-range correction: tiny cardinalities stay accurate") {
    val regs = Sketches.hllRegisters(keysDf((1 to 30).map(i => s"x$i")), "k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val est = Sketches.hllEstimate(regs, 1024)
    assert(math.abs(est - 30) <= 3, s"linear-counting regime estimate $est vs 30")
  }

  // ---- per-group registers (verdict r13 ask #1) ----

  private def groupedDf(groups: Map[String, Int]): DataFrame = {
    import spark.implicits._
    groups.toSeq.flatMap { case (g, n) => (1 to n).map(i => (g, s"$g-item-$i")) }
      .toDF("grp", "k")
  }

  test("per-group registers equal per-group runs of the global builder") {
    val df = groupedDf(Map("en" -> 800, "de" -> 300, "fr" -> 50))
    val grouped = Sketches.hllGroupRegisters(df, "grp", "k", m = 256).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val perGroup = Seq("en", "de", "fr").flatMap { g =>
      Sketches.hllRegisters(df.where(col("grp") === g), "k", m = 256).collect()
        .map(r => (g, r.getLong(0), r.getLong(1)))
    }.sorted
    assert(grouped === perGroup)
  }

  test("per-group register tables shard-merge exactly (per-(group,bucket) max)") {
    val df = groupedDf(Map("en" -> 600, "de" -> 400)).withColumn("shard",
      abs(xxhash64(col("k"))) % 3)
    val whole = Sketches.hllGroupRegisters(df, "grp", "k", m = 256)
    val merged = (0 until 3).map(s =>
        Sketches.hllGroupRegisters(df.where(col("shard") === s), "grp", "k", m = 256))
      .reduce(_ unionByName _)
      .groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("rho"))
    val diff = merged.as("m").join(whole.as("w"), Seq("grp", "bucket"), "full_outer")
      .where(!(col("m.rho") <=> col("w.rho"))).count()
    assert(diff === 0L, "shard-merged group registers diverged from the single pass")
  }

  test("per-group estimates land within the m=256 error envelope per group") {
    val truth = Map("en" -> 2000, "de" -> 700, "fr" -> 120)
    val regsByGroup = Sketches.hllGroupRegisters(groupedDf(truth), "grp", "k", m = 256)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    truth.foreach { case (g, n) =>
      val est = Sketches.hllEstimate(regsByGroup(g).map(t => (t._2, t._3)).toSeq, 256)
      // rse at m=256 is ~6.5%; 3 sigma with slack
      assert(math.abs(est - n) / n.toDouble < 0.20, s"group $g: estimate $est vs true $n")
    }
  }

  // ---- store round-trip stamping (verdict r13 ask #2) ----

  test("a partitioned store drops the CMS params stamp; stampCms restores the probe guard") {
    val cells = Sketches.cmsAggregate(keysDf((1 to 200).map(i => s"key$i")), "k",
      depth = 4, width = 512)
    SparkTestBase.withTargetDir("cms-store-") { dir =>
      // a PLAIN Spark parquet write keeps column metadata (Spark serializes
      // its schema, stamp included, into the footer) — but that protection is
      // an engine-private courtesy: it vanishes the moment the stamped column
      // becomes a partition directory (rebuilt from path names, no footer) or
      // the store is written/rewritten by any non-Spark engine. Pin the
      // partitioned layout — the realistic store shape — as the dropping case.
      graft.sources.Sinks.writePartitioned(cells, dir, Seq("r"), filesPerPartition = 1)
      val reread = spark.read.parquet(dir)
      val meta = reread.schema.find(_.name == "r").get.metadata
      assert(!meta.contains("graft.cms.depth"),
        "partition-encoded column unexpectedly kept its metadata stamp")
      // re-stamped with the STORE's params, a mismatched probe throws again
      val stamped = Sketches.stampCms(reread, depth = 4, width = 512)
      val err = intercept[IllegalArgumentException] {
        Sketches.cmsEstimates(stamped, keysDf(Seq("key1")), "k", depth = 4, width = 1024)
      }
      assert(err.getMessage.contains("width=512"))
      // and a matched probe reads the same estimates as the pre-store cells
      val a = Sketches.cmsEstimates(cells, keysDf(Seq("key1", "key2")), "k",
        depth = 4, width = 512).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val b = Sketches.cmsEstimates(stamped, keysDf(Seq("key1", "key2")), "k",
        depth = 4, width = 512).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a === b)
    }
  }

  // ---- per-group CMS (round 14: the frequency sibling of hllGroupRegisters) ----

  private def groupKeysDf(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("g", "k")
  }

  test("per-group CMS estimates per-group counts independently and never underestimates") {
    val rows = Seq.fill(40)(("en", "alpha")) ++ Seq.fill(3)(("en", "beta")) ++
      Seq.fill(7)(("de", "alpha")) ++ Seq.fill(11)(("de", "gamma"))
    val cells = Sketches.cmsGroupAggregate(groupKeysDf(scala.util.Random.shuffle(rows)), "g", "k")
    val probes = groupKeysDf(Seq(("en", "alpha"), ("en", "beta"), ("en", "gamma"),
      ("de", "alpha"), ("de", "gamma")))
    val est = Sketches.cmsGroupEstimates(cells, probes, "g", "k")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // 2-3 keys per group in 4x1024 cells: equality expected, and a key
    // absent FROM ITS GROUP reads 0 even though it is present in the other
    assert(est === Map(("en", "alpha") -> 40L, ("en", "beta") -> 3L, ("en", "gamma") -> 0L,
      ("de", "alpha") -> 7L, ("de", "gamma") -> 11L))
  }

  test("per-group CMS cell table is bounded by groups x depth x width and merges by sum") {
    val rows = (1 to 3000).map(i => (s"g${i % 3}", s"key$i"))
    val df = groupKeysDf(rows)
    val cells = Sketches.cmsGroupAggregate(df, "g", "k", depth = 4, width = 64)
    assert(cells.count() <= 3L * 4L * 64L)
    // additivity: cells(A) + cells(B) == cells(A union B), cell for cell
    val (a, b) = (df.where(col("k").substr(4, 1).isin("1", "3", "5", "7", "9")),
      df.where(!col("k").substr(4, 1).isin("1", "3", "5", "7", "9")))
    val merged = Sketches.cmsGroupAggregate(a, "g", "k", depth = 4, width = 64)
      .unionAll(Sketches.cmsGroupAggregate(b, "g", "k", depth = 4, width = 64))
      .groupBy("g", "r", "c").agg(sum("cnt").as("cnt"))
    val whole = Sketches.cmsGroupAggregate(df, "g", "k", depth = 4, width = 64)
    assert(merged.as("m").join(whole.as("w"),
      Seq("g", "r", "c"), "full_outer")
      .where(col("m.cnt").isNull || col("w.cnt").isNull || col("m.cnt") =!= col("w.cnt"))
      .count() === 0L)
  }

  test("per-group CMS params stamp guards mismatched probes") {
    val cells = Sketches.cmsGroupAggregate(groupKeysDf(Seq(("g", "a"))), "g", "k",
      depth = 4, width = 512)
    val err = intercept[IllegalArgumentException] {
      Sketches.cmsGroupEstimates(cells, groupKeysDf(Seq(("g", "a"))), "g", "k",
        depth = 4, width = 1024)
    }
    assert(err.getMessage.contains("width=512"))
  }

  // ---- HLL register set algebra (round 14) ----

  test("hllMergeRegisters is EXACTLY the union's register table (max law)") {
    val a = keysDf((1 to 700).map(i => s"a$i"))
    val b = keysDf((400 to 1200).map(i => if (i <= 700) s"a$i" else s"b$i"))
    val merged = Sketches.hllMergeRegisters(
      Sketches.hllRegisters(a, "k"), Sketches.hllRegisters(b, "k"))
    val union = Sketches.hllRegisters(a.unionAll(b), "k")
    assert(merged.as("m").join(union.as("u"), Seq("bucket"), "full_outer")
      .where(col("m.rho").isNull || col("u.rho").isNull || col("m.rho") =!= col("u.rho"))
      .count() === 0L)
  }

  test("inclusion-exclusion intersection estimate tracks the exact overlap") {
    // |A| = 3000, |B| = 3000, |A ∩ B| = 2000 — the vocab-overlap regime
    // the operator is for (overlap a large fraction of either side)
    val a = keysDf((1 to 3000).map(i => s"v$i"))
    val b = keysDf((1001 to 4000).map(i => s"v$i"))
    val collect = (df: DataFrame) => df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val regsA = collect(Sketches.hllRegisters(a, "k"))
    val regsB = collect(Sketches.hllRegisters(b, "k"))
    val regsU = collect(Sketches.hllMergeRegisters(
      Sketches.hllRegisters(a, "k"), Sketches.hllRegisters(b, "k")))
    val est = Sketches.hllIntersectionEstimate(regsA, regsB, regsU, 1024)
    // each estimate carries ~1.04/sqrt(1024) ≈ 3.3% rse; three of them
    // against a 2/3-of-side overlap stays well inside 20%
    assert(math.abs(est - 2000.0) / 2000.0 < 0.20, s"intersection estimate $est vs 2000")
  }
}

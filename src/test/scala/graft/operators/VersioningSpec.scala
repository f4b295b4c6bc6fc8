package graft.operators

import org.apache.spark.sql.functions.{col, length}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class VersioningSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def diffMap(v1: Seq[(Long, Option[String], Option[String])],
      v2: Seq[(Long, Option[String], Option[String])],
      emitUnchanged: Boolean = false): Map[Long, String] = {
    import spark.implicits._
    val a = v1.toDF("doc_id", "text", "lang")
    val b = v2.toDF("doc_id", "text", "lang")
    Versioning.snapshotDiff(a, b, "doc_id", Seq("text", "lang"), emitUnchanged)
      .select(col("doc_id"), col("status"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  test("classifies added / removed / changed; drops unchanged by default") {
    val v1 = Seq(
      (1L, Some("same"), Some("en")),
      (2L, Some("old"), Some("en")),
      (3L, Some("gone"), Some("de")))
    val v2 = Seq(
      (1L, Some("same"), Some("en")),
      (2L, Some("new"), Some("en")),
      (4L, Some("fresh"), Some("fr")))
    val out = diffMap(v1, v2)
    assert(out === Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("emitUnchanged=true keeps the unchanged majority") {
    val v1 = Seq((1L, Some("same"), Some("en")), (2L, Some("x"), Some("en")))
    val v2 = Seq((1L, Some("same"), Some("en")), (2L, Some("y"), Some("en")))
    val out = diffMap(v1, v2, emitUnchanged = true)
    assert(out === Map(1L -> "unchanged", 2L -> "changed"))
  }

  test("null semantics: null->value and value->null are changed; null==null is unchanged") {
    val v1 = Seq(
      (1L, None: Option[String], Some("en")),
      (2L, Some("x"), Some("en")),
      (3L, None: Option[String], None: Option[String]))
    val v2 = Seq(
      (1L, Some("x"), Some("en")),
      (2L, None: Option[String], Some("en")),
      (3L, None: Option[String], None: Option[String]))
    val out = diffMap(v1, v2, emitUnchanged = true)
    assert(out === Map(1L -> "changed", 2L -> "changed", 3L -> "unchanged"))
  }

  test("null value is distinct from the string image of the null tag") {
    // fingerprint tags null as "N" and value v as "V"+v: a column holding
    // the literal string "N" must NOT compare equal to a null column
    val v1 = Seq((1L, Some("N"), Some("en")))
    val v2 = Seq((1L, None: Option[String], Some("en")))
    assert(diffMap(v1, v2) === Map(1L -> "changed"))
  }

  test("multi-column: change in any compared column flags the row") {
    val v1 = Seq((1L, Some("t"), Some("en")), (2L, Some("t"), Some("en")))
    val v2 = Seq((1L, Some("t"), Some("de")), (2L, Some("t"), Some("en")))
    assert(diffMap(v1, v2) === Map(1L -> "changed"))
  }

  test("ignores columns outside compareCols") {
    import spark.implicits._
    val a = Seq((1L, "t", "meta1")).toDF("doc_id", "text", "extra")
    val b = Seq((1L, "t", "meta2")).toDF("doc_id", "text", "extra")
    val out = Versioning.snapshotDiff(a, b, "doc_id", Seq("text"), emitUnchanged = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "unchanged"))
  }

  test("empty compareCols is rejected") {
    import spark.implicits._
    val a = Seq((1L, "t")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Versioning.snapshotDiff(a, a, "doc_id", Seq.empty)
    }
  }

  test("incrementalRecompute equals full recompute; provenance marks the churn") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.length
    val v1 = Seq((1L, "same"), (2L, "old"), (3L, "gone")).toDF("doc_id", "text")
    val v2 = Seq((1L, "same"), (2L, "newer"), (4L, "fresh")).toDF("doc_id", "text")
    def score(df: DataFrame): DataFrame =
      df.select(col("doc_id"), length(col("text")).cast("long").as("n"))
    val out = Versioning.incrementalRecompute(score(v1), v1, v2, "doc_id", Seq("text"), score)(
        _.collect())
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // same values as score(v2), removed doc absent
    assert(out.view.mapValues(_._1).toMap === Map(1L -> 4L, 2L -> 5L, 4L -> 5L))
    // unchanged carried from the cache, churn recomputed
    assert(out.view.mapValues(_._2).toMap ===
      Map(1L -> "carried", 2L -> "recomputed", 4L -> "recomputed"))
  }

  // ---- scd2Merge ----

  private def dimDF(rows: Seq[(Long, Option[String], Long, Option[Long])]) = {
    import spark.implicits._
    rows.toDF("k", "attr", "valid_from", "valid_to")
  }

  private def merged(dim: Seq[(Long, Option[String], Long, Option[Long])],
      changes: Seq[(Long, Option[String])], ts: Long) = {
    import spark.implicits._
    Versioning.scd2Merge(dimDF(dim), changes.toDF("k", "attr"),
        "k", Seq("attr"), ts)
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSet
  }

  test("scd2: changed key closes the open row and appends a new one; history untouched") {
    val dim = Seq(
      (1L, Some("v1"), 0L, Some(100L)), // closed history
      (1L, Some("v2"), 100L, None),     // open, will change
      (2L, Some("w1"), 0L, None))       // open, not in batch
    val out = merged(dim, Seq((1L, Some("v3"))), ts = 200L)
    assert(out === Set(
      (1L, Some("v1"), 0L, Some(100L)),
      (1L, Some("v2"), 100L, Some(200L)),
      (1L, Some("v3"), 200L, None),
      (2L, Some("w1"), 0L, None)))
  }

  test("scd2: identical image is a no-op — re-applying the batch is idempotent") {
    val dim = Seq((1L, Some("same"), 0L, None))
    val out = merged(dim, Seq((1L, Some("same"))), ts = 200L)
    assert(out === Set((1L, Some("same"), 0L, None)))
  }

  test("scd2: brand-new key inserts an open row") {
    val dim = Seq((1L, Some("a"), 0L, None))
    val out = merged(dim, Seq((9L, Some("fresh"))), ts = 200L)
    assert(out === Set(
      (1L, Some("a"), 0L, None),
      (9L, Some("fresh"), 200L, None)))
  }

  test("scd2: null-safe attribute compare — null==null is a no-op, null vs value changes") {
    val dim = Seq(
      (1L, None: Option[String], 0L, None: Option[Long]),
      (2L, Some("x"), 0L, None: Option[Long]))
    val out = merged(dim, Seq((1L, None), (2L, None)), ts = 50L)
    assert(out === Set(
      (1L, None, 0L, None),            // null == null: untouched
      (2L, Some("x"), 0L, Some(50L)),  // value -> null: closed
      (2L, None, 50L, None)))          // ...and re-opened with null image
  }

  test("scd2: applying the same batch twice equals applying it once (second pass all no-ops)") {
    val dim = Seq(
      (1L, Some("v1"), 0L, None: Option[Long]),
      (2L, Some("w1"), 0L, None: Option[Long]))
    val batch = Seq((1L, Some("v2")), (3L, Some("new")))
    import spark.implicits._
    val once = Versioning.scd2Merge(dimDF(dim), batch.toDF("k", "attr"),
      "k", Seq("attr"), 100L)
    val twice = Versioning.scd2Merge(once, batch.toDF("k", "attr"),
        "k", Seq("attr"), 999L)
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSet
    assert(twice === Set(
      (1L, Some("v1"), 0L, Some(100L)),
      (1L, Some("v2"), 100L, None),
      (2L, Some("w1"), 0L, None),
      (3L, Some("new"), 100L, None)))
  }

  test("snapshotDiff excludes null-id rows instead of double-classifying them") {
    import spark.implicits._
    val v1 = Seq((Option(1L), "a"), (Option.empty[Long], "x")).toDF("id", "t")
    val v2 = Seq((Option(1L), "a"), (Option.empty[Long], "y")).toDF("id", "t")
    val out = Versioning.snapshotDiff(v1, v2, "id", Seq("t"), emitUnchanged = true)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out === Seq((1L, "unchanged"))) // no phantom added+removed pair
  }

  test("scd2Merge drops null-key change rows (idempotency preserved)") {
    import spark.implicits._
    val dim = Seq((1L, Option("v"), 0L, Option.empty[Long])).toDF("k", "attr", "valid_from", "valid_to")
    val batch = Seq((Option(1L), Option("v")), (Option.empty[Long], Option("ghost")))
      .toDF("k", "attr")
    val once = Versioning.scd2Merge(dim, batch, "k", Seq("attr"), 100L)
    assert(once.count() === 1) // no null-key insert
    val twice = Versioning.scd2Merge(once, batch, "k", Seq("attr"), 200L)
    assert(twice.count() === 1) // and re-application still changes nothing
  }

  test("scd2Merge states its schema contract loudly for extra dim columns") {
    import spark.implicits._
    val dim = Seq((1L, "v", 0L, Option.empty[Long], "extra"))
      .toDF("k", "attr", "valid_from", "valid_to", "load_date")
    val e = intercept[IllegalArgumentException] {
      Versioning.scd2Merge(dim, Seq((1L, "v")).toDF("k", "attr"), "k", Seq("attr"), 100L)
    }
    assert(e.getMessage.contains("exactly key + attrs + validity"))
  }

  test("incrementalRecompute always rescans null-id rows and evicts null-id priors") {
    import spark.implicits._
    val v1 = Seq((Option(1L), "a"), (Option.empty[Long], "old")).toDF("id", "t")
    val v2 = Seq((Option(1L), "a"), (Option.empty[Long], "new")).toDF("id", "t")
    val prior = Seq((Option(1L), "a", 1L), (Option.empty[Long], "old", 3L)).toDF("id", "t", "score")
    def score(df: org.apache.spark.sql.DataFrame) = df.withColumn("score", length(col("t")).cast("long"))
    val out = Versioning.incrementalRecompute(prior, v1, v2, "id", Seq("t"), score)(_.collect())
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getString(1), r.getLong(2), r.getString(3))).toSet
    // equals score(v2): the null-id row is recomputed from v2, never carried stale
    assert(out === Set((Some(1L), "a", 1L, "carried"), (None, "new", 3L, "recomputed")))
  }

  test("latestKPerKey keeps the k highest orders per key, ties to the lowest id") {
    import spark.implicits._
    val df = Seq(
      // key "u": orders 10,20,20,30 — k=2 keeps 30 and the LOWER-id 20
      ("u", 10L, 100L), ("u", 20L, 102L), ("u", 20L, 101L), ("u", 30L, 103L),
      // key "v": fewer than k rows — all kept
      ("v", 5L, 200L)).toDF("key", "ord", "id")
    val kept = Versioning.latestKPerKey(df, "key", "ord", "id", k = 2)
      .collect().map(_.getLong(2)).toSet
    assert(kept === Set(103L, 101L, 200L))
  }

  test("latestKPerKey: null key/order/id rows never occupy a slot") {
    import spark.implicits._
    val df = Seq(
      (Some("u"), Some(1L), Some(10L)), (Some("u"), None, Some(11L)),
      (None, Some(3L), Some(12L)), (Some("u"), Some(4L), None))
      .toDF("key", "ord", "id")
    val kept = Versioning.latestKPerKey(df, "key", "ord", "id", k = 1)
      .collect().map(_.get(2))
    assert(kept.toSeq === Seq(10L))
  }
}

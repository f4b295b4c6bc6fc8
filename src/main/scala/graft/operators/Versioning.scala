package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot-to-snapshot corpus diff for iterated training-data builds:
  * classify every document id as `added` / `removed` / `changed` between
  * two corpus versions (re-crawls, re-filters, upstream refreshes).
  *
  * Scale shape: the full outer join is unavoidable — but it must move
  * fingerprints, not documents. Each side is projected to
  * `(id, 128-bit content fingerprint)` BEFORE the shuffle (two
  * independently-seeded xxhash64s over the null-tagged compare columns),
  * so diffing two 100 TB snapshots shuffles ~28 bytes per row per side.
  * Catalyst plans a sort-merge join on the id; AQE coalesces the output.
  * Unchanged rows — the overwhelming majority of a steady-state refresh —
  * are filtered out by default (`emitUnchanged = false`) so the result is
  * proportional to the churn, not the corpus.
  *
  * Null semantics: each compare column is hashed with a null tag distinct
  * from any value image (the [[Dedup]] exact-key convention), so
  * null -> 'x' and 'x' -> null both classify as `changed`, and two nulls
  * compare equal.
  */
object Versioning {

  private def fingerprint(compareCols: Seq[String], seed: Int) = {
    val parts = compareCols.map { c =>
      val v = col(s"`$c`").cast("string")
      when(v.isNull, lit("N")).otherwise(concat(lit("V"), v))
    }
    xxhash64((lit(seed) +: parts): _*)
  }

  /** Rows with a NULL id are EXCLUDED from the diff (documented contract):
    * a null never equi-joins, so they would classify as simultaneously
    * `added` and `removed` — and with several null-id rows per side a
    * null-safe join would cross-product them instead. No identity, no
    * diff; [[incrementalRecompute]] handles them explicitly. */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, idCol: String,
      compareCols: Seq[String], emitUnchanged: Boolean = false): DataFrame = {
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    def side(df: DataFrame, tag: String) = df
      .where(col(s"`$idCol`").isNotNull)
      .select(
        col(s"`$idCol`").as(s"id_$tag"),
        fingerprint(compareCols, 0).as(s"f1_$tag"),
        fingerprint(compareCols, 1).as(s"f2_$tag"))

    val joined = side(v1, "a").join(side(v2, "b"),
      col("id_a") === col("id_b"), "full_outer")

    val status = when(col("id_a").isNull, "added")
      .when(col("id_b").isNull, "removed")
      .when(col("f1_a") === col("f1_b") && col("f2_a") === col("f2_b"), "unchanged")
      .otherwise("changed")

    val out = joined.select(
      coalesce(col("id_a"), col("id_b")).as(idCol),
      status.as("status"))
    if (emitUnchanged) out else out.filter(col("status") =!= "unchanged")
  }

  /** SCD Type-2 merge: apply a change batch to a history-keeping dimension
    * (the warehouse-side complement of [[snapshotDiff]] — the reference's
    * pipeline masks dimensions like these before publication; this
    * operator maintains them). `dim` carries full history — one open row
    * per key (`validTo` null) plus closed rows — and `changes` carries the
    * incoming attribute image per key, effective at `batchTs`:
    *
    *  - open row whose attributes differ from the incoming image
    *    (null-safe, column-wise): closed at `batchTs`, and a new open row
    *    with the incoming image is appended (`validFrom = batchTs`);
    *  - open row with an identical image: untouched (idempotent no-op —
    *    re-applying the same batch changes nothing);
    *  - key present only in `changes`: new open row appended;
    *  - closed rows and keys absent from `changes`: pass through verbatim.
    *
    * Scale shape: the dimension is the 100 TB side and it NEVER shuffles —
    * `changes` (a CDC batch, orders of magnitude smaller) is broadcast,
    * so the merge is two broadcast-probe streams over `dim`: one full-width
    * pass amending `validTo` in place, and one key-column-only pass
    * (column-pruned scan) collecting the batch-sized set of matched open
    * rows that decides insert-vs-no-op. Contrast with a naive MERGE that
    * shuffles the dimension on key. Output row count = |dim| + |inserts|.
    *
    * Preconditions (documented, not enforced — enforcement would cost an
    * action over the batch): `changes` has unique keys, and `dim` has at
    * most one open row per key; duplicate keys on either side duplicate
    * the affected output rows, as in any SQL MERGE.
    */
  def scd2Merge(dim: DataFrame, changes: DataFrame, keyCol: String,
      attrCols: Seq[String], batchTs: Long,
      validFromCol: String = "valid_from",
      validToCol: String = "valid_to"): DataFrame = {
    require(attrCols.nonEmpty, "attrCols must be non-empty")
    // the insert projection below reconstructs dim's exact schema; any
    // extra dimension column (surrogate key, load date) would fail deep in
    // analysis with an opaque unresolved-column error — state the schema
    // contract up front instead
    val expected = (keyCol +: attrCols) ++ Seq(validFromCol, validToCol)
    require(dim.columns.toSet == expected.toSet,
      s"scd2Merge requires dim's schema to be exactly key + attrs + validity " +
        s"(got ${dim.columns.mkString(", ")}; expected ${expected.mkString(", ")})")
    val validToType = dim.schema(validToCol).dataType
    // a null business key can neither match an open row nor insert
    // idempotently (it would re-append on every application) — drop such
    // change rows rather than corrupt the dimension
    val ch = changes.where(col(s"`$keyCol`").isNotNull).select(
      (keyCol +: attrCols).map(c => col(s"`$c`").as(s"__ch_$c")): _*)

    // pass 1: dim streams against the broadcast batch; an open row whose
    // image differs is closed in-projection (no shuffle, no explode)
    val differs = attrCols
      .map(c => !(col(s"`$c`") <=> col(s"__ch_$c"))).reduce(_ || _)
    val amended = dim
      .join(broadcast(ch),
        col(s"`$keyCol`") === col(s"__ch_$keyCol") && col(s"`$validToCol`").isNull,
        "left")
      .withColumn(validToCol,
        when(col(s"__ch_$keyCol").isNotNull && differs, lit(batchTs).cast(validToType))
          .otherwise(col(s"`$validToCol`")))
      .select(dim.columns.map(c => col(s"`$c`")): _*)

    // pass 2: the open rows matching batch keys (batch-sized by the
    // precondition) decide which incoming images become inserts
    val curMatched = dim.filter(col(s"`$validToCol`").isNull)
      .join(broadcast(ch.select(col(s"__ch_$keyCol"))),
        col(s"`$keyCol`") === col(s"__ch_$keyCol"), "left_semi")
      .select((keyCol +: attrCols).map(c => col(s"`$c`").as(s"__cur_$c")): _*)
    val insertNeeded = col(s"__cur_$keyCol").isNull ||
      attrCols.map(c => !(col(s"__ch_$c") <=> col(s"__cur_$c"))).reduce(_ || _)
    val inserts = ch
      .join(broadcast(curMatched),
        col(s"__ch_$keyCol") === col(s"__cur_$keyCol"), "left")
      .filter(insertNeeded)
      .select((keyCol +: attrCols).map(c => col(s"__ch_$c").as(c)) ++ Seq(
        lit(batchTs).cast(dim.schema(validFromCol).dataType).as(validFromCol),
        lit(null).cast(validToType).as(validToCol)): _*)

    amended.unionByName(inserts.select(dim.columns.map(c => col(s"`$c`")): _*))
  }

  /** Incremental recompute over a snapshot refresh: re-run `score` ONLY on
    * the churn (added + changed docs) of v1 -> v2, carry `prior` (= the
    * cached `score(v1)` output, keyed by `idCol`) for unchanged docs, drop
    * removed docs. Output rows are tagged `provenance` =
    * `carried`/`recomputed` for observability; modulo that column the
    * result equals `score(v2)` whenever `score` is deterministic and
    * per-row in `compareCols` — recomputing 0.1% churn instead of 100 TB.
    *
    * Scale shape: the churn id sets are proportional to the refresh delta,
    * so both the semi-join (pick recompute inputs from v2) and the
    * anti-join (evict stale rows from the carried cache) broadcast the id
    * list; the corpus sides never shuffle. A full-rebuild-sized churn
    * would blow the broadcast — at that point run `score(v2)` directly. */
  def incrementalRecompute[T](prior: DataFrame, v1: DataFrame, v2: DataFrame,
      idCol: String, compareCols: Seq[String],
      score: DataFrame => DataFrame)(use: DataFrame => T): T = {
    // churnNew and churnOld both read the diff, the full-outer fingerprint
    // join over BOTH corpus-sized snapshots — the dominant cost. It is built
    // once, before the plan that reads it twice, and released when `use`,
    // which runs every action over the lazy result, returns.
    Fixpoint.materialized(snapshotDiff(v1, v2, idCol, compareCols)) { diff => // churn rows only
      val churnNew = diff.where(col("status").isin("added", "changed"))
        .select(col(s"`$idCol`"))
      val churnOld = diff.where(col("status").isin("removed", "changed"))
        .select(col(s"`$idCol`"))
      // null-id rows have no identity for snapshotDiff to see: v2's are
      // always RECOMPUTED (they cannot match a prior row) and prior's are
      // always evicted — keeping the score(v2) equivalence exactly
      val recomputed = score(
        v2.where(col(s"`$idCol`").isNotNull).join(broadcast(churnNew), Seq(idCol), "left_semi")
          .unionByName(v2.where(col(s"`$idCol`").isNull)))
        .withColumn("provenance", lit("recomputed"))
      val carried = prior.where(col(s"`$idCol`").isNotNull)
        .join(broadcast(churnOld), Seq(idCol), "left_anti")
        .withColumn("provenance", lit("carried"))
      use(carried.unionByName(recomputed))
    }
  }

  /** Latest K records per key — the generalization of latest-per-key
    * compaction for CDC streams that must retain a short history window
    * (rollback candidates, change auditing, n-version feature snapshots).
    *
    * Winners per key are the K highest `(orderCol, id ASC on ties)` rows,
    * selected by the bounded-heap aggregate
    * [[graft.plans.TopKAggregate]] — ONE hash shuffle carrying ≤K
    * candidates per key per map task, regardless of how hot the hottest
    * key is; a `row_number` window would sort every key's full history on
    * one task. Full rows come back via a broadcast-semi join on the
    * (keys×K)-sized winner-id set.
    *
    * Contracts: `idCol` must be integral and UNIQUE (it is the join-back
    * identity and the deterministic tie-break); `orderCol` is cast to
    * double inside the heap — exact for integral orders up to 2^53
    * (epoch micros are exact until the year ~2255); rows with a NULL key,
    * id, or order are dropped (no identity / no position ⇒ no slot). */
  def latestKPerKey(df: DataFrame, keyCol: String, orderCol: String,
                    idCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val key = col(s"`$keyCol`"); val id = col(s"`$idCol`").cast("long")
    val ord = col(s"`$orderCol`").cast("double")
    val keep = df
      .where(key.isNotNull && id.isNotNull && ord.isNotNull)
      .groupBy(key)
      .agg(graft.plans.TopKAggregate.topKByScore(ord, id, k).as("__top"))
      .select(explode(col("__top.id")).as("__graft_keep"))
    df.join(broadcast(keep), id === col("__graft_keep"), "left_semi")
  }
}

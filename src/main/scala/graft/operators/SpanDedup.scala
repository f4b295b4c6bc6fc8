package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact substring-span deduplication: remove every token span of length
  * >= `spanTokens` whose content occurs more than once in the corpus
  * (the ExactSubstr operation of Lee et al., "Deduplicating Training Data
  * Makes Language Models Better", ACL 2022 — re-expressed as a Spark
  * dataflow instead of a suffix array).
  *
  * Semantics (deterministic, cross-engine reproducible):
  *   1. tokenize `lower(trim(text))` on whitespace (the same normalization
  *      convention as [[Dedup.ngramJaccardPairs]]);
  *   2. every length-`spanTokens` token window whose joined text occurs at
  *      more than one (doc, position) in the corpus — in another document
  *      OR repeated within the same document — is a duplicated window;
  *   3. the union of duplicated windows' token indices, merged into maximal
  *      contiguous spans, is cut from the document; remaining tokens are
  *      re-joined with single spaces.
  * All occurrences are removed (no privileged "first" copy): the symmetric
  * rule is order-independent, so the result is identical under any row
  * ordering or partitioning — a property a keep-first variant cannot have
  * without a global tie-break pass.
  *
  * Scale shape (the suffix-array of the paper is a single-machine
  * construction; this is the shuffle-native equivalent):
  *   - windows are emitted as a narrow codegen'd projection (sequence +
  *     transform + posexplode), carrying a 128-bit window fingerprint
  *     (two independently-seeded xxhash64s) instead of the window text —
  *     shuffle bytes per window are constant, not O(spanTokens);
  *     collision odds for 10^12 windows are ~10^-14 (birthday, 2^128),
  *     and a collision only over-marks one window as duplicated;
  *   - ONE shuffle groups windows by fingerprint with map-side partial
  *     counts (a boilerplate gram occurring 10^9 times costs one reduce
  *     row, not a hot partition);
  *   - duplicated positions come back via a LEFT SEMI join on the same
  *     key the count shuffle just partitioned by — Catalyst reuses the
  *     exchange, AQE handles residual skew;
  *   - span merging and text reconstruction are per-document higher-order
  *     functions (aggregate/filter/exists) over arrays bounded by document
  *     length — no UDF, no extra shuffle beyond the doc-id rollup.
  *
  * Output: `(doc_id, n_tokens, n_spans, tokens_removed, clean_text)` —
  * one row per non-null-text input document, untouched documents included
  * with `n_spans = 0` and `clean_text` = normalized text.
  *
  * Doc ids must be NON-NULL: a null id has no identity to cut against (the
  * span join is keyed on it), so null-id rows are dropped up front — loud
  * contract rather than the silent pass-through-uncut they previously got.
  */
object SpanDedup {

  def removeDuplicatedSpans[T](df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int)(use: DataFrame => T): T = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    val L = spanTokens

    val toks = df
      .filter(col(s"`$textCol`").isNotNull && col(s"`$idCol`").isNotNull)
      .select(
        col(s"`$idCol`").as("doc_id"),
        split(lower(trim(col(s"`$textCol`"))), "\\s+").as("t"))

    // (doc_id, pos, 128-bit window fingerprint); docs shorter than L emit
    // no windows. sequence(0, size-L) is ascending only when size >= L —
    // the guard is load-bearing (sequence descends for inverted bounds).
    // Built once: the dup-key counts and the semi-join probe would each
    // recompute the per-window slice/concat + double-hash projection — the
    // dominant CPU of the operator — because the probe side's exchange (raw
    // wins rows) differs from the aggregate side's (partial-agg rows) and
    // ReuseExchange never fires. Released when `use`, which runs every
    // action over the lazy result, returns.
    Fixpoint.materialized(toks
      .select(col("doc_id"),
        posexplode(
          when(size(col("t")) >= L,
            expr(s"transform(sequence(0, size(t) - $L), i -> concat_ws(' ', slice(t, i + 1, $L)))"))
            .otherwise(array().cast("array<string>")))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        xxhash64(col("gram")).as("k1"), xxhash64(lit(1), col("gram")).as("k2"))) { wins =>
      val dupKeys = wins.groupBy("k1", "k2").count().filter(col("count") > 1)
        .select("k1", "k2")

      val dupPos = wins.join(dupKeys, Seq("k1", "k2"), "left_semi")
        .select("doc_id", "pos")

      // Per doc: sorted duplicated window starts -> merged [s, e] token spans.
      // Windows [p, p+L-1]; a new window merges into the open span when it
      // starts at or before end+1 (overlap or adjacency).
      val spansDf = dupPos.groupBy("doc_id")
        .agg(sort_array(collect_list(col("pos"))).as("ps"))
        .select(col("doc_id"),
          expr(
            s"""aggregate(ps, cast(array() as array<struct<s:int,e:int>>),
               |  (acc, p) -> CASE
               |    WHEN size(acc) > 0 AND p <= element_at(acc, -1).e + 1
               |      THEN concat(slice(acc, 1, size(acc) - 1),
               |                  array(named_struct('s', element_at(acc, -1).s, 'e', p + ${L - 1})))
               |    ELSE concat(acc, array(named_struct('s', p, 'e', p + ${L - 1})))
               |  END)""".stripMargin).as("spans"))

      use(toks.join(spansDf, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          size(col("t")).cast("long").as("n_tokens"),
          coalesce(size(col("spans")), lit(0)).cast("long").as("n_spans"),
          coalesce(
            expr("aggregate(spans, 0, (acc, sp) -> acc + sp.e - sp.s + 1)"), lit(0))
            .cast("long").as("tokens_removed"),
          when(col("spans").isNull, concat_ws(" ", col("t")))
            .otherwise(concat_ws(" ",
              expr("filter(t, (tok, i) -> NOT exists(spans, sp -> i >= sp.s AND i <= sp.e))")))
            .as("clean_text")))
    }
  }
}

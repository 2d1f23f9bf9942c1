package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-substring dedup over SLIDING n-gram windows — the Lee et al.
  * 2021 ("Deduplicating Training Data Makes Language Models Better",
  * ExactSubstr) pass of a training-data pipeline. Where
  * [[Dedup.subdocDedup]] hashes DISJOINT fixed chunks (boilerplate
  * lines), this marks EVERY token position whose n-token window recurs
  * anywhere in the corpus, keeps the globally-first occurrence, and
  * merges the remaining (overlapping) duplicated windows into maximal
  * per-document spans — the unit a pipeline actually cuts.
  *
  * Semantics (deterministic, engine-portable):
  *  - tokens = whitespace split of trimmed text; a document shorter
  *    than `n` tokens contributes no windows (and is never cut);
  *  - a window occurrence is DUPLICATED iff its n-token md5 appears
  *    more than once corpus-wide AND the occurrence is not the first
  *    by (id, position) — the keep-one-copy rule;
  *  - duplicated occurrences covering tokens [pos, pos+n) merge per
  *    document when they overlap or touch (gaps-and-islands), giving
  *    maximal spans.
  *
  * Scale shape (the reference implementation builds a corpus-wide
  * suffix array — a single-machine construction; this is the
  * shuffle-native equivalent at window granularity):
  *  - windows explode map-side to (id, pos, md5) — O(total tokens)
  *    rows, never text;
  *  - first-occurrence marking is one partial-aggregating `groupBy` on
  *    the gram hash plus an AQE-divisible join-back — hot boilerplate
  *    grams combine map-side instead of serializing into one task (see
  *    [[markedOccurrences]] for the full skew argument);
  *  - span merging is ONE id-partitioned window + one id-keyed rollup —
  *    both linear, both co-partitioned after a single exchange.
  */
object NgramSpans {

  /** Per-document duplication stats at window width `n`:
    * (id, n_tokens, n_grams, n_dup_grams, n_dup_spans, n_dup_tokens,
    * n_kept_tokens). Every non-null-text document appears; documents
    * with nothing duplicated report zeros. `n_dup_tokens` counts tokens
    * under merged spans (not the sum of window widths), so
    * `n_kept_tokens = n_tokens - n_dup_tokens` is the document's
    * post-cut token count.
    */
  def stats(df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    // ONE pass over the marked-occurrence pipeline: `n_grams` is closed
    // form (a doc with n_tokens >= n has exactly n_tokens - n + 1
    // windows; fewer has none) and `n_dup_grams` rides the span merge as
    // the per-island occurrence count — re-deriving gram stats from a
    // second traversal of the unpersisted explode+join lineage doubled
    // the operator's cost for nothing
    val toks = tokenized(df, idCol, textCol)
    val spanStats = spansWithCounts(markedOccurrences(toks, idCol, n), idCol, n)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("__c")).cast("long").as("n_dup_grams"),
        sum(col("__e") - col("__s")).cast("long").as("n_dup_tokens"))
    toks.select(col(idCol), col("n_tokens"),
        when(col("n_tokens") >= n, col("n_tokens") - lit(n - 1))
          .otherwise(lit(0L)).cast("long").as("n_grams"))
      .join(spanStats, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        (col("n_tokens") - coalesce(col("n_dup_tokens"), lit(0L))).as("n_kept_tokens"))
  }

  /** The TRANSFORM sibling: each document with its duplicated spans CUT
    * (kept tokens re-joined in original order) — (id, clean_text,
    * n_kept_tokens). A document whose every token sits under a
    * duplicated span disappears (the [[Dedup.subdocDedupClean]]
    * contract); first occurrences keep their text, so at least one copy
    * of every span survives corpus-wide.
    *
    * Scale shape: the span list re-joins token positions per id (equi
    * key + range predicate, span rows ≪ token rows) and the rebuild is
    * one id-keyed rollup whose payload is the document itself — the
    * floor for any corpus rewrite.
    */
  def clean(df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    // pinned: the span derivation and the cut both start from the token
    // frame — unpinned, the text scan and whitespace split run twice
    val toks = graft.CacheScope.pin(tokenized(df, idCol, textCol))
    cutSpans(toks, spans(markedOccurrences(toks, idCol, n), idCol, n), idCol)
  }

  /** Span-level (surgical) decontamination stats: instead of dropping a
    * train document that shares n-grams with an eval benchmark
    * ([[Dedup.contamination]]'s document-level gate), mark every train
    * window that appears ANYWHERE in `eval` (no keep-first — a match IS
    * contamination) and merge the marks into maximal spans. Returns
    * (id, n_tokens, n_grams, n_hit_grams, n_hit_spans, n_cut_tokens,
    * n_kept_tokens) for every non-null-text train document.
    *
    * Scale shape: the eval window-hash set is benchmark-sized and
    * BROADCASTS — train windows mark map-side (one explode, a broadcast
    * left-semi-shaped flag join, no train-side shuffle before the
    * id-keyed span merge). The train corpus never self-joins.
    */
  def decontamStats(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame = {
    // same single-pass shape as [[stats]]: closed-form n_grams, hit-gram
    // counts riding the island merge
    val toks = tokenized(train, idCol, textCol)
    val spanStats =
      spansWithCounts(evalMarked(toks, eval, idCol, textCol, n), idCol, n)
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_hit_spans"),
          sum(col("__c")).cast("long").as("n_hit_grams"),
          sum(col("__e") - col("__s")).cast("long").as("n_cut_tokens"))
    toks.select(col(idCol), col("n_tokens"),
        when(col("n_tokens") >= n, col("n_tokens") - lit(n - 1))
          .otherwise(lit(0L)).cast("long").as("n_grams"))
      .join(spanStats, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_grams"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        coalesce(col("n_hit_spans"), lit(0L)).as("n_hit_spans"),
        coalesce(col("n_cut_tokens"), lit(0L)).as("n_cut_tokens"),
        (col("n_tokens") - coalesce(col("n_cut_tokens"), lit(0L))).as("n_kept_tokens"))
  }

  /** The TRANSFORM sibling of [[decontamStats]]: train documents with
    * their eval-matching spans cut — (id, clean_text, n_kept_tokens);
    * fully-contaminated documents drop.
    */
  def decontamClean(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int = 8): DataFrame = {
    // same double-consumption pin as [[clean]]
    val toks = graft.CacheScope.pin(tokenized(train, idCol, textCol))
    cutSpans(toks, spans(evalMarked(toks, eval, idCol, textCol, n), idCol, n), idCol)
  }

  /** Occurrences of `toks` windows flagged against the eval window-hash
    * set (broadcast; distinct eval hashes only — positions don't matter
    * on the eval side).
    */
  private def evalMarked(toks: DataFrame, eval: DataFrame, idCol: String,
                         textCol: String, n: Int): DataFrame = {
    val evalGrams = tokenized(eval, idCol, textCol)
      .filter(col("n_tokens") >= n)
      .select(explode(windowHashes(n)).as("__gram")).distinct()
      .withColumn("__hit", lit(true))
    windowOccurrences(toks, idCol, n)
      .join(broadcast(evalGrams), Seq("__gram"), "left")
      .select(col(idCol), col("__pos"),
        coalesce(col("__hit"), lit(false)).as("__dup"))
  }

  /** Cut `sp` spans out of `toks` and re-join kept tokens in order.
    *
    * Kept deliberately as the token-level posexplode + range anti join +
    * collect_list rebuild: a measured attempt to replace it with a
    * per-document higher-order-function cut (spans collected per id,
    * tokens filtered in place) ran 5-15% SLOWER at sf0.1 — Spark's
    * higher-order functions are CodegenFallback, so the "cheaper" shape
    * broke whole-stage codegen on the corpus-sized projection, while
    * this plan (explode, broadcast-able anti join, hash aggregate) stays
    * fully codegen'd end to end.
    */
  private def cutSpans(toks: DataFrame, sp: DataFrame, idCol: String): DataFrame = {
    val spR = sp.withColumnRenamed(idCol, "__sid")
    val pos = toks.select(col(idCol),
      posexplode(col("__toks")).as(Seq("__pos", "__tok")))
    pos.join(spR,
        pos(idCol) === spR("__sid") &&
          col("__pos") >= col("__s") && col("__pos") < col("__e"),
        "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__tok")))),
            x => x.getField("__tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept_tokens"))
  }

  /** (id, n_tokens, __toks) for non-null texts — the split materialized
    * once (the [[TextOps.shingleSet]] HOF rule).
    */
  private def tokenized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))

  /** Array of the row's n-token window md5s (index = start position),
    * over the materialized `__toks` column. The native
    * [[graft.functions.TokenWindowMd5s]] kernel handles short rows itself
    * (empty array below `n` tokens), so no caller guard is needed — the
    * fold form it replaces ([[windowHashesFold]], kept as the parity
    * baseline) ran one interpreted md5+concat_ws+slice lambda per window
    * (higher-order functions are CodegenFallback) and needed the
    * `n_tokens >= n` guard against a DESCENDING `sequence`.
    */
  private def windowHashes(n: Int): Column =
    graft.functions.TextHashExprs.tokenWindowMd5s(col("__toks"), n)

  /** The lambda-fold construction [[windowHashes]] replaced — the parity
    * baseline (callers must guard `n_tokens >= n`: an unguarded negative
    * upper bound makes `sequence` DESCEND).
    */
  private[graft] def windowHashesFold(n: Int): Column =
    transform(sequence(lit(0), col("n_tokens").cast("int") - lit(n)),
      p => md5(concat_ws(" ", slice(col("__toks"), p + lit(1), lit(n)))))

  /** (id, __grams): each non-null-text row's window-hash array (empty for
    * docs shorter than `n`) — the MAP-SIDE form (pure per-row
    * expressions, no shuffle, no window functions), usable on STREAMING
    * frames; the streaming decontamination gate builds on it.
    */
  private[graft] def windowHashArray(df: DataFrame, idCol: String, textCol: String,
                                     n: Int): DataFrame = {
    require(n >= 2, "window width must be >= 2 tokens")
    tokenized(df, idCol, textCol)
      .select(col(idCol), windowHashes(n).as("__grams"))
  }

  /** Exploded window occurrences (id, __pos, __gram) for rows with at
    * least one window.
    */
  private def windowOccurrences(toks: DataFrame, idCol: String, n: Int): DataFrame = {
    require(n >= 2, "window width must be >= 2 tokens")
    toks.filter(col("n_tokens") >= n)
      .select(col(idCol),
        explode(sequence(lit(0), col("n_tokens").cast("int") - lit(n))).as("__pos"),
        col("__toks"))
      .select(col(idCol), col("__pos"),
        md5(concat_ws(" ", slice(col("__toks"), col("__pos") + lit(1), lit(n))))
          .as("__gram"))
  }

  /** Window occurrences (id, __pos, __dup): every n-token window start,
    * marked duplicated unless it is the (id, pos)-first holder of its
    * hash.
    *
    * Skew shape — this is deliberately NOT a window function. A
    * `row_number().over(partitionBy(__gram))` forces EVERY occurrence of
    * a gram into one task (window partitions are indivisible), so a hot
    * boilerplate n-gram — a license header occurring 10⁸ times on a web
    * corpus — becomes a single-task straggler. Instead:
    *  - the per-gram (count, first-occurrence) pair is a `groupBy(__gram)
    *    .agg(count, min(struct(id, pos)))` — hash-aggregates combine
    *    PARTIALLY map-side, so a hot gram reduces to one partial row per
    *    input partition before the exchange;
    *  - occurrences re-acquire their gram's (cnt, first) through an
    *    equi-join on the gram hash. Unlike a window partition, a skewed
    *    probe-side join partition is AQE-divisible
    *    (`OptimizeSkewedJoin` splits it by map-output ranges and
    *    replicates the one matching build row), so the hot gram fans
    *    back out across tasks.
    * `min(struct(id, pos))` is exactly the `row_number() = 1` holder
    * under `orderBy(id, pos)`: (id, pos) pairs are unique per gram, so
    * the struct min is unique and the keep-first rule is unchanged
    * bit-for-bit (NgramSpansSpec pins parity against the window form and
    * a planted hot-gram fixture).
    */
  private def markedOccurrences(toks: DataFrame, idCol: String, n: Int): DataFrame = {
    // pinned: both the per-gram aggregate and the probe side consume the
    // exploded window frame, and the two exchanges differ (partial-agg vs
    // join shuffle) so Spark cannot reuse one — unpinned, the explode and
    // an md5 per token position run TWICE (the lshStages shingle-array
    // precedent; MEMORY_AND_DISK, corpus-linear, released when the
    // caller's CacheScope closes)
    val occ = graft.CacheScope.pin(windowOccurrences(toks, idCol, n))
    // only grams that RECUR can mark an occurrence — dropping the
    // unique majority before the join shrinks the build side to the
    // duplicated vocabulary (AQE broadcasts it when small; at web scale
    // it stays a shuffle join, still skew-divisible)
    val dupGrams = occ.groupBy(col("__gram"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol), col("__pos"))).as("__first"))
      .filter(col("__cnt") > 1)
    occ.join(dupGrams, Seq("__gram"), "left")
      .select(col(idCol), col("__pos"),
        (col("__first").isNotNull &&
          struct(col(idCol), col("__pos")) =!= col("__first")).as("__dup"))
  }

  /** Maximal per-document spans (id, __s, __e) — duplicated occurrences
    * [pos, pos+n) merged when overlapping or touching, via running-max
    * gaps-and-islands on the id partition.
    */
  private def spans(occ: DataFrame, idCol: String, n: Int): DataFrame =
    spansWithCounts(occ, idCol, n).select(col(idCol), col("__s"), col("__e"))

  /** [[spans]] carrying each island's merged-occurrence count as `__c` —
    * the stats forms read their dup/hit gram totals off the span merge
    * itself instead of traversing the marked-occurrence lineage twice.
    */
  private def spansWithCounts(occ: DataFrame, idCol: String, n: Int): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    occ.filter(col("__dup"))
      .select(col(idCol), col("__pos"), (col("__pos") + lit(n)).as("__end"))
      .withColumn("__pmax",
        max(col("__end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__ni",
        when(col("__pmax").isNull || col("__pos") > col("__pmax"), 1).otherwise(0))
      .withColumn("__isl",
        sum(col("__ni")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).as("__s"), max(col("__end")).as("__e"),
        count(lit(1)).as("__c"))
      .select(col(idCol), col("__s"), col("__e"), col("__c"))
  }
}

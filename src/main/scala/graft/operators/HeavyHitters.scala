package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Heavy hitters (frequent elements).
  *
  * Reference analogs: `ref:P/sketches/FreqKSketch.java` (Misra-Gries
  * candidates, paper §4.4) and `ref:P/sketches/ExactFreqSketch.java`
  * (second exact pass over candidates). The UI then filters rows to/from
  * the heavy set — a semi/anti-join against its broadcast tuples.
  *
  * Two implementations, cross-checked in tests:
  *  - `exact`: groupBy(keys).count().filter(cnt >= threshold) — one shuffle
  *    of (key, partialCount) pairs only (map-side combine), fine even at
  *    100 TB when key cardinality is bounded;
  *  - `graft.functions.MisraGriesAgg`: the faithful shuffle-free sketch for
  *    unbounded-cardinality keys (candidates with lower-bound counts, no
  *    false negatives above N/k).
  */
object HeavyHitters {

  /** Exact heavy hitters over a key tuple: rows with count >= minCount,
    * heaviest first (total order: cnt desc, then keys asc).
    */
  def exact(df: DataFrame, keys: Seq[String], minCount: Long,
            limit: Int = 1000): DataFrame = {
    val sort = col("cnt").desc +: keys.map(k => col(k).asc_nulls_first)
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(sort.toIndexedSeq: _*)
      .limit(limit)
  }

  /** Relative-threshold variant: count >= eps * N, N computed inside the
    * plan (broadcast scalar via cross join — no driver collect).
    */
  def exactRelative(df: DataFrame, keys: Seq[String], eps: Double,
                    limit: Int = 1000): DataFrame = {
    val total = df.agg(count(lit(1)).as("total_n"))
    val sort = col("cnt").desc +: keys.map(k => col(k).asc_nulls_first)
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") >= col("total_n") * lit(eps))
      .drop("total_n")
      .orderBy(sort.toIndexedSeq: _*)
      .limit(limit)
  }

  /** Exact second pass over a candidate list (`ExactFreqSketch`):
    * semi-join-style probe, returns exact counts for candidates only.
    */
  def exactProbe(df: DataFrame, key: String, candidates: Seq[Any]): DataFrame =
    df.filter(col(key).isin(candidates: _*))
      .groupBy(col(key))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col(key).asc_nulls_first)

  /** Tuple-key exact probe — the reference probes multi-column row
    * candidates (`ExactFreqSketch` over a schema subset): candidates are
    * value tuples in `keys` order, matched via an in-set struct predicate
    * (codegen'd; no join, one shuffle of matching rows only). A candidate
    * with a NULL part cannot equi-match a struct literal (three-valued
    * logic would drop it), so null-bearing candidates probe through
    * per-field null-safe equality (`<=>`) instead — candidates are
    * sketch-sized (≤ k), so the OR chain stays tiny and codegen'd.
    */
  def exactProbeTuples(df: DataFrame, keys: Seq[String],
                       candidates: Seq[Seq[Any]]): DataFrame = {
    val grouped = df.groupBy(keys.map(col).toIndexedSeq: _*)
    if (candidates.isEmpty)
      return grouped.agg(count(lit(1)).as("cnt")).filter(lit(false))
    val (withNull, noNull) = candidates.partition(_.exists(_ == null))
    val keyStruct = struct(keys.map(col): _*)
    val preds =
      (if (noNull.nonEmpty)
        Seq(keyStruct.isin(noNull.map(t => struct(t.map(lit): _*)): _*))
      else Nil) ++
      withNull.map(t =>
        keys.zip(t).map { case (kc, v) => col(kc) <=> lit(v) }.reduce(_ && _))
    df.filter(preds.reduce(_ || _))
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("cnt"))
      .orderBy(keys.map(k => col(k).asc_nulls_first).toIndexedSeq: _*)
  }

  /** Filter the base table to (or away from) the heavy tuples — the UI's
    * "view heavy rows as table" (semi/anti join against candidates).
    */
  def filterToHeavy(df: DataFrame, keys: Seq[String], minCount: Long,
                    keep: Boolean = true): DataFrame = {
    val heavy = df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    filterToHeavy(df, keys, heavy, keep)
  }

  /** Filter the base table against an ALREADY-COMPUTED heavy set (e.g. the
    * exact-probe output of the two-phase flow) instead of recomputing the
    * groupBy — broadcast of ≤ |heavy| key tuples, no extra shuffle. The
    * join is NULL-SAFE per key part (`<=>`): a heavy tuple containing a
    * null must still select/reject its rows (plain equi-join three-valued
    * logic would silently drop them).
    */
  def filterToHeavy(df: DataFrame, keys: Seq[String], heavy: DataFrame,
                    keep: Boolean): DataFrame = {
    val aliased = heavy.select(
      keys.map(k => col(k).as(s"__hh_$k")).toIndexedSeq: _*)
    val cond = keys.map(k => col(k) <=> col(s"__hh_$k")).reduce(_ && _)
    df.join(broadcast(aliased), cond, if (keep) "left_semi" else "left_anti")
  }

  /** The composed two-phase heavy-hitter flow — the reference's signature
    * sketch interaction (paper §3.3/§4.4: `ref:P/sketches/FreqKSketch.java`
    * produces candidates, `ExactFreqSketch.java` re-counts them exactly,
    * then the UI filters the table to the heavy rows):
    *
    *   phase 1  Misra-Gries sketch over the key tuple — shuffle-free
    *            partial aggregation; its ≤ k candidate tuples stay in the
    *            plan as a broadcast subplan (no driver list);
    *   phase 2  exact count of ONLY the rows matching a candidate: a
    *            null-safe broadcast semi join, then one shuffle of
    *            (tuple, partialCount) pairs;
    *   phase 3  semi join of the base table against the candidates whose
    *            EXACT count clears `minCount` (broadcast of ≤ k tuples).
    *
    * Returns the heavy base-table rows as ONE lazy plan: building it runs
    * no job (so a memoized `ViewSession.sketch` hit starts none), and every
    * phase executes inside the caller's action. Guarantees: MG has no
    * false negatives above N/(k+1), and phase 2 replaces MG's lower-bound
    * counts with exact ones, so for minCount > N/(k+1) the result is
    * exactly the rows whose tuple frequency >= minCount; with
    * k > |distinct tuples| the chain is exact for ANY minCount. The sketch
    * key is the actual value STRUCT ([[graft.functions.MisraGriesSketch]]),
    * and both semi joins are null-safe — tuples with null parts or
    * arbitrary-content strings flow through every phase faithfully.
    */
  def twoPhase(df: DataFrame, keys: Seq[String], k: Int, minCount: Long): DataFrame = {
    val cands = df
      .agg(graft.functions.MisraGries.sketchStruct(keys.map(col), k).as("mg"))
      .select(explode(map_keys(col("mg"))).as("cand"))
      .select(col("cand.*"))
      .toDF(keys: _*)
    val exact = filterToHeavy(df, keys, cands, keep = true)
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("cnt"))
    filterToHeavy(df, keys, exact.filter(col("cnt") >= minCount), keep = true)
  }
}

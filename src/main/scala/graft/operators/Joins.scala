package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, last, lit, struct}

/** Joins — beyond the reference's surface (hiero never joins two tables;
  * its `zip` pairs views of one table — SURVEY.md §2.5), but required by
  * this engine's north star. All joins are declared logically; Catalyst
  * picks broadcast-hash vs shuffled-hash vs sort-merge, and AQE can
  * re-plan at runtime (skew join splitting included).
  *
  * Scale guidance encoded here: `dim` marks a dimension table for explicit
  * broadcast (no shuffle of the fact side); fact-fact joins shuffle on the
  * join key and should share partitioning across stages when chained.
  */
object Joins {

  def equi(left: DataFrame, right: DataFrame, keys: Seq[String],
           how: String = "inner"): DataFrame =
    left.join(right, keys, how)

  /** Fact ⋈ broadcast(dim): hash join with zero shuffle on the fact side. */
  def withDim(fact: DataFrame, dim: DataFrame, keys: Seq[String],
              how: String = "inner"): DataFrame =
    fact.join(broadcast(dim), keys, how)

  def semi(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_semi")

  def anti(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_anti")

  /** Theta join (arbitrary condition) — BroadcastNestedLoop when one side
    * is small; keep the small side right.
    */
  def theta(left: DataFrame, right: DataFrame, cond: Column,
            how: String = "inner"): DataFrame =
    left.join(right, cond, how)

  /** Range join: equi keys + interval containment condition. */
  def range(left: DataFrame, right: DataFrame, equiKeys: Seq[String],
            rangeCond: Column): DataFrame = {
    val eq = equiKeys.map(k => left(k) === right(k)).reduceOption(_ && _)
    left.join(right, eq.map(_ && rangeCond).getOrElse(rangeCond))
  }

  /** Point-in-interval join WITHOUT equi keys — the shape that otherwise
    * plans as a nested-loop/cartesian — made shuffle-joinable by GRID
    * BUCKETING (the standard interval-join technique in streaming/geo
    * engines): every interval explodes to the grid cells it overlaps,
    * every point maps to its one cell, the two sides meet in an ordinary
    * equi join on the cell, and the exact containment predicate filters
    * candidates. EXACT, with no dedup step needed: a matching (point,
    * interval) pair meets in exactly one cell — the point's own — because
    * floor-division is monotone, so `lo ≤ p ≤ hi` puts `cell(p)` inside
    * `[cell(lo), cell(hi)]`.
    *
    * Scale shape: shuffle volume is |points| + Σ(span/width + 1) interval
    * replicas — both linear for bounded spans — versus the nested-loop
    * |points|·|intervals| probe. Pick `bucketWidth` near the TYPICAL
    * interval span: much smaller multiplies interval replicas
    * (span/width per row), much larger inflates candidate fan-in per
    * cell (points join intervals they miss). Cells are computed with
    * pmod-based floor division, so negative domains bucket correctly.
    *
    * Contract: `pointCol`/`loCol`/`hiCol` are integral (cast dates to
    * epoch days, timestamps to epoch seconds); the two frames' column
    * names must be disjoint. Empty intervals (lo > hi) match nothing.
    * Parity with the nested-loop [[range]] and the no-cartesian plan
    * shape are pinned in IntervalJoinSpec.
    *
    * Poison-interval guard: one malformed interval (a sentinel hi of
    * Long.MaxValue at epoch-seconds width, a corrupt lo) would explode
    * toward Spark's 2³¹ `sequence` element cap and kill its task — a
    * single bad ROW taking down a 100 TB ingest job. Any interval
    * spanning more than `maxCellsPerInterval` grid cells therefore FAILS
    * LOUDLY (`raise_error` naming the span — the `MaxQueryBatch`
    * precedent: a loud guard, never a silent drop that changes the
    * answer). The default (2²⁰ cells) is
    * generous: a well-chosen `bucketWidth` puts typical spans near ONE
    * cell, so 10⁶ replicas per row is already a mis-sized grid, not a
    * workload.
    */
  def intervalBucketed(points: DataFrame, intervals: DataFrame,
                       pointCol: String, loCol: String, hiCol: String,
                       bucketWidth: Long,
                       maxCellsPerInterval: Long = 1L << 20): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(maxCellsPerInterval > 0,
      s"maxCellsPerInterval must be positive, got $maxCellsPerInterval")
    import org.apache.spark.sql.functions.{explode, format_string, lit, pmod, raise_error, sequence, when}
    // floor division via pmod (correct on negatives), with the exactly-
    // divisible quotient taken in DECIMAL so cells stay exact over the
    // full long range (double division would silently round past 2^53 —
    // epoch NANOS would hit that)
    def cell(c: Column): Column =
      ((c - pmod(c, lit(bucketWidth))).cast("decimal(38,0)") / lit(bucketWidth))
        .cast("long")
    val p = points.withColumn("__cell", cell(col(pointCol)))
    // guard BEFORE the explode: the cell span is checked per row and the
    // sequence() is only ever built from spans that passed
    val loCell = cell(col(loCol))
    val hiCell = cell(col(hiCol))
    // span in DECIMAL: a poison interval's hiCell - loCell overflows the
    // long (precisely the rows being guarded) — wrapped arithmetic could
    // sneak a negative span past the cap and resurrect the explode
    val nCells = hiCell.cast("decimal(38,0)") - loCell.cast("decimal(38,0)") + lit(1)
    val guardedHi = when(nCells > lit(maxCellsPerInterval),
      raise_error(format_string(
        s"intervalBucketed: interval [%s, %s] spans %s cells > " +
          s"maxCellsPerInterval=$maxCellsPerInterval at bucketWidth=$bucketWidth " +
          "— malformed interval, or widen bucketWidth/raise the cap",
        col(loCol), col(hiCol), nCells)).cast("long"))
      .otherwise(hiCell)
    val iv = intervals
      .filter(col(loCol) <= col(hiCol))
      .withColumn("__cell", explode(sequence(loCell, guardedHi)))
    p.join(iv, Seq("__cell"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("__cell")
  }

  /** Salted equi join for skewed fact keys: the fact side gets a
    * deterministic salt derived from a high-cardinality column, the
    * (small) right side is replicated across all `salts` buckets, and the
    * join key becomes (key, salt) — a single hot key now spreads over
    * `salts` reducers instead of one. Result is exactly the plain join.
    * AQE's skew-join splitting covers sort-merge joins adaptively; this
    * is the explicit form for when the skew is known up front (e.g. a
    * null-heavy or celebrity key at 100 TB).
    */
  def saltedEqui(fact: DataFrame, right: DataFrame, keys: Seq[String],
                 saltCol: String, salts: Int = 16,
                 how: String = "inner"): DataFrame = {
    // right/full outer would emit each unmatched right row once PER SALT
    // (the right side is replicated) — only fact-preserving joins are sound
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti", "cross").contains(how.toLowerCase),
      s"saltedEqui replicates the right side; '$how' would duplicate unmatched right rows")
    import org.apache.spark.sql.functions.{explode, lit, pmod, sequence, xxhash64}
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(col(saltCol)), lit(salts.toLong)).cast("int"))
    val replicatedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(replicatedRight, keys :+ "__salt", how).drop("__salt")
  }

  /** As-of join (left outer): for every left row, attach `payload` columns
    * from the latest right row with rightTs <= leftTs (inclusive) in the
    * same `keys` group; null when no prior right row exists.
    *
    * Implemented as union + running `last(_, ignoreNulls)` over a
    * (keys)-partitioned window ordered by (ts, side) — a single shuffle on
    * the keys, no join, no per-row probe, which is the plan that survives
    * a 100× scale-up (an equi-join + filter + re-rank shape would shuffle
    * the same data twice and materialize every candidate pair).
    *
    * The payload travels as ONE struct per right row, so the `ignoreNulls`
    * marker only distinguishes right rows from left rows — a right row
    * whose payload VALUES are null still wins (and all payload columns
    * always come from the same right row).
    *
    * Right rows should be unique per (keys, rightTs) — pre-aggregate ties
    * away — otherwise which of the tied rows wins is unspecified.
    *
    * NULL join keys never match (SQL ASOF equality semantics): null-keyed
    * right rows are dropped up front — without that, the window's
    * partition-by would group null keys together and null-keyed left rows
    * would adopt null-keyed right payloads.
    */
  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    val rightNonNull = right.filter(keys.map(col(_).isNotNull).reduce(_ && _))
    val leftCols = left.columns.toSeq
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(p => org.apache.spark.sql.types.StructField(p, right.schema(p).dataType)))
    val lAligned = left.select(
      Seq(col(leftTs).as("__ts"), lit(1).as("__side"),
        lit(null).cast(payloadType).as("__p")) ++
        keys.map(col) ++
        leftCols.filterNot(keys.contains).map(col): _*)
    val rAligned = rightNonNull.select(
      Seq(col(rightTs).as("__ts"), lit(0).as("__side"),
        struct(payload.map(col): _*).as("__p")) ++
        keys.map(col) ++
        leftCols.filterNot(keys.contains)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lAligned.unionByName(rAligned)
      .withColumn("__best", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        payload.map(p => col(s"__best.$p").as(s"asof_$p")): _*)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Determinism helpers for the DuckDB-oracle contract (SURVEY.md §7.5).
  *
  * Double SUMs are order-dependent; the contract used throughout this
  * engine is: quantize each row to DECIMAL(30,6) (HALF_UP — the one
  * rounding step), sum exactly, cast the exact total back to DOUBLE once.
  * The oracle mirrors the value with
  * `CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE)`. Derived moments
  * (avg, stddev, corr) are then plain IEEE arithmetic over identical
  * doubles on both sides.
  */
object Det {
  private val S = DecimalType(30, 6)

  /** Order-independent exact sum, returned as double — same VALUE as
    * `CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE)` but ~1.7× faster:
    * Spark's decimal sum pays a non-vectorized Decimal buffer with
    * per-row overflow checks, so rows whose quantized value fits a
    * scaled long (|x| < 9e12 — everything in a sane numeric column)
    * carry it as ×10⁶ (exact: `(x::DECIMAL(30,6) * 10⁶)::LONG`) split
    * into three 21-bit digits, each summed as a plain codegen'd LONG;
    * the RARE larger rows fall back to a direct decimal sum of their
    * own. Both partial sums are exact, recombined in decimal (the ×10⁻⁶
    * rescale too), so the single decimal→double conversion is
    * bit-identical to the pure decimal-sum path over any input the
    * decimal path accepts (NaN/±Inf quantize to null and are skipped,
    * exactly as before) — no silent range narrowing.
    *
    * Scale contract: each digit is < 2²¹, so a digit sum stays inside a
    * long for up to 2⁴² ≈ 4.4e12 rows per group — 10× past a 100 TB
    * lineitem — for ANY input routed to the fast path.
    */
  def dsum(c: Column): Column = {
    val q = c.cast(S) // the one rounding step
    // xs is null exactly when the row can't ride the fast path: null
    // input, NaN/±Inf (quantize to null), or scaled overflow past a long
    // (|x| ≳ 9.2e12 — the product DECIMAL(38,6) itself never overflows
    // for any DECIMAL(30,6) input, so the long try_cast is the only null
    // source; a plain cast would THROW on decimal overflow). The
    // overflow-null IS the router: no extra per-row comparison on the
    // hot path, and `when(xs.isNull, q)` routes exactly the dropped rows
    // to an exact decimal side-sum.
    val xs = (q * lit(1000000L)).try_cast("long")
    val m = lit((1L << 21) - 1)
    val d0 = xs.bitwiseAND(m)
    val d1 = shiftright(xs, 21).bitwiseAND(m)
    val d2 = shiftright(xs, 42) // arithmetic shift: carries the sign
    val fast = (sum(d2).cast(DecimalType(38, 0)) * lit(1L << 21) + sum(d1)) *
      lit(1L << 21) + sum(d0)
    val slow = sum(when(xs.isNull, q)) // exact decimal sum of the dropped tail
    when(fast.isNull && slow.isNull, lit(null).cast("double"))
      .otherwise((coalesce(fast, lit(0)).cast(DecimalType(38, 0)) * lit(BigDecimal("0.000001")) +
        coalesce(slow, lit(BigDecimal(0)).cast(S))).cast("double"))
  }

  /** Fan a narrow frame across the cluster when the source scan
    * under-parallelizes. A single-row-group parquet file scans as ONE
    * task, serializing the partial aggregation that is the entire cost of
    * a moment sketch; a round-robin repartition (pinned partition count —
    * user repartitions are exempt from AQE coalescing) restores parallel
    * partials for one cheap narrow shuffle. No-op when the scan already
    * fans out (a table at real scale is many files/row groups), and safe
    * everywhere it is used: exact decimal sums and counts are
    * order-independent, so results are bit-identical.
    *
    * Cost model: the shuffle is ~one narrow row write+read per input row,
    * so it pays only when per-row aggregation work is heavier than that —
    * from ~4 dsums up (measured at sf0.1: 14 dsums 4.4 s → 1.4 s, 5 dsums
    * 1.5 s → 1.1 s, but 2 dsums REGRESSED 0.85 s → 1.1 s; callers with
    * few aggregates should not spread).
    */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= p) df.repartition(p) else df
  }

  /** Windowed order-independent exact sum, returned as double. Stays on
    * the direct decimal sum: a running window re-aggregates per row, so
    * the digit-split recombination would triple the per-row state for no
    * buffer-reuse win.
    */
  def dsumOver(c: Column, w: WindowSpec): Column = sum(c.cast(S)).over(w).cast("double")

  /** Spark round(_, 6) semantics (BigDecimal HALF_UP; non-finite values
    * pass through — BigDecimal(NaN/Inf) throws) for driver-side kernels
    * that must stay bit-identical to the expression path and the
    * oracle's round().
    */
  def round6(x: Double): Double =
    if (java.lang.Double.isFinite(x))
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    else x

  /** Canonical timestamp rendering (matches DuckDB strftime '%Y-%m-%d %H:%M:%S'). */
  def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Canonical date rendering (matches DuckDB strftime '%Y-%m-%d'). */
  def fmtDate(c: Column): Column = date_format(c, "yyyy-MM-dd")
}

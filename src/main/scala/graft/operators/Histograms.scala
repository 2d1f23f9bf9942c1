package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Histogram family — the reference's signature sketches.
  *
  * Reference analogs: `ref:P/sketches/HistogramSketch.java` (+
  * `DoubleHistogramBuckets`, `StringHistogramBuckets`),
  * `HeatmapSketch.java` / `Histogram2DSketch.java`,
  * `Histogram3DSketch.java` (trellis), CDF per paper §4.1.
  *
  * Bucketing is explicit floor arithmetic (not `width_bucket`) so the
  * DuckDB oracle can reproduce it bit-for-bit:
  *   bucket = LEAST(CAST(FLOOR((x - lo)/step) AS INT), n-1),  step=(hi-lo)/n
  * over rows with lo <= x <= hi. Missing and out-of-range rows are counted
  * separately by `dataRange` (the reference tracks them as separate sketch
  * fields).
  *
  * Scale: each histogram is one partial/final aggregation over at most
  * n·m·k cells — no raw-row shuffle; identical to the reference's
  * long[]-merge tree.
  */
object Histograms {

  /** Equal-width bucket index for lo <= x <= hi (call after range filter). */
  def bucket(c: Column, lo: Double, hi: Double, n: Int): Column = {
    val step = (hi - lo) / n
    least(floor((c - lit(lo)) / lit(step)).cast("int"), lit(n - 1))
  }

  /** 1-D equal-width histogram: (bucket, cnt), bucket ascending. */
  def histogram1d(df: DataFrame, column: String, lo: Double, hi: Double, n: Int): DataFrame =
    df.filter(col(column).between(lo, hi))
      .groupBy(bucket(col(column), lo, hi, n).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("bucket"))

  /** String histogram: exact per-value counts (used for category axes;
    * `StringHistogramBuckets` handles the too-many-values case via prefix
    * boundaries — at Spark scale the groupBy+limit form covers both).
    */
  /** String histogram over boundary prefixes — the reference's
    * `StringHistogramBuckets` (`ref:P/sketches/StringHistogramBuckets.java`):
    * bucket i holds values in [boundaries(i), boundaries(i+1)), the last
    * bucket is unbounded above; values below boundaries(0) land in
    * bucket -1. A single codegen'd CASE chain — one pass, one tiny
    * groupBy.
    */
  def histogramStringRanges(df: DataFrame, column: String,
                            boundaries: Seq[String]): DataFrame = {
    require(boundaries.nonEmpty && boundaries == boundaries.sorted,
      "boundaries must be ascending — a later smaller boundary would shadow earlier buckets")
    val c = col(column)
    // ascending fold: the final expression tests the HIGHEST boundary
    // outermost, so each value lands in the last bucket it clears
    val bucketExpr = boundaries.indices.foldLeft(lit(-1)) { (rest, i) =>
      when(c >= boundaries(i), lit(i)).otherwise(rest)
    }
    df.filter(c.isNotNull)
      .groupBy(bucketExpr.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("bucket"))
  }

  /** Sampled 1-D histogram (paper §4.1 resolution-aware approximation):
    * seeded row sample, counts scaled back by 1/rate. Statistically
    * indistinguishable from exact at pixel resolution once rate ≥
    * pixelHeight²·buckets/N (Chernoff argument; bound-tested).
    */
  def histogram1dSampled(df: DataFrame, column: String, lo: Double, hi: Double,
                         n: Int, rate: Double, seed: Long = 42L): DataFrame =
    df.sample(rate, seed)
      .filter(col(column) >= lo && col(column) <= hi)
      .groupBy(bucket(col(column), lo, hi, n).as("bucket"))
      .agg((count(lit(1)) / rate).cast("long").as("cnt"))
      .orderBy(col("bucket"))

  def histogramString(df: DataFrame, column: String, limit: Int = 1000): DataFrame =
    df.groupBy(col(column).as("value"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("value").asc_nulls_first)
      .limit(limit)

  /** CDF at bucket resolution: histogram + running total (paper §4.1 —
    * same sketch, prefix-summed at the root).
    */
  def cdf(df: DataFrame, column: String, lo: Double, hi: Double, n: Int): DataFrame = {
    val h = histogram1d(df, column, lo, hi, n)
    h.withColumn("cum_cnt",
      sum(col("cnt")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("bucket"))
  }

  /** 2-D histogram (heatmap): (bx, by, cnt). */
  def heatmap(df: DataFrame,
              xCol: String, xLo: Double, xHi: Double, xN: Int,
              yCol: String, yLo: Double, yHi: Double, yN: Int): DataFrame =
    df.filter(col(xCol).between(xLo, xHi) && col(yCol).between(yLo, yHi))
      .groupBy(
        bucket(col(xCol), xLo, xHi, xN).as("bx"),
        bucket(col(yCol), yLo, yHi, yN).as("by"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("bx"), col("by"))

  /** Trellis: heatmap split by a categorical column (`Histogram3DSketch`). */
  def trellis(df: DataFrame, splitCol: String,
              xCol: String, xLo: Double, xHi: Double, xN: Int,
              yCol: String, yLo: Double, yHi: Double, yN: Int): DataFrame =
    df.filter(col(xCol).between(xLo, xHi) && col(yCol).between(yLo, yHi))
      .groupBy(
        col(splitCol).as("split_val"),
        bucket(col(xCol), xLo, xHi, xN).as("bx"),
        bucket(col(yCol), yLo, yHi, yN).as("by"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("split_val").asc_nulls_first, col("bx"), col("by"))

  /** Equi-DEPTH histogram: `k` quantile-binned buckets — each holds
    * ~n/k rows instead of an equal value span (the skew-robust sibling
    * of [[histogram1d]]: a heavy-tailed column renders k informative
    * bars where equal-width piles everything into one). Bucket
    * boundaries are the DISCRETE rank-⌈i·n/k⌉ order statistics
    * (`Quantiles.exactPerGroup` semantics), and a row's bucket is the
    * count of boundaries strictly below its value — deterministic under
    * ties (a tie-heavy value keeps all its rows in one bucket, so
    * depths are approximate exactly when the data forces it).
    * Returns (bucket, cnt, lo, hi) with observed per-bucket extremes;
    * value-empty buckets (boundary collisions under heavy ties) are
    * simply absent. Nulls are excluded (no rank); NaN sorts above every
    * finite value in BOTH the ranking and the bucketing comparison
    * (Spark comparison semantics), landing in the top bucket.
    *
    * Scale shape: thresholds come from the histogram-cut quantile path
    * (linear bin-count pass + boundary-bin window — never a global
    * sort), collected as k-1 doubles (the sketch); bucketing is a
    * map-side when-chain and the final rollup is k-row. `k` must keep
    * i/k exact in double for the oracle twin (powers of two are safe).
    */
  def equiDepth(df: DataFrame, column: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 4096, s"k must be in [2, 4096], got $k")
    val probs = (1 until k).map(_.toDouble / k)
    val thr: Array[Double] = Quantiles.exactPerGroup(
        df.select(lit(1).as("__g"), col(column)), "__g", column, probs)
      .select(col("q"), col("value"))
      .collect() // k-1 boundary rows — the sketch itself
      .sortBy(_.getDouble(0)).map(_.getDouble(1))
    val v = col(column).cast("double")
    val bucket = thr.foldLeft(lit(0)) { (acc, t) =>
      acc + when(v > lit(t), 1).otherwise(0)
    }
    df.filter(v.isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"), min(v).as("lo"), max(v).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Per-GROUP equi-depth histogram: [[equiDepth]] computed independently
    * inside every `groupCol` value — "k quantile bins of the score, per
    * source" in one pass, where k separate filtered calls would rescan
    * the corpus k·groups times. Same boundary semantics (discrete
    * rank-⌈i·n_g/k⌉ order statistics of the GROUP, bucket = boundaries
    * strictly below the value, ties stay whole, NaN tops, null values
    * excluded). Returns (groupCol, bucket, cnt, lo, hi).
    *
    * Scale shape (the qualityTiers plan): thresholds are
    * groups·(k-1) rows from one `Quantiles.exactPerGroup` histogram-cut
    * pass — sketch-sized, never collected — broadcast-joined back, so
    * bucketing is map-side and the rollup is groups·k rows. Contract
    * (shared with qualityTiers, pinned there): a null group key, or a
    * group whose values are ALL null, has no rank population — the inner
    * threshold join drops the group.
    */
  def equiDepthPerGroup(df: DataFrame, groupCol: String, column: String,
                        k: Int): DataFrame = {
    require(k >= 2 && k <= 4096, s"k must be in [2, 4096], got $k")
    val joined = Quantiles.withGroupThresholds(df, groupCol, column, k)
    val v = col(column).cast("double")
    val bucket = (0 until k - 1).foldLeft(lit(0)) { (acc, i) =>
      acc + when(v > col(s"__t$i"), 1).otherwise(0)
    }
    joined.filter(v.isNotNull)
      .groupBy(col(groupCol), bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"), min(v).as("lo"), max(v).as("hi"))
      .orderBy(col(groupCol), col("bucket"))
  }
}

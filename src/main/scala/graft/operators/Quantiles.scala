package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** Quantile sketches.
  *
  * Reference analog: `ref:P/sketches/SampleQuantileSketch.java` (paper
  * §4.2) — a uniform sample sorted at the root giving an equi-depth
  * quantile table; powers the scroll bar.
  *
  * We expose: exact interpolated percentiles (matches DuckDB
  * `quantile_cont` for the oracle), Spark's Greenwald-Khanna
  * `approx_percentile` (the sketch path — bounded memory, single pass,
  * mergeable like every sketch), and the scroll-position map
  * (`percent_rank`).
  */
object Quantiles {

  /** Exact interpolated percentiles (one row, one column per prob). */
  def exact(df: DataFrame, column: String, probs: Seq[Double]): DataFrame =
    exactNamed(df, column, probs, probs.map(p => s"p${(p * 100).round}"))

  /** Exact interpolated percentiles WITHOUT a global sort — the
    * histogram cut ([[rankCut]]) over one global group. Spark's
    * `percentile` aggregate buffers the entire column in one aggregation
    * buffer — at 100 TB that is an OOM, not a plan — and the
    * sort+zipWithIndex form this replaces range-shuffles the whole
    * column just to read back ≤ 2·|probs| order statistics. Instead:
    *  1. one agg pass for (count, finite min/max) to auto-fit a monotone
    *     bin grid of ~2¹⁶ cells across the observed range;
    *  2. the cut: one linear bin-count pass, the driver walk to each
    *     interpolation rank's boundary bin, and a window over ONLY the
    *     boundary-bin rows, which yield the order statistics.
    * Semantics are unchanged from the sort form and match
    * `percentile`/`quantile_cont`: nulls dropped, NaN ranks above every
    * value, interpolation `lower + (higher - lower) * frac` in IEEE
    * double (an integral position returns its order statistic, so ±∞
    * survives), one HALF_UP round to 6. A constant or all-NaN column
    * degenerates to a single bin whose window IS the old sort — still
    * exact. The value column is pinned across its three passes and
    * released before returning.
    */
  private def exactNamed(df: DataFrame, column: String, probs: Seq[Double],
                         names: Seq[String]): DataFrame = {
    require(probs.forall(p => p >= 0 && p <= 1), s"probs must be in [0, 1], got $probs")
    val spark = df.sparkSession
    val schema = StructType(names.map(n => StructField(n, DoubleType)))
    // filter ONLY nulls — na.drop would also drop NaN, which percentile
    // and quantile_cont keep (ranked last)
    val vals = df.select(col(column).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = vals.agg(
        count(lit(1)).as("n"),
        min(when(!isnan(col("v")), col("v"))).as("mn"),
        max(when(!isnan(col("v")), col("v"))).as("mx")).head()
      val n = stats.getLong(0)
      val out: Row =
        if (n == 0) Row(probs.map(_ => null): _*)
        else {
          // auto grid: ~2^16 bins across the finite range; exponent
          // clamped so 10^s stays a normal double (degenerate ranges
          // collapse to one bin — correct, just unaccelerated)
          val range =
            if (stats.isNullAt(1) || stats.isNullAt(2)) 0.0
            else stats.getDouble(2) - stats.getDouble(1)
          val s10 =
            if (range > 0 && !range.isInfinite)
              math.min(18.0, math.max(-18.0, math.floor(math.log10(65536.0 / range))))
            else 0.0
          val ranks = probs.map { p =>
            val pos = p * (n - 1)
            val lo = math.floor(pos).toLong
            (lo, math.ceil(pos).toLong, pos - lo)
          }
          // the 0-based ranks to fetch; target i of the cut is rank needed(i)
          val needed = ranks.flatMap(r => Seq(r._1, r._2)).distinct
          val binned = withBin(vals.withColumn("__g", lit(0)), col("v"), s10)
          // sketch-sized: one row per needed order statistic
          val picked: Map[Long, Double] =
            rankCut(binned, "__g", _ => needed.map(_ + 1), Seq(col("v").asc), "Quantiles.exact")
              .select(col("__t"), col("v"))
              .collect().map(r => needed(r.getInt(0)) -> r.getDouble(1)).toMap
          Row(ranks.map { case (lo, hi, frac) =>
            Det.round6(
              if (lo == hi) picked(lo) else picked(lo) + (picked(hi) - picked(lo)) * frac)
          }: _*)
        }
      spark.createDataFrame(java.util.Arrays.asList(out), schema)
    } finally vals.unpersist()
  }

  /** EXACT discrete quantiles PER GROUP without a per-group sort — the
    * histogram cut ([[rankCut]]): the naive
    * `row_number().over(partitionBy(group).orderBy(v))` sorts every
    * group's full value set through one task per group, which is
    * precisely what dies when a 100 TB table has 6 groups. The cut
    * counts (group, bin) cells on a coarse grid, walks each group's bins
    * to the one holding rank `max(1, ceil(q·n))` for every requested q,
    * and windows ONLY those boundary-bin rows. The discrete
    * rank-`ceil(q·n)` semantics are the engine-portable ones (no
    * interpolation — the value RETURNED exists in the data). Ties are
    * value-ties, so any value-consistent order yields the same order
    * statistic. Null VALUES are dropped; NaN ranks above every value
    * (Spark sort order) — mirror the oracle accordingly. A null GROUP is
    * a real group and gets its quantiles like any other. Returns
    * (group, q, value), one row per (group, requested q). The binned
    * rows are pinned in the caller's [[graft.CacheScope]]; the histogram
    * pass runs while the plan is built, the pick stays lazy.
    */
  def exactPerGroup(df: DataFrame, groupCol: String, valueCol: String,
                    probs: Seq[Double], binScale: Int = 2): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      s"probs must be in (0, 1], got $probs")
    val rows = df.select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val binned = graft.CacheScope.pin(withBin(rows, col("v"), binScale))
    rankCut(binned, "g", n => probs.map(p => math.max(1L, math.ceil(p * n).toLong)),
        Seq(col("v").asc), "exactPerGroup")
      .select(col("g").as(groupCol), typedlit(probs).getItem(col("__t")).as("q"),
        col("v").as("value"))
  }

  /** `df` inner-joined with one broadcast column `__t<i>` per group: the
    * group's [[exactPerGroup]] quantile at (i+1)/k, for i in 0 until k-1
    * — the per-group threshold table that equi-depth histograms and
    * quality tiers compare each row against map-side. A group with no
    * non-null value has no thresholds, so the inner joins drop it.
    */
  private[operators] def withGroupThresholds(df: DataFrame, groupCol: String,
                                             valueCol: String, k: Int): DataFrame = {
    val probs = (1 until k).map(_.toDouble / k)
    val th = exactPerGroup(df, groupCol, valueCol, probs)
    probs.indices.foldLeft(df) { (acc, i) =>
      val tk = th.filter(col("q") > (i + 0.5) / k && col("q") < (i + 1.5) / k)
        .select(col(groupCol), col("value").as(s"__t$i"))
      acc.join(broadcast(tk), Seq(groupCol))
    }
  }

  // ---- The histogram cut ---------------------------------------------------
  // Exact rank selection without a per-group sort: bin the values on a
  // monotone grid, count (group, bin) cells, walk the counts on the driver
  // to the bin holding each target rank, and window only those boundary
  // bins. Exact, not approximate: the bins are consecutive value ranges,
  // and the within-bin window orders by the exact value.

  /** Most (group, bin) rows a cut brings to the driver; a larger
    * histogram fails loudly rather than collecting unbounded. */
  private[operators] val MaxHistRows: Int = 1 << 20

  /** `df` plus `__bin`, the grid cell `floor(v·10^scale)` of `v` as a
    * long. `floor(v·10^s)` is monotone in v (IEEE multiply by a positive
    * constant is monotone), so bins are consecutive value ranges. NaN
    * bins at `Long.MaxValue`, above every finite bin, as Spark sorts it
    * (its floor would read as 0). A scaled value past the long range
    * (|v| ≥ ~9.2×10^18/10^scale, ±∞) saturates to `Long.MinValue` or
    * `Long.MaxValue`: bin order still follows value order, that range is
    * just not subdivided, and the exact-value window orders it (+∞ below
    * NaN inside the shared top bin).
    */
  private[operators] def withBin(df: DataFrame, v: Column, scale: Double): DataFrame =
    df.withColumn("__bin", when(isnan(v), lit(Long.MaxValue))
      .otherwise(floor(v * math.pow(10, scale)).cast("long")))

  /** Runs a per-(group, `__bin`) aggregate and brings its rows to the
    * driver, failing loudly past [[MaxHistRows]]. */
  private[operators] def collectHist(hist: DataFrame, what: String): Array[Row] =
    org.apache.spark.sql.graftshim.Internals.collectCapped(hist, MaxHistRows)(
      s"$what histogram exceeds $MaxHistRows (group, bin) rows — coarsen the " +
        "grid (lower binScale); the driver cut table must stay sketch-sized")

  /** The rank selector: for every value of column `group` of `binned`
    * (a [[withBin]] frame), the rows at the 1-based ranks `ranks(n)` of
    * the group's `order` (n = the group's row count; each rank in
    * 1..n), one row per (group, target), with `__t` the target's index
    * in `ranks(n)`. Runs the histogram pass now; the pick is a lazy
    * window partitioned by (group, target), so it stays
    * bin-sized whatever the group's size. `order` must refine the value
    * order the bins follow. Groups match null-safely (a null group is a
    * real group); a null value has no rank and fails loudly.
    */
  private[operators] def rankCut(binned: DataFrame, group: String, ranks: Long => Seq[Long],
                                 order: Seq[Column], what: String): DataFrame = {
    val hist = collectHist(
      binned.groupBy(col(group), col("__bin")).agg(count(lit(1)).as("c")), what)
    require(hist.forall(!_.isNullAt(1)),
      s"$what has null values, which have no rank — filter them first")
    val cuts = hist.groupBy(_.get(0)).toSeq.flatMap { case (g, rs) =>
      val bins = rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      // cum(j) = rows in the bins before bin j; counts are positive, so
      // the first j with cum(j) >= rank is one past the rank's bin
      val cum = bins.toIndexedSeq.scanLeft(0L)(_ + _._2)
      ranks(cum.last).zipWithIndex.map { case (rank, t) =>
        assert(rank >= 1 && rank <= cum.last,
          s"$what: rank $rank outside 1..${cum.last} in group $g")
        val j = cum.search(rank).insertionPoint
        Row(g, t, bins(j - 1)._1, rank - cum(j - 1))
      }
    }
    val cutSchema = StructType(Seq(
      binned.schema(group).copy(name = "__cg"),
      StructField("__t", IntegerType, nullable = false),
      StructField("__cbin", LongType, nullable = false),
      StructField("__rk", LongType, nullable = false)))
    val cut = binned.sparkSession.createDataFrame(java.util.Arrays.asList(cuts: _*), cutSchema)
    // a boundary bin's rows fan out once per target in it (≤ |ranks|)
    val w = Window.partitionBy(col(group), col("__t")).orderBy(order: _*)
    binned.join(broadcast(cut), col(group) <=> col("__cg") && col("__bin") === col("__cbin"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === col("__rk"))
      .drop("__cg", "__cbin", "__rk", "__rn")
  }

  /** Approximate percentiles — GK sketch, the single-pass bounded-memory
    * path (one shared sketch for all probs).
    */
  def approx(df: DataFrame, column: String, probs: Seq[Double],
             accuracy: Int = 10000): DataFrame =
    df.agg(approx_percentile(col(column), typedlit(probs), lit(accuracy)).as("q"))
      .select(probs.zipWithIndex.map { case (p, i) =>
        element_at(col("q"), i + 1).as(s"p${(p * 100).round}")
      }: _*)

  /** Equi-depth quantile table of size q over a sort column — the
    * reference's quantile "scroll bar" table (same histogram-cut
    * machinery as `exact`; names are positional q01..q(q-1), never
    * colliding regardless of q).
    */
  def table(df: DataFrame, column: String, q: Int): DataFrame = {
    val probs = (1 until q).map(i => i.toDouble / q)
    exactNamed(df, column, probs, probs.indices.map(i => f"q${i + 1}%02d"))
  }
}

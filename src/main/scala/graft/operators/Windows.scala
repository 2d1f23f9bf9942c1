package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking / analytic / time windows.
  *
  * Ranking+frames are beyond the reference surface (north star ⊇
  * reference); time windows cover the `events` capability row
  * (SURVEY.md §2.9). All are single-shuffle on the partition keys.
  */
object Windows {

  private def spec(partitionBy: Seq[String], orderBy: Seq[SortKey]) = {
    val w = if (partitionBy.isEmpty) Window.partitionBy()
            else Window.partitionBy(partitionBy.map(col).toIndexedSeq: _*)
    w.orderBy(orderBy.map(_.toCol).toIndexedSeq: _*)
  }

  /** Top-n per group via row_number (orderBy must be a total order inside
    * each partition for determinism).
    */
  def topNPerGroup(df: DataFrame, partitionBy: Seq[String],
                   orderBy: Seq[SortKey], n: Int,
                   rankCol: String = "rn"): DataFrame =
    df.withColumn(rankCol, row_number().over(spec(partitionBy, orderBy)))
      .filter(col(rankCol) <= n)

  def withLag(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[SortKey],
              valueCol: String, offset: Int = 1,
              outCol: String = "lag_val"): DataFrame =
    df.withColumn(outCol, lag(col(valueCol), offset).over(spec(partitionBy, orderBy)))

  /** Running total with a rows frame (exact decimal sum → double for
    * oracle determinism).
    */
  def runningSum(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[SortKey],
                 valueCol: String, outCol: String = "running_sum"): DataFrame = {
    val w = spec(partitionBy, orderBy)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol, Det.dsumOver(col(valueCol), w))
  }

  /** n-tile bucketing per partition: rows split into `n` contiguous tiles
    * of sizes differing by at most one (earlier tiles larger) in the
    * window order — the quantile-cohort primitive. Deterministic when
    * `orderBy` is a total order; the assignment rule is the standard one
    * both engines implement identically.
    */
  def withNtile(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[SortKey],
                n: Int, outCol: String = "tile"): DataFrame = {
    require(n > 0, s"ntile n must be > 0, got $n")
    df.withColumn(outCol, ntile(n).over(spec(partitionBy, orderBy)))
  }

  /** [[withNtile]] with a SCALE-SAFE plan — no per-key window sort. A
    * window `ntile(k) OVER (PARTITION BY g ORDER BY v, tie)` puts each
    * group's ENTIRE row set through one task's sort, so a low-cardinality
    * group key (the common quantile-cohort shape: ~5 priorities, a few
    * sources) caps parallelism at the key count and each partition
    * becomes a multi-GB single-task straggler at 100×. Instead, the
    * histogram cut ([[Quantiles.rankCut]], shared with
    * [[Quantiles.exactPerGroup]]):
    *  1. the cut finds, per group, the rows at the k-1 tile-boundary
    *     RANKS of ntile's standard size rule (n = q·k + m ⇒ tile i ends
    *     at rank i·q + min(i, m): the first m tiles hold q+1 rows, the
    *     rest q) — a linear (group, bin) count pass, a driver walk, and a
    *     window over ONLY the boundary-bin rows, ordered by (value, tie);
    *  2. those boundary (value, tie) composites come to the driver
    *     (groups·(k-1) rows — the sketch itself, like
    *     [[Histograms.equiDepth]]'s threshold collect), are broadcast
    *     back as one row per group, and every row takes
    *     `tile = 1 + #{boundaries strictly below its (value, tie)}`
    *     map-side.
    * The assignment is EXACTLY window ntile's: (value, tie) is a total
    * order, so "composite strictly below rank-r's composite" ⇔ "rank
    * < r", and when a group has fewer rows than tiles the repeated
    * boundary ranks collapse tiles just as ntile does (parity
    * property-tested in RandomizedParitySpec; the plan shape, no Window
    * in the served plan, in PlanGuardSpec). Three linear passes replace
    * the per-key sort; ~5-key 100 TB inputs ntile at full cluster width.
    *
    * Contract: `valueCol` numeric and non-null (a null fails loudly:
    * ntile over nulls is engine-divergent, Spark NULLS FIRST vs ANSI
    * options — filter first); `tieCol` integral and unique within its
    * group (the same total-order determinism contract the SQL form
    * needs); groups·bins must fit [[Quantiles.MaxHistRows]] (the
    * per-group-quantile sketch contract). NaN values rank above every
    * finite value (Spark sort order), matching the window form.
    * `groupCols` takes any non-empty column list — the columns key an
    * internal struct, so a (source, language)-style two-key cohort
    * needs no pre-concat (the [[withNtile]] signature parity).
    *
    * Precision bound: binning, boundary extraction and the final
    * comparison all run on `valueCol` CAST TO DOUBLE, while the window
    * form orders on the native type — integral values beyond 2^53 or
    * decimals beyond ~15 significant digits collapse under the cast,
    * and rows whose values are distinct only past double precision tile
    * by the `tieCol` order instead of the native value order. Exact
    * window parity therefore holds for double-representable values
    * (the tie key still makes the assignment deterministic outside that
    * range). Bins saturate past the long range ([[Quantiles.withBin]]);
    * the assignment stays exact there, the grid just stops
    * sub-dividing.
    */
  def ntileMapSide(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   tieCol: String, k: Int, outCol: String = "tile",
                   binScale: Int = 2): DataFrame = {
    require(k > 0, s"ntile k must be > 0, got $k")
    require(groupCols.nonEmpty,
      "ntileMapSide needs at least one group column (use a constant for a global cohort)")
    // __gk / __bin are this plan's internal working columns: a caller
    // frame already carrying either would be silently overwritten and
    // then dropped — corrupt the input loudly instead
    Seq("__gk", "__bin").foreach(c => require(!df.columns.contains(c),
      s"ntileMapSide reserves internal column '$c' — rename it on the input"))
    if (k == 1) return df.withColumn(outCol, lit(1))
    val spark = df.sparkSession
    val v = col(valueCol).cast("double")
    val tie = col(tieCol).cast("long")
    // the group key is one struct of the grouping columns: the cut,
    // driver maps, and the broadcast join key on the struct value
    // (Row equality driver-side, null-safe struct compare plan-side),
    // so multi-column cohorts cost nothing extra
    val binned = Quantiles.withBin(df.withColumn("__gk", struct(groupCols.map(col): _*)),
        v, binScale)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val boundaries = Quantiles.rankCut(binned, "__gk",
          n => (1 until k).map(i => math.max(1L, i * (n / k) + math.min(i.toLong, n % k))),
          Seq(v.asc, tie.asc), s"ntileMapSide: '$valueCol'")
        .select(col("__gk"), col("__t"), v, tie)
        .collect()
      // one broadcast row per group: (g, bv_0, bt_0, …, bv_{k-2}, bt_{k-2})
      val perGroup = boundaries.groupBy(_.get(0)).map { case (g, rs) =>
        val byI = rs.map(r => r.getInt(1) -> (r.getDouble(2), r.getLong(3))).toMap
        // Seq[Any] explicitly: Seq(aDouble, aLong) would infer Seq[Double]
        // by weak conformance and silently WIDEN the tie key to Double —
        // the schema below says LongType, so the local scan would throw
        org.apache.spark.sql.Row.fromSeq(
          g +: (0 until k - 1).flatMap(i => Seq[Any](byI(i)._1, byI(i)._2)))
      }.toSeq
      val thSchema = org.apache.spark.sql.types.StructType(
        binned.schema("__gk").copy(name = "__tg") +: (0 until k - 1).flatMap(i => Seq(
          org.apache.spark.sql.types.StructField(s"__bv$i",
            org.apache.spark.sql.types.DoubleType, nullable = false),
          org.apache.spark.sql.types.StructField(s"__bt$i",
            org.apache.spark.sql.types.LongType, nullable = false))))
      val thDf = spark.createDataFrame(java.util.Arrays.asList(perGroup: _*), thSchema)
      val tile = (0 until k - 1).foldLeft(lit(1)) { (acc, i) =>
        acc + when(v > col(s"__bv$i") ||
          (v === col(s"__bv$i") && tie > col(s"__bt$i")), 1).otherwise(0)
      }
      binned.join(broadcast(thDf), col("__gk") <=> col("__tg"))
        .withColumn(outCol, tile)
        .drop("__gk", "__bin", "__tg")
        .drop((0 until k - 1).flatMap(i => Seq(s"__bv$i", s"__bt$i")): _*)
    } finally binned.unpersist()
  }

  /** Moving (sliding rows-frame) total of the `lookback` preceding rows
    * plus the current one — the fixed-depth trailing aggregate. Exact
    * decimal sum → double (Det.dsumOver), so the oracle replays it.
    */
  def movingSum(df: DataFrame, partitionBy: Seq[String], orderBy: Seq[SortKey],
                valueCol: String, lookback: Int,
                outCol: String = "moving_sum"): DataFrame = {
    require(lookback >= 0, s"lookback must be >= 0, got $lookback")
    val w = spec(partitionBy, orderBy).rowsBetween(-lookback, Window.currentRow)
    df.withColumn(outCol, Det.dsumOver(col(valueCol), w))
  }

  /** Per-partition first and last value in the window order, as running
    * frames: first over (unbounded preceding → current), last over
    * (current → unbounded following) — deterministic under a total
    * order, unlike the default-frame `last_value` trap (whose frame ends
    * at the current row and so returns the current value).
    */
  def withFirstLast(df: DataFrame, partitionBy: Seq[String],
                    orderBy: Seq[SortKey], valueCol: String,
                    firstCol: String = "first_val",
                    lastCol: String = "last_val"): DataFrame = {
    val s = spec(partitionBy, orderBy)
    df.withColumn(firstCol, first(col(valueCol)).over(
        s.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn(lastCol, last(col(valueCol)).over(
        s.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
  }

  /** Relative-position analytics per partition: percent_rank
    * ((rank-1)/(n-1) — the reference UI's scroll-position mapping) and
    * cume_dist (rank_with_ties/n). Both are single divisions of small
    * integers — correctly rounded, hence bit-identical cross-engine
    * without any explicit rounding.
    */
  def withPercentiles(df: DataFrame, partitionBy: Seq[String],
                      orderBy: Seq[SortKey],
                      prCol: String = "pr", cdCol: String = "cd"): DataFrame = {
    val s = spec(partitionBy, orderBy)
    df.withColumn(prCol, percent_rank().over(s))
      .withColumn(cdCol, cume_dist().over(s))
  }

  /** VALUE-range frame aggregate: count of partition rows whose single
    * numeric order key lies within [key - below, key + above] of the
    * current row's — the "neighbors within a band" primitive (RANGE,
    * not ROWS: the frame is defined by values, so ties all see the same
    * frame and no tiebreaker is needed for determinism).
    */
  def rangeCount(df: DataFrame, partitionBy: Seq[String], orderKey: String,
                 below: Long, above: Long,
                 outCol: String = "n_in_range"): DataFrame = {
    val base = if (partitionBy.isEmpty) Window.partitionBy()
               else Window.partitionBy(partitionBy.map(col).toIndexedSeq: _*)
    val w = base.orderBy(col(orderKey)).rangeBetween(-below, above)
    df.withColumn(outCol, count(lit(1)).over(w))
  }
}

/** Event-time windows over a timestamp column (batch form; the streaming
  * form reuses the same expressions under readStream + watermark —
  * `graft.streaming.StreamWindows`, asserted stream ≡ batch by
  * StreamingSpec).
  */
object TimeWindows {

  /** Tumbling window aggregation; emits window_start as formatted string
    * (oracle: date_trunc equivalent).
    */
  def tumbling(df: DataFrame, tsCol: String, duration: String,
               keys: Seq[String], aggs: Seq[Column]): DataFrame = {
    val g = df.groupBy((window(col(tsCol), duration).as("w") +: keys.map(col)).toIndexedSeq: _*)
      .agg(aggs.head, aggs.tail: _*)
    g.withColumn("window_start", Det.fmtTs(col("w.start"))).drop("w")
  }

  /** Sliding window aggregation (slide < duration → overlapping windows). */
  def sliding(df: DataFrame, tsCol: String, duration: String, slide: String,
              keys: Seq[String], aggs: Seq[Column]): DataFrame = {
    val g = df.groupBy((window(col(tsCol), duration, slide).as("w") +: keys.map(col)).toIndexedSeq: _*)
      .agg(aggs.head, aggs.tail: _*)
    g.withColumn("window_start", Det.fmtTs(col("w.start"))).drop("w")
  }

  /** Session windows with a fixed inactivity gap. */
  def session(df: DataFrame, tsCol: String, gap: String,
              keys: Seq[String], aggs: Seq[Column]): DataFrame = {
    val g = df.groupBy((session_window(col(tsCol), gap).as("w") +: keys.map(col)).toIndexedSeq: _*)
      .agg(aggs.head, aggs.tail: _*)
    g.withColumn("session_start", Det.fmtTs(col("w.start"))).drop("w")
  }

  /** Gap-filled (resampled) tumbling counts: every `width` bucket between
    * the data's first and last window gets a row, with `cnt` 0 where no
    * events fell — the time-series shape dashboards and anomaly baselines
    * need (a sparse series silently SKIPS quiet windows, which reads as
    * "no data" instead of "zero events", and shifts window-count moments).
    *
    * Scale shape: the counts aggregation is the only pass over the data;
    * the dense grid is CALENDAR-sized (span/width rows — one `sequence`
    * explode over a single min/max aggregate row, broadcast into the
    * left join), so filling costs nothing at any corpus size. Empty
    * input yields an empty frame (no bounds to span).
    */
  def resampleCounts(df: DataFrame, tsCol: String,
                     width: String = "1 hour"): DataFrame = {
    val counts = df
      .groupBy(window(col(tsCol), width).as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("__ws"), col("cnt"))
    val grid = counts
      .agg(min(col("__ws")).as("lo"), max(col("__ws")).as("hi"))
      .filter(col("lo").isNotNull)
      .select(explode(sequence(col("lo"), col("hi"),
        expr(s"INTERVAL $width"))).as("__ws"))
    grid.join(counts, Seq("__ws"), "left")
      .select(Det.fmtTs(col("__ws")).as("window_start"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }
}

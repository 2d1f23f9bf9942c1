package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.DataSketchAggs

/** Mergeable sketch TABLES — the reference's core architectural idea
  * (every aggregation is a mergeable sketch; paper §3) surfaced as a
  * first-class artifact: build a per-fine-group sketch table ONCE, then
  * answer every coarser rollup by MERGING sketches instead of re-scanning
  * the base data. At 100 TB this is the difference between one corpus
  * scan per dashboard tile and one scan total: the sketch table is
  * groups-sized, its rollups are sketch-algebra only, and the binaries
  * persist like any other column (build table = batch job, serve rollups
  * = sketch-table scans).
  *
  * The HLL, theta and KLL families use Spark's native Apache
  * DataSketches functions (`hll_*`, `theta_*`, `kll_*_double`) — binary
  * sketch columns in the library's portable wire formats. HLL and theta
  * are deterministic for a given input set (the sketch hash is
  * seed-fixed). Count-Min runs on [[graft.functions.CmsSketchAgg]]:
  * Spark has no Count-Min merge aggregate.
  */
object SketchTables {

  /** Build the fine-grained HLL sketch table: one row per group, one
    * binary sketch of `valueCol`'s distinct set. `lgK` trades size for
    * accuracy (2^lgK registers; default matches Spark's).
    */
  def hllTable(df: DataFrame, groupCols: Seq[String], valueCol: String,
               lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lgK).as("hll"))

  /** Roll a sketch table up to coarser groups by sketch UNION — the
    * base data is never touched. `groupCols` must be derivable from the
    * table's columns (e.g. week from day).
    */
  def hllRollup(table: DataFrame, groupCols: Seq[String]): DataFrame =
    table.groupBy(groupCols.map(col): _*)
      .agg(hll_union_agg(col("hll")).as("hll"))

  /** Materialize estimates: replace the sketch column with
    * `n_distinct` (the HLL estimate, rounded to a long).
    */
  def hllEstimate(table: DataFrame): DataFrame =
    table.withColumn("n_distinct", hll_sketch_estimate(col("hll")).cast("long"))
      .drop("hll")

  // ---- Theta sketch tables: distinct-set ALGEBRA -------------------------
  // HLL answers union-rollups only; theta sketches also intersect and
  // difference — "distinct users who did A AND B" (audience overlap) is
  // not derivable from two HLL counts. Sketches below their
  // nominal-entries bound are in EXACT mode, so
  // small-cohort set ops are exact and large ones degrade gracefully to
  // the documented ~1/sqrt(2^lgK) relative error.

  /** Build the per-group theta sketch table over a LONG value column. */
  def thetaTable(df: DataFrame, groupCols: Seq[String], valueCol: String,
                 lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(theta_sketch_agg(col(valueCol).cast("long"), lgK).as("theta"))

  /** Roll a theta table up to coarser groups by sketch union. */
  def thetaRollup(table: DataFrame, groupCols: Seq[String]): DataFrame =
    table.groupBy(groupCols.map(col): _*)
      .agg(theta_union_agg(col("theta")).as("theta"))

  /** Materialize estimates: sketch column → `n_distinct`. */
  def thetaEstimate(table: DataFrame): DataFrame =
    table.withColumn("n_distinct", theta_sketch_estimate(col("theta"))).drop("theta")

  /** Pairwise overlap matrix from a theta table: for every unordered key
    * pair (a < b), the per-key distinct counts plus |A∩B| and |A∪B|
    * estimates. The cross join is over the SKETCH TABLE (groups-sized by
    * contract — a handful of audience rows, never base data).
    */
  def thetaOverlap(table: DataFrame, keyCol: String): DataFrame = {
    val a = table.select(col(keyCol).as("key_a"), col("theta").as("__ta"))
    val b = table.select(col(keyCol).as("key_b"), col("theta").as("__tb"))
    a.join(b, col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"),
        theta_sketch_estimate(col("__ta")).as("n_a"),
        theta_sketch_estimate(col("__tb")).as("n_b"),
        theta_sketch_estimate(theta_intersection(col("__ta"), col("__tb"))).as("n_intersect"),
        theta_sketch_estimate(theta_union(col("__ta"), col("__tb"))).as("n_union"))
  }

  /** Directed set DIFFERENCE matrix from a theta table: for every ordered
    * key pair (a ≠ b), the estimate of |A \ B| — "users who did A but
    * never B", the churn/exclusivity question that completes the theta
    * algebra (union and intersection live in [[thetaOverlap]]). Same
    * groups-sized cross-join contract as the overlap matrix; exact in
    * exact mode (pinned in SketchTablesSpec vs a COUNT(DISTINCT) twin).
    */
  def thetaDifference(table: DataFrame, keyCol: String): DataFrame = {
    val a = table.select(col(keyCol).as("key_a"), col("theta").as("__ta"))
    val b = table.select(col(keyCol).as("key_b"), col("theta").as("__tb"))
    a.join(b, col("key_a") =!= col("key_b"))
      .select(col("key_a"), col("key_b"),
        theta_sketch_estimate(theta_difference(col("__ta"), col("__tb"))).as("n_a_only"))
  }

  // ---- KLL quantile sketch tables ----------------------------------------
  // Mergeable per-group QUANTILE summaries: build per-day sketches once,
  // answer "p95 by week/month" by merge — the dashboard-tile shape where
  // exact per-group quantiles (Quantiles.exactPerGroup) would rescan the
  // base table per rollup level. Rank error is the KLL bound (~1.65%
  // one-sided at k = 200). The sketch is randomized, so two runs may
  // return different values within that bound.

  /** Build the per-group KLL sketch table over a DOUBLE value column.
    * Nulls and NaNs are not observations.
    */
  def kllTable(df: DataFrame, groupCols: Seq[String], valueCol: String,
               k: Int = 200): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(kll_sketch_agg_double(col(valueCol).cast("double"), k).as("kll"))

  /** Roll a KLL table up to coarser groups by sketch merge. */
  def kllRollup(table: DataFrame, groupCols: Seq[String]): DataFrame =
    table.groupBy(groupCols.map(col): _*)
      .agg(kll_merge_agg_double(col("kll")).as("kll"))

  /** Materialize quantile estimates: sketch column → one `p<N>` column
    * per requested prob (the [[Quantiles.exact]] naming convention).
    * Ranks are inclusive. Empty-sketch groups yield nulls: the native
    * getter throws on an empty sketch, so it is guarded by the count.
    */
  def kllQuantiles(table: DataFrame, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"probs must be in [0, 1], got $probs")
    probs.foldLeft(table) { (acc, p) =>
      acc.withColumn(s"p${(p * 100).round}",
        when(kll_sketch_get_n_double(col("kll")) > 0,
          kll_sketch_get_quantile_double(col("kll"), lit(p))))
    }.drop("kll")
  }

  // ---- Count-Min sketch tables: per-key FREQUENCIES ----------------------
  // The fourth family: point-frequency estimates. HLL/theta count the
  // distinct SET, KLL summarizes the value DISTRIBUTION; Count-Min
  // answers "how many times did key X occur" per group — overcounting
  // only (never under), by ≤ εN with prob 1-δ (ε = 2/width, δ = 2^-depth).
  // Merge is exact counter addition, so rolled-up tables equal
  // directly-built ones BIT-FOR-BIT (CmsSpec pins it) — the strongest
  // merge contract of the four families. Sketch format is Spark's own
  // `org.apache.spark.util.sketch.CountMinSketch` (public, stable wire
  // format).

  /** Build the per-group Count-Min table over a LONG key column. */
  def cmsTable(df: DataFrame, groupCols: Seq[String], keyCol: String,
               depth: Int = 5, width: Int = 4096,
               seed: Int = 42): DataFrame = {
    df.groupBy(groupCols.map(col): _*)
      .agg(DataSketchAggs.cmsSketch(col(keyCol).cast("long"), depth, width, seed).as("cms"))
  }

  /** Roll a Count-Min table up to coarser groups by exact counter sum. */
  def cmsRollup(table: DataFrame, groupCols: Seq[String]): DataFrame = {
    table.groupBy(groupCols.map(col): _*)
      .agg(DataSketchAggs.cmsMerge(col("cms")).as("cms"))
  }

  private val cmsEstimateUdf = udf { (b: Array[Byte], key: Long) =>
    if (b == null || b.isEmpty) 0L
    else org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(b)).estimateCount(key)
  }

  /** Materialize point estimates for a fixed probe-key list: one
    * (group, key, n_est) row per table row × key. The probe list is a
    * dashboard-sized literal by contract (the sketch table itself is
    * groups-sized), so the explode is tiny and the UDF runs per
    * (group, key), never per base-data row.
    */
  def cmsEstimate(table: DataFrame, keys: Seq[Long]): DataFrame = {
    require(keys.nonEmpty, "cmsEstimate needs at least one probe key")
    table
      .withColumn("key", explode(typedlit(keys)))
      .withColumn("n_est", cmsEstimateUdf(col("cms"), col("key")))
      .drop("cms")
  }
}

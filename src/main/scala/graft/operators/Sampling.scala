package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NextKPage

/** Row sampling — `ref:P/sketches/RandomSamplingSketch.java` and the
  * resolution-aware sampled histograms of paper §4.1.
  */
object Sampling {

  /** Seeded uniform sample (reference seeds per-leaf; Spark seeds per
    * partition deterministically from `seed`).
    */
  def uniform(df: DataFrame, fraction: Double, seed: Long = 42L): DataFrame =
    df.sample(withReplacement = false, fraction, seed)

  /** Seeded stratified sample: per-stratum fractions over a key column —
    * the training-data mixing primitive (rebalance languages / sources /
    * quality tiers without a shuffle; sampleBy filters per partition).
    * Strata absent from `fractions` are dropped (fraction 0).
    */
  def stratified(df: DataFrame, column: String, fractions: Map[String, Double],
                 seed: Long = 42L): DataFrame =
    df.stat.sampleBy(column, fractions, seed)

  // ---- Portable (hash-keyed) deterministic sampling ----------------------
  // The seeded family above is deterministic per ENGINE (Spark's
  // partition-seeded RNG); this family is deterministic per ROW: every
  // inclusion decision is a pure expression over md5(id:seed) — the
  // Export.splitByHash convention — so the same subset re-derives
  // anywhere md5 exists, independent of engine, run, row order, and
  // partitioning. That per-row purity is what a training pipeline needs
  // to reproduce a sample outside the engine (and what makes the catalog
  // rows oracle-EXACT, unlike the seeded family's rows-only contract).
  // A row's membership is also STABLE under corpus growth — new rows
  // never evict old ones, the same property the hash splits rely on —
  // and samples NEST: fraction f1 < f2 selects a strict subset.

  /** 16^13 = 2^52: 13 hex chars of the keyed md5 read as a long are
    * uniform on [0, 2^52); `hash < round(f·2^52)` keeps fraction f. */
  private val HashUnit: Long = 1L << 52

  private def hashKey(idCol: String, seed: Long) =
    conv(substring(md5(concat(col(idCol).cast("string"), lit(s":$seed"))), 1, 13), 16, 10)
      .cast("long")

  /** Hash-fraction threshold for fraction `f` — exposed so oracles and
    * callers quantize identically (round-half-up on f·2^52). */
  def hashThreshold(fraction: Double): Long = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1], got $fraction")
    math.round(fraction * HashUnit)
  }

  /** Portable uniform sample: keep rows whose keyed hash fraction falls
    * below `fraction`. Map-side pure expression — no shuffle, no state,
    * no RNG; exact oracle form:
    * `CAST(('0x' || substring(md5(id || ':seed'), 1, 13)) AS BIGINT) < threshold`.
    */
  def uniformByHash(df: DataFrame, idCol: String, fraction: Double,
                    seed: Long = 42L): DataFrame =
    df.filter(hashKey(idCol, seed) < lit(hashThreshold(fraction)))

  /** Portable WEIGHTED (probability-proportional-to-size / Poisson)
    * sample: each row is kept independently with probability
    * `min(1, rate · weight)` — "sample documents proportional to their
    * token count" — decided by the same keyed hash. The per-row
    * threshold `floor(min(1, rate·w) · 2^52)` uses ONLY operations IEEE
    * 754 defines exactly (multiply, min, floor; the 2^52 scale is a
    * power of two), so the threshold — and therefore the selected set —
    * is bit-identical in any engine evaluating the same expression:
    * oracle-EXACT, like the uniform/stratified hash forms. Rows with a
    * null, NaN, or non-positive weight are excluded by contract (they
    * have no sampling probability).
    */
  def weightedByHash(df: DataFrame, idCol: String, weightCol: String,
                     rate: Double, seed: Long = 42L): DataFrame = {
    require(rate > 0 && !rate.isInfinite, s"rate must be finite and > 0, got $rate")
    val w = col(weightCol).cast("double")
    df.filter(w.isNotNull && !isnan(w) && w > 0)
      .filter(hashKey(idCol, seed) <
        floor(least(lit(1.0), lit(rate) * w) * lit(HashUnit.toDouble)).cast("long"))
  }

  /** Portable stratified sample: per-stratum hash thresholds over the
    * same keyed hash. Strata absent from `fractions` are dropped
    * (null threshold → comparison null → filtered), mirroring
    * [[stratified]]'s missing-stratum contract — but unlike `sampleBy`
    * the selection is a pure per-row expression, exactly reproducible
    * cross-engine.
    */
  def stratifiedByHash(df: DataFrame, stratumCol: String, idCol: String,
                       fractions: Map[String, Double],
                       seed: Long = 42L): DataFrame = {
    require(fractions.nonEmpty, "stratifiedByHash: empty fraction map")
    val thr = fractions.foldLeft(lit(null).cast("long")) { case (rest, (k, f)) =>
      when(col(stratumCol) === lit(k), lit(hashThreshold(f))).otherwise(rest)
    }
    df.filter(hashKey(idCol, seed) < thr)
  }

  /** Temperature-scaled source mixing — the corpus-rebalancing step of a
    * training-data pipeline: source s with n_s rows is sampled at a rate
    * that makes its share of the output ∝ n_s^(1/T), clamped at keeping
    * every row. T = 1 preserves natural proportions; T → ∞ flattens
    * toward uniform shares; T < 1 sharpens toward the biggest sources.
    *
    * Scale shape: one count aggregation (sources are FEW — the collected
    * table is sketch-sized), then `sampleBy`, which filters per partition
    * with no shuffle. Seeded and deterministic per partition.
    */
  def temperatureMix(df: DataFrame, sourceCol: String, temperature: Double,
                     targetRows: Long, seed: Long = 42L): DataFrame = {
    require(temperature > 0, "temperature must be > 0")
    val counts = df.groupBy(sourceCol).count()
      .collect() // one row per SOURCE — sketch-sized by contract
      .map(r => r.get(0) -> r.getLong(1))
    val scaled = counts.map { case (k, n) => (k, n, math.pow(n.toDouble, 1.0 / temperature)) }
    val z = scaled.map(_._3).sum
    val fractions: Map[Any, Double] = scaled.map { case (k, n, p) =>
      k -> math.min(1.0, targetRows * p / z / n.toDouble)
    }.toMap
    df.stat.sampleBy(df(sourceCol), fractions, seed)
  }

  /** Engine-portable share weight x^invT for the temperature-mix hash
    * twins: IEEE 754 requires sqrt and multiplication to be CORRECTLY
    * ROUNDED, so invT = 0.5 (temperature 2, the flattening default) and
    * small integral invT (computed by repeated multiplication) reproduce
    * bit-for-bit in any compliant engine — unlike libm `pow`, whose
    * last-ulp is implementation-defined. Non-portable exponents fall back
    * to `math.pow` (the mix is still deterministic per JVM, just not
    * oracle-replayable).
    */
  private def portablePow(x: Double, invT: Double): Double = {
    val k = math.rint(invT)
    if (invT == 0.5) math.sqrt(x)
    else if (invT == k && k >= 0 && k <= 8) {
      var r = 1.0; var i = 0
      while (i < k.toInt) { r *= x; i += 1 }
      r
    } else math.pow(x, invT)
  }

  /** Shared tail of the portable temperature mixers: weights (one row per
    * source, sorted by key so the z fold is deterministic) → clamped
    * per-source fractions ∝ w^(1/T)/w → literal hash thresholds → one
    * map-side keyed-md5 filter (the [[stratifiedByHash]] plan: no
    * shuffle, no RNG, reproducible anywhere md5 exists). Sources with
    * non-positive weight drop (null threshold → filtered), mirroring
    * temperatureMixTokens' missing-stratum contract.
    */
  private def mixByHash(df: DataFrame, sourceCol: String, idCol: String,
                        weights: Seq[(Any, Long)], temperature: Double,
                        target: Long, seed: Long): DataFrame = {
    require(temperature > 0, "temperature must be > 0")
    require(target > 0, s"target must be > 0, got $target")
    val invT = 1.0 / temperature
    val scaled = weights.filter(_._2 > 0)
      .sortBy(_._1.toString)
      .map { case (k, w) => (k, w, portablePow(w.toDouble, invT)) }
    require(scaled.nonEmpty, "mixByHash: no source with positive weight")
    // left-to-right over the sorted keys — the ONE order-sensitive step
    // (z is a sum of inexact doubles for fractional invT); an engine
    // summing in another order can drift z by 1 ulp, which moves a
    // threshold by ≤ 1 unit of 2^-52 — a row flips only if its 52-bit
    // hash equals that exact boundary value
    val z = scaled.map(_._3).sum
    val thr = scaled.foldLeft(lit(null).cast("long")) { case (rest, (k, w, p)) =>
      val f = math.min(1.0, target * p / z / w.toDouble)
      when(col(sourceCol) === lit(k), lit(hashThreshold(f))).otherwise(rest)
    }
    df.filter(hashKey(idCol, seed) < thr)
  }

  /** Portable (keyed-md5) twin of [[temperatureMix]]: the same
    * share-∝-n^(1/T) rebalancing, but every inclusion decision is the
    * pure hash expression of the portable sampling family, so the
    * selected subset re-derives in any engine — and the catalog row is
    * oracle-EXACT (hash-checked), not rows-only. Portability of the
    * SHARES needs a correctly-rounded weight function: use temperature 2
    * (sqrt) or integral 1/T; see [[portablePow]]. One sketch-sized count
    * collect, then a map-side filter — no shuffle beyond the counts.
    */
  def temperatureMixByHash(df: DataFrame, sourceCol: String, idCol: String,
                           temperature: Double, targetRows: Long,
                           seed: Long = 42L): DataFrame = {
    val counts = df.groupBy(sourceCol).count()
      .collect() // one row per SOURCE — sketch-sized by contract
      .map(r => r.get(0) -> r.getLong(1)).toSeq
    require(counts.forall(_._1 != null),
      s"temperatureMixByHash: null $sourceCol key — every row needs a source")
    mixByHash(df, sourceCol, idCol, counts, temperature, targetRows, seed)
  }

  /** Portable twin of [[temperatureMixTokens]] — the budgeted
    * (token-weighted) form under the keyed-md5 hash: source shares
    * ∝ W^(1/T) with W the source's total `weightCol`, expected output
    * weight `targetWeight`, per-row inclusion a pure hash expression.
    */
  def temperatureMixTokensByHash(df: DataFrame, sourceCol: String,
                                 idCol: String, weightCol: String,
                                 temperature: Double, targetWeight: Long,
                                 seed: Long = 42L): DataFrame = {
    val weights = df.groupBy(sourceCol)
      .agg(sum(col(weightCol).cast("long")).as("w"))
      .collect() // one row per SOURCE — sketch-sized by contract
      .map(r => r.get(0) -> r.getLong(1)).toSeq
    require(weights.forall(_._1 != null),
      s"temperatureMixTokensByHash: null $sourceCol key — every row needs a source")
    mixByHash(df, sourceCol, idCol, weights, temperature, targetWeight, seed)
  }

  /** Exactly-k uniform sample PER GROUP — the "n examples per language /
    * source / quality tier" primitive `sampleBy` cannot express (a
    * fraction yields a binomial count, not exactly k; tiny strata come
    * back empty). Bottom-k-by-hash: rank rows by `xxhash64(id, seed)`
    * and keep each group's k smallest — over the hash's uniform order
    * this IS a simple random sample without replacement, and unlike a
    * true reservoir it is DETERMINISTIC under any partitioning and
    * merge order (hash ties broken by id; a collision only perturbs
    * which of the colliding rows enters, never the sample size).
    *
    * Shape: one [[graft.functions.NextKPageAgg]] bounded buffer per
    * (group, partition) carrying the FULL ROW as payload behind the
    * (hash, id) sort prefix, so only `partitions · groups · k` rows
    * shuffle and no join back to the corpus is needed — the
    * `row_number().over(partitionBy(group).orderBy(hash))` form this
    * replaces sorts every group's entire row set through one task per
    * group (parity-pinned in the spec). Groups with < k rows return all
    * their rows.
    *
    * Extends the reference's uniform `RandomSamplingSketch` to grouped
    * exact-size samples (not present there).
    */
  def uniformPerGroup(df: DataFrame, groupCol: String, idCol: String,
                      k: Int, seed: Long = 42L): DataFrame =
    hashPerGroup(df, groupCol, idCol, k, xxhash64(col(idCol), lit(seed)))

  /** [[uniformPerGroup]] keyed by the PORTABLE hash (md5 hex prefix)
    * instead of xxhash64 — same bounded-buffer plan and the same
    * exactly-k-per-group sampling semantics, but the rank order
    * reproduces anywhere md5 exists ([0-9a-f] hex compares identically
    * under any byte-wise collation), so the selected sample is
    * oracle-EXACT: `row_number() OVER (PARTITION BY group
    * ORDER BY md5(id || ':seed'), id) <= k`.
    */
  def uniformPerGroupByHash(df: DataFrame, groupCol: String, idCol: String,
                            k: Int, seed: Long = 42L): DataFrame =
    hashPerGroup(df, groupCol, idCol, k,
      md5(concat(col(idCol).cast("string"), lit(s":$seed"))))

  /** Shared bottom-k-by-hash page plan: one bounded
    * [[graft.functions.NextKPageAgg]] buffer per (group, partition)
    * carrying the full row behind the (hash, id) sort prefix, so only
    * `partitions · groups · k` rows shuffle and no join back to the
    * corpus is needed.
    */
  private def hashPerGroup(df: DataFrame, groupCol: String, idCol: String,
                           k: Int, hashCol: org.apache.spark.sql.Column): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val payload = df.columns.filter(c => c != groupCol && c != idCol)
    // the (hash, id) prefix is unique so payload fields never decide a
    // comparison, but the page comparator is built over the whole key —
    // fail loudly on non-orderable payload (map<,>) rather than at codegen
    payload.foreach { c =>
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(df.schema(c).dataType),
        s"uniformPerGroup payload column '$c' has non-orderable type " +
          s"${df.schema(c).dataType.simpleString}; project it out first")
    }
    val keyCols = Seq(hashCol.as("__h"), col(idCol)) ++ payload.map(col)
    val flags = Seq.fill(keyCols.length)(true)
    df.groupBy(col(groupCol))
      .agg(NextKPage.page(struct(keyCols: _*), flags, k).as("pg"))
      .select(col(groupCol), explode(col("pg")).as("e"))
      .select(col(groupCol) +: col(s"e.key.$idCol").as(idCol) +:
        payload.toIndexedSeq.map(c => col(s"e.key.$c").as(c)): _*)
  }

  /** [[temperatureMix]] weighted by TOKENS instead of rows — the form a
    * training-data pipeline actually budgets in: source s with W_s total
    * tokens is sampled at a row rate making its EXPECTED token share of
    * the output ∝ W_s^(1/T), clamped at keeping every row, with
    * `targetTokens` expected output tokens overall. Rows sample
    * uniformly within a source, so expected sampled tokens = rate·W_s
    * exactly, whatever the per-doc length distribution.
    *
    * Same scale shape as temperatureMix: one sketch-sized weight
    * aggregation (one row per source), then per-partition `sampleBy` —
    * no shuffle, seeded, deterministic.
    */
  def temperatureMixTokens(df: DataFrame, sourceCol: String, weightCol: String,
                           temperature: Double, targetTokens: Long,
                           seed: Long = 42L): DataFrame = {
    require(temperature > 0, "temperature must be > 0")
    val weights = df.groupBy(sourceCol)
      .agg(sum(col(weightCol).cast("long")).as("w"))
      .collect() // one row per SOURCE — sketch-sized by contract
      .map(r => r.get(0) -> r.getLong(1))
    require(weights.forall(_._1 != null),
      s"temperatureMixTokens: null $sourceCol key — every row needs a source")
    // sources with no positive token weight contribute nothing; dropping
    // them here (sampleBy treats a missing stratum as fraction 0) keeps the
    // p/z/w arithmetic NaN-free
    val scaled = weights.filter(_._2 > 0)
      .map { case (k, w) => (k, w, math.pow(w.toDouble, 1.0 / temperature)) }
    val z = scaled.map(_._3).sum
    require(z > 0,
      s"temperatureMixTokens: total $weightCol weight must be positive " +
        s"across sources (got z=$z)")
    val fractions: Map[Any, Double] = scaled.map { case (k, w, p) =>
      k -> math.min(1.0, targetTokens * p / z / w.toDouble)
    }.toMap
    df.stat.sampleBy(df(sourceCol), fractions, seed)
  }

  /** Greedy PREFIX selection under a per-group weight budget — the
    * corpus-curation primitive "per source, keep the highest-quality
    * documents until the token budget is spent": order each group by
    * (`scoreCol` DESC, `idCol` ASC), take the maximal prefix whose
    * cumulative `weightCol` stays ≤ `budget`. Rows with a null score or
    * a null/non-positive weight are excluded by contract (they have no
    * place in a positive running sum); a NaN score ranks ABOVE every
    * finite score (Spark's double sort order), so NaN rows spend budget
    * first — exactly as the naive window form would.
    *
    * Scale shape (the whole point): the naive form is one window over
    * EVERY group's full row set — a total sort of the corpus keyed by
    * group, with each group's rows through one task. Instead:
    *  1. bin scores on a coarse monotone grid (`floor(score·10^binScale)`)
    *     and aggregate per-(group, bin) weight sums — one linear shuffle
    *     whose output is groups·bins rows, SKETCH-sized by contract
    *     (guarded by [[Quantiles.MaxHistRows]], loud failure);
    *  2. on the driver, walk each group's bins in score order to find the
    *     boundary bin where the budget runs out — bins strictly above it
    *     are selected WHOLE (map-side broadcast-join filter, no shuffle),
    *     bins below are dropped whole;
    *  3. only BOUNDARY-BIN rows (≈ 1/bins of each group) pay the exact
    *     window cumsum.
    * Binning is exactness-preserving, not approximate: the bin function
    * is monotone in score, so greedy order processes bins consecutively
    * and the within-bin refinement uses the EXACT (score, id) order —
    * the selected set is identical to the naive window's (parity-pinned).
    *
    * Returns the input columns of surviving rows (helper columns
    * dropped); deterministic for deterministic inputs.
    */
  def selectByBudget(df: DataFrame, groupCol: String, idCol: String,
                     weightCol: String, scoreCol: String, budget: Long,
                     binScale: Int = 3): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val spark = df.sparkSession
    val outCols = df.columns.toIndexedSeq
    val rows = df.filter(col(scoreCol).isNotNull &&
      col(weightCol).isNotNull && col(weightCol) > 0)
    // binned feeds BOTH the histogram and the selection passes — pin it.
    // The grid is the histogram cut's (Quantiles.withBin): NaN scores bin
    // above every finite bin, where the exact window sorts them.
    val binned = graft.CacheScope.pin(Quantiles.withBin(rows, col(scoreCol).cast("double"), binScale))
    val hist = Quantiles.collectHist(binned.groupBy(col(groupCol), col("__bin"))
      .agg(sum(col(weightCol).cast("long")).as("__w")), "selectByBudget")
    // per group: bins in score order (desc); boundary = first bin whose
    // cumulative weight overflows the budget. Bins above it select whole;
    // the boundary bin gets the residual budget; bins below drop whole.
    // An explicit found flag (not an in-band bin-value sentinel) marks the
    // no-boundary case, so a genuine Long.MinValue bin (scores past the
    // double->long saturation point) is never confused with "budget never
    // ran out".
    val cuts = hist.groupBy(_.get(0)).map { case (g, rs) =>
      val bins = rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(-_._1)
      var cum = 0L
      var found = false
      var boundary = 0L
      var rem = 0L
      val it = bins.iterator
      while (it.hasNext && !found) {
        val (b, w) = it.next()
        if (cum + w > budget) { found = true; boundary = b; rem = budget - cum }
        cum += w
      }
      org.apache.spark.sql.Row(g, found, boundary, rem)
    }.toSeq
    val groupField = df.schema(df.schema.fieldIndex(groupCol))
    val cutSchema = org.apache.spark.sql.types.StructType(Seq(
      groupField.copy(name = groupCol),
      org.apache.spark.sql.types.StructField("__bounded", org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("__boundary", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("__rem", org.apache.spark.sql.types.LongType, nullable = false)))
    val cutDf = spark.createDataFrame(
      java.util.Arrays.asList(cuts: _*), cutSchema)
    val joined = binned.join(broadcast(cutDf), Seq(groupCol))
    val fullSel = joined.filter(!col("__bounded") || col("__bin") > col("__boundary"))
      .select(outCols.map(col): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val boundarySel = joined.filter(col("__bounded") && col("__bin") === col("__boundary"))
      .withColumn("__cum", sum(col(weightCol).cast("long")).over(w))
      .filter(col("__cum") <= col("__rem"))
      .select(outCols.map(col): _*)
    fullSel.union(boundarySel)
  }

  /** Deterministic top-`k` rows PER GROUP by (`orderCol`, `idCol`) — the
    * "cap every source/domain at its k best documents" curation primitive
    * (spam and over-represented-domain control). Same bounded-buffer
    * shape as [[uniformPerGroup]] — one [[graft.functions.NextKPageAgg]]
    * page per (group, partition) carrying the full row behind the
    * (order, id) sort prefix, so only `partitions · groups · k` rows
    * shuffle — but ordered by a CALLER-provided deterministic column
    * (quality score) instead of a seeded hash, so the selection is
    * exactly the `row_number()` window form (parity-pinned) without
    * sorting each group's full row set through one task.
    */
  def topKPerGroup(df: DataFrame, groupCol: String, idCol: String,
                   orderCol: String, k: Int,
                   descending: Boolean = true): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val payload = df.columns.filter(c => c != groupCol && c != idCol && c != orderCol)
    payload.foreach { c =>
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(df.schema(c).dataType),
        s"topKPerGroup payload column '$c' has non-orderable type " +
          s"${df.schema(c).dataType.simpleString}; project it out first")
    }
    val keyCols = Seq(col(orderCol), col(idCol)) ++ payload.map(col)
    val flags = (!descending) +: Seq.fill(keyCols.length - 1)(true)
    df.groupBy(col(groupCol))
      .agg(NextKPage.page(struct(keyCols: _*), flags, k).as("pg"))
      .select(col(groupCol), explode(col("pg")).as("e"))
      .select(col(groupCol) +: col(s"e.key.$orderCol").as(orderCol) +:
        col(s"e.key.$idCol").as(idCol) +:
        payload.toIndexedSeq.map(c => col(s"e.key.$c").as(c)): _*)
  }

  /** Per-group quantile TIER assignment — "bucket every document into its
    * source's quality tercile (or quartile, …)": per-group cut points at
    * k/tiers (k = 1..tiers-1) over `scoreCol` via the histogram-cut
    * [[graft.operators.Quantiles.exactPerGroup]], then every row tagged
    * map-side through a broadcast threshold join. Appends an integer
    * `tier` column (0 = lowest-score tier).
    *
    * Null / NaN score contract (pinned in CurationSpec): thresholds are
    * computed from NON-NULL scores only (exactPerGroup drops nulls), and a
    * null or NaN score lands in the TOP tier — every `score <= t_k`
    * comparison is false/null, so the when-chain falls through to the
    * else-branch, exactly as the SQL CASE in the oracle does. A null
    * group is dropped (inner threshold join), matching the oracle's
    * equi-join semantics. A group whose scores are ALL null has no rank
    * population at all, so exactPerGroup emits no threshold row for it
    * and the inner join drops the ENTIRE group from the output — by
    * contract: with zero scored documents there is no distribution to
    * tier against, and silently assigning every row the top tier would
    * let an unscored source bypass quality selection (pinned in
    * CurationSpec's all-null-score group fixture).
    *
    * Scale shape: thresholds are groups·(tiers-1) rows — sketch-sized —
    * so the assignment itself is a map-side broadcast join; nothing
    * shuffles beyond exactPerGroup's one linear histogram pass.
    */
  def qualityTiers(df: DataFrame, groupCol: String, scoreCol: String,
                   tiers: Int = 3): DataFrame = {
    require(tiers >= 2, s"tiers must be >= 2, got $tiers")
    val joined = Quantiles.withGroupThresholds(df, groupCol, scoreCol, tiers)
    val tier = (0 until tiers - 1).foldLeft(when(lit(false), 0)) { (c, i) =>
      c.when(col(scoreCol) <= col(s"__t$i"), i)
    }.otherwise(tiers - 1)
    joined.withColumn("tier", tier)
      .drop((0 until tiers - 1).map(i => s"__t$i"): _*)
  }

  // ---- DSIR: importance resampling toward a target domain ----------------
  // Xie et al. 2023 (arXiv:2302.03169, "Data Selection for Language
  // Models via Importance Resampling"): score every raw-corpus document
  // by the log-likelihood ratio of two hashed-n-gram unigram models —
  // one fit on a (small) TARGET corpus, one on the raw corpus itself —
  // then keep the top-k (or Gumbel-sample ∝ the softmax of the weights).
  // The statistical data-selection pass that complements the rule-based
  // quality filters: "give me raw documents distributed like Wikipedia".

  /** (id, bucket) hashed-n-gram occurrences: shingles hash into
    * `buckets` feature buckets by the PORTABLE md5 hex-prefix key (the
    * `splitByHash` convention — 13 hex chars read as a long, uniform on
    * [0, 2^52), mod `buckets`), so the feature space — and therefore the
    * whole DSIR weight computation — re-derives bit-identically in any
    * engine with md5: `CAST(('0x' || substring(md5(sh), 1, 13)) AS
    * BIGINT) % buckets` is the exact oracle form (hash ≥ 0, so `%` ≡
    * pmod). This is what promotes `pipeline_dsir_topk` from rows-only to
    * hash-checked against DuckDB.
    */
  private[operators] def hashedNgramBuckets(df: DataFrame, idCol: String, textCol: String,
                                 n: Int, buckets: Int): DataFrame =
    TextOps.rawShingles(df, idCol, textCol, n)
      .withColumn("__b",
        pmod(conv(substring(md5(col("sh")), 1, 13), 16, 10).cast("long"),
          lit(buckets.toLong)).cast("int"))

  /** Add-alpha-smoothed log bucket probabilities of one corpus — a
    * buckets-sized aggregate collected to the driver by contract (the
    * model IS sketch-sized; 8192 doubles ≪ any data partition).
    */
  private def bucketLogProbs(sh: DataFrame, buckets: Int,
                             alpha: Double): Array[Double] = {
    val counts = sh.groupBy(col("__b")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    Array.tabulate(buckets)(b =>
      math.log((counts.getOrElse(b, 0L) + alpha) / (total + alpha * buckets)))
  }

  /** Per-document DSIR log importance weights: Σ over the doc's shingle
    * occurrences of `log p_target(bucket) − log p_raw(bucket)`. Returns
    * (idCol, log_weight DECIMAL-summed double).
    *
    * Scale shape: two linear shingle passes build the two BUCKETS-sized
    * models (one driver collect each — the model is the sketch); scoring
    * is map-side (an `element_at` into the broadcast log-ratio literal)
    * plus ONE doc-keyed aggregation. Nothing quadratic, nothing
    * corpus-sized on the driver.
    *
    * Determinism: each term is the driver literal rounded to 6 decimals
    * and the per-doc sum runs through `Det.dsum` (exact decimal
    * accumulation), so the weights are BIT-IDENTICAL across runs,
    * partitionings, and engines sharing the hash — pinned with the
    * brute-force parity in DsirSpec. Docs with no shingles (empty text)
    * simply produce no row — they carry no evidence either way; callers
    * keep or drop them by join choice. `target` is typically
    * benchmark-sized but may be any frame.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, n: Int = 2, buckets: Int = 8192,
                        alpha: Double = 1e-2): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val rawSh = hashedNgramBuckets(raw, idCol, textCol, n, buckets)
    val pT = bucketLogProbs(hashedNgramBuckets(target, idCol, textCol, n, buckets),
      buckets, alpha)
    val pR = bucketLogProbs(rawSh, buckets, alpha)
    val lr: Seq[Double] = (0 until buckets).map(b => Det.round6(pT(b) - pR(b)))
    rawSh
      .select(col(idCol), element_at(typedlit(lr), col("__b") + 1).as("__lr"))
      .groupBy(col(idCol))
      .agg(Det.dsum(col("__lr")).as("log_weight"))
  }

  /** DSIR selection: the k raw documents most target-like. `gumbel=false`
    * (default) is the deterministic top-k by (log_weight, id);
    * `gumbel=true` is the paper's sampling-without-replacement ∝
    * softmax(log_weight), via the Gumbel-top-k trick with PORTABLE
    * md5-derived noise (the `splitByHash` convention — the same draw
    * re-derives anywhere), so even the sampled variant is reproducible.
    * Both plan as TakeOrderedAndProject — no global sort.
    */
  def dsirTopK(raw: DataFrame, target: DataFrame, idCol: String,
               textCol: String, k: Int, n: Int = 2, buckets: Int = 8192,
               alpha: Double = 1e-2, gumbel: Boolean = false,
               seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = importanceWeights(raw, target, idCol, textCol, n, buckets, alpha)
    val keyed =
      if (!gumbel) w.withColumn("__key", col("log_weight"))
      else {
        // hashKey is uniform on [0, 2^52); the half-shift keeps
        // u ∈ (0, 1) strictly, so g = -log(-log u) is always finite
        val u = (hashKey(idCol, seed).cast("double") + lit(0.5)) /
          lit(HashUnit.toDouble)
        keyedNoise(w, u)
      }
    keyed.orderBy(col("__key").desc, col(idCol).asc).limit(k)
      .select(col(idCol), col("log_weight"))
  }

  private def keyedNoise(w: DataFrame, u: Column): DataFrame =
    w.withColumn("__key", col("log_weight") - log(-log(u)))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NextKPage

/** Similarity search over an embedding column (`array<float>`) —
  * north-star extension (SURVEY.md §2.11).
  *
  * Paths:
  *  - `cosineTopK`: brute-force queries × corpus — correct baseline; cost
  *    |Q|·N·dim, fine when |Q| is small or as the verifier;
  *  - `lshTopK`: random-hyperplane LSH buckets + exact re-rank inside the
  *    probed buckets — sub-quadratic scale path #1;
  *  - `ivfTopK`: inverted-file coarse quantizer (centroid buckets,
  *    nprobe-limited search) — sub-quadratic scale path #2;
  *  - `cosineDupPairs`: exact all-pairs ≥ threshold via a block
  *    nested-loop over primitive arrays (when exactness is the ask).
  *
  * Every dot product — fold expression, native `FloatVectorDot` codegen
  * expression, or partition kernel — accumulates sequentially
  * left-to-right in doubles, so the DuckDB oracle (list_sum of per-dim
  * products) reproduces results bitwise.
  */
object Similarity {

  /** Sequential-fold dot product of two float-array columns, in doubles —
    * the dependency-free baseline form (interpreted lambda evaluation).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Codegen'd cosine via the native `FloatVectorDot` Catalyst expression
    * (same sequential double accumulation, so bit-identical to `cosine`
    * and the oracle; VectorExprsSpec asserts parity).
    */
  private[graft] def cosineNative(a: Column, b: Column): Column = {
    import graft.functions.VectorExprs.fdot
    fdot(a, b) / (sqrt(fdot(a, a)) * sqrt(fdot(b, b)))
  }

  /** Brute-force cosine top-k: for each query vector (filtered by
    * `queryPred`), the k nearest corpus vectors (excluding self).
    * Output: (q_id, n_id, sim rounded to 6, rk). Ordered by the rounded
    * similarity (identical on both engines) then id — deterministic.
    */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryPred: Column, k: Int): DataFrame = {
    val q = emb.filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = emb.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    rerankTopK(q.crossJoin(c).filter(col("q_id") =!= col("n_id")), k)
  }

  /** Seeded Gaussian plane matrix (bits × dim) — one shared generator so
    * the fold and native signature paths see identical planes.
    */
  def planeMatrix(dim: Int, bits: Int, seed: Long): IndexedSeq[IndexedSeq[Double]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(bits)(IndexedSeq.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane signature (`bits` sign bits of projections onto
    * fixed seeded Gaussian directions) — fold-expression form, the
    * dependency-free baseline the native `HyperplaneSignature` expression
    * is parity-tested against.
    */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int, seed: Long): Column = {
    val bitCols = planeMatrix(dim, bits, seed).zipWithIndex.map { case (plane, b) =>
      val proj = aggregate(
        zip_with(vec, typedlit(plane), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Multi-table LSH approximate top-k: L independent signature tables of
    * `bits` sign bits each; candidates = pairs colliding in ANY table;
    * exact cosine re-rank over candidates only. Collision prob for angle θ
    * is 1-(1-(1-θ/π)^bits)^tables — tune (bits, tables) to the similarity
    * regime (near-dup: more bits; weakly-similar: fewer bits, more tables).
    *
    * Scale: candidates shuffle on (table, bucket) — linear in corpus +
    * candidate pairs, never all-pairs. Signatures are the native
    * `HyperplaneSignature` expression: one codegen'd primitive loop per
    * table instead of bits-many interpreted folds, with the plane matrix
    * as a single literal — plan size O(tables), row cost pure primitive
    * arithmetic.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, dim: Int = 64, bits: Int = 4,
              tables: Int = 16, seed: Long = 42L): DataFrame =
    lshTopKWithPlanes(emb, idCol, vecCol, queryPred, k,
      (0 until tables).map(l => planeMatrix(dim, bits, seed + 1000L * l)))

  /** [[lshTopK]] under CALLER-SUPPLIED plane matrices (one per table,
    * each `bits × dim`; seeded Gaussian generation replaced by `planes`)
    * — the oracle-replayable form: with pinned hyperplanes a signature is
    * `bits` plain sign comparisons of sequential-fold projections, bucket
    * collision is signature equality, and the re-rank is the hash-checked
    * rounded-cosine page. Catalog `similarity_lsh_pinned` replays the
    * whole signature → collide → re-rank deployment in DuckDB (the
    * `similarity_bq_pinned` precedent); hyperplane QUALITY (collision
    * probability vs angle) stays with [[lshTopK]]'s recall contracts.
    */
  def lshTopKWithPlanes(emb: DataFrame, idCol: String, vecCol: String,
                        queryPred: Column, k: Int,
                        planes: Seq[Seq[Seq[Double]]]): DataFrame = {
    require(planes.nonEmpty && planes.forall(_.nonEmpty),
      "at least one non-empty plane table required")
    val sigs = planes.zipWithIndex.map { case (pm, l) =>
      struct(lit(l).as("tbl"),
        graft.functions.VectorExprs.hyperplaneSig(
          col(vecCol), pm).as("bucket"))
    }
    // queryPred is applied to the ORIGINAL frame (it may reference any emb
    // column), then the filtered queries are signature-tagged separately
    val tagged = emb.select(col(idCol), explode(array(sigs: _*)).as("tb"))
      .select(col(idCol), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = emb.filter(queryPred).select(col(idCol), explode(array(sigs: _*)).as("tb"))
      .select(col(idCol).as("q_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val c = tagged.select(col(idCol).as("n_id"), col("tbl"), col("bucket"))
    val cand = q.join(c, Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct()
    rerankShortlist(cand,
      emb.filter(queryPred).select(col(idCol).as("q_id"), col(vecCol).as("q_vec")),
      emb.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")), k)
  }

  /** Exact cosine re-rank of a candidate frame (q_id, q_vec, n_id, n_vec)
    * to per-query top-k — the shared tail of every ANN path.
    *
    * Shape: the bounded [[graft.functions.NextKPageAgg]] buffer grouped by
    * `q_id` with page key (sim DESC, n_id ASC): each partition keeps a
    * ≤ k-entry buffer per query and partials merge pairwise, so only
    * `partitions · |Q| · k` tiny rows ever shuffle. The
    * `row_number().over(Window.partitionBy(q_id))` form this replaces
    * sorted a query's ENTIRE candidate set in one task — at IVF scale
    * that is ≈ (nprobe/nlist)·N rows through a single straggler task per
    * query, the one plan that cannot survive a 100× corpus. Bounded-vs-
    * window parity and the flat shuffle bound are pinned in
    * ExtensionOpsSpec/ScalingSpec.
    */
  private[graft] def rerankTopK(cand: DataFrame, k: Int): DataFrame =
    pageBySim(roundedSims(cand), k)

  /** The second stage of every shortlist-then-refine path (LSH, PQ, OPQ,
    * SQ, BQ): a (q_id, n_id) shortlist joined back to the query vectors
    * (q_id, q_vec) and the corpus vectors (n_id, n_vec), then the exact
    * [[rerankTopK]] page — only the shortlisted full vectors are read.
    */
  private[operators] def rerankShortlist(shortlist: DataFrame, queries: DataFrame,
                                         corpus: DataFrame, k: Int): DataFrame =
    rerankTopK(shortlist.select(col("q_id"), col("n_id"))
      .join(queries, Seq("q_id")).join(corpus, Seq("n_id"))
      .select(col("q_id"), col("q_vec"), col("n_id"), col("n_vec")), k)

  /** Rows a served query batch may hold: batches are collected to the
    * driver, so they are sketch-sized by contract, and a larger batch
    * (say the whole corpus passed as "queries") fails loudly instead.
    */
  private[graft] final val MaxQueryBatch = 100000

  private def roundedSims(cand: DataFrame): DataFrame = {
    cand.select(col("q_id"), col("n_id"),
      round(cosineNative(col("q_vec"), col("n_vec")), 6).as("sim"))
  }

  private def pageBySim(sims: DataFrame, k: Int): DataFrame = {
    // keys are distinct per group by construction ((q_id, n_id) unique in
    // every candidate path), so the page's dedup counts are all 1 and the
    // page IS the row_number sequence
    sims.groupBy(col("q_id"))
      .agg(NextKPage.page(struct(col("sim"), col("n_id")), Seq(false, true), k).as("pg"))
      .select(col("q_id"), posexplode(col("pg")).as(Seq("pos", "e")))
      .select(col("q_id"), col("e.key.n_id").as("n_id"), col("e.key.sim").as("sim"),
        (col("pos") + 1).cast("long").as("rk"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Hard-negative mining — the contrastive-training data op: per query,
    * the k MOST similar corpus rows whose similarity falls in
    * `[loSim, hiSim)` — similar enough to be informative negatives,
    * strictly below the near-dup bar that would make them FALSE
    * negatives (pair `hiSim` with the corpus's dedup threshold, e.g.
    * [[cosineDupPairs]]'s). Band and order apply to the 6-dp ROUNDED
    * cosine (the family's shared portability contract), so membership at
    * the boundary is deterministic and the whole pass sits under the
    * exact-oracle hash gate (catalog `similarity_hard_negatives`).
    * Queries with NO in-band neighbor are absent from the output (the
    * page group never forms — callers needing a row per query outer-join
    * the query set back). Brute-force candidate stage, the [[cosineTopK]]
    * cost shape; [[hardNegativesIvf]] is the probe-pruned scale path.
    */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, k: Int,
                    loSim: Double, hiSim: Double): DataFrame = {
    require(loSim < hiSim, s"band must be non-empty, got [$loSim, $hiSim)")
    val q = emb.filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = emb.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    pageBySim(
      roundedSims(q.crossJoin(c).filter(col("q_id") =!= col("n_id")))
        .filter(col("sim") >= loSim && col("sim") < hiSim), k)
  }

  /** [[hardNegatives]] over the IVF candidate stage (train, then delegate
    * to [[hardNegativesIvfWithCentroids]]): the band re-rank only sees
    * probed-bucket candidates, so the scan is nprobe/nlist of the corpus
    * — the [[ivfTopK]] scale lever applied to negative mining. In-band
    * neighbors in unprobed buckets are missed by the probe contract
    * (recall tests bound it); at nprobe = nlist the result equals
    * [[hardNegatives]] exactly (pinned in HardNegativesSpec).
    */
  def hardNegativesIvf(emb: DataFrame, idCol: String, vecCol: String,
                       queryPred: Column, k: Int,
                       loSim: Double, hiSim: Double,
                       nlist: Int = 16, nprobe: Int = 4,
                       seed: Long = 42L): DataFrame = {
    val cs = trainCentroids(emb, idCol, vecCol, nlist, seed).toSeq.map(_.toSeq)
    hardNegativesIvfWithCentroids(emb, idCol, vecCol, queryPred, k,
      loSim, hiSim, cs, nprobe)
  }

  /** [[hardNegativesIvf]] under a CALLER-SUPPLIED quantizer — the
    * oracle-replayable form (the `similarity_ivf_pinned` convention):
    * with pinned centroids, assignment, probing, the rounded-cosine
    * band, and the page are all deterministic replayable arithmetic
    * (catalog `similarity_hard_negatives_ivf_pinned`); quantizer QUALITY
    * stays with the trained path's recall contracts.
    */
  def hardNegativesIvfWithCentroids(emb: DataFrame, idCol: String,
                                    vecCol: String, queryPred: Column, k: Int,
                                    loSim: Double, hiSim: Double,
                                    cs: Seq[Seq[Double]],
                                    nprobe: Int): DataFrame = {
    require(loSim < hiSim, s"band must be non-empty, got [$loSim, $hiSim)")
    pageBySim(
      roundedSims(ivfCandidatesWithCentroids(emb, idCol, vecCol, queryPred,
          cs, nprobe))
        .filter(col("sim") >= loSim && col("sim") < hiSim), k)
  }

  /** CLUSTER-BALANCED sampling — the topic-rebalancing primitive of an
    * embedded corpus: assign every vector to its nearest centroid
    * (1-nearest L2, map-side with the centroid table riding the plan as
    * a literal) and keep exactly `k` per cluster by the PORTABLE
    * bottom-k-md5 rank ([[Sampling.uniformPerGroupByHash]]'s bounded
    * page aggregate — only `partitions·nlist·k` rows shuffle). Where
    * temperature mixing rebalances DECLARED sources, this rebalances
    * LATENT topics: dominant clusters are capped at k, rare clusters
    * keep everything they have. Under pinned centroids the whole
    * selection is deterministic replayable arithmetic (hash-gated
    * catalog row); trained-quantizer callers pass
    * [[trainCentroids]]'s output.
    */
  def clusterBalancedSample(emb: DataFrame, idCol: String, vecCol: String,
                            cs: Seq[Seq[Double]], k: Int,
                            seed: Long = 42L): DataFrame = {
    require(cs.nonEmpty, "centroid list must be non-empty")
    import graft.functions.VectorExprs.nearestCentroids
    val assigned = emb.select(col(idCol), col(vecCol))
      .withColumn("bucket", element_at(nearestCentroids(col(vecCol), cs, 1), 1))
      .select(col("bucket"), col(idCol))
    Sampling.uniformPerGroupByHash(assigned, "bucket", idCol, k, seed)
  }

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell & Goldstein,
    * SIGIR 1998): greedy selection maximizing
    * `λ·sim(q, d) − (1−λ)·max_{s ∈ selected} sim(d, s)` — the
    * de-duplicating re-rank a retrieval pipeline runs when the raw top-k
    * is dominated by near-identical hits. `λ = 1` degenerates to the
    * plain relevance ranking (pinned in MmrSpec).
    *
    * Candidates are the distributed brute-force top-`candidates` per
    * query (default 4k); the greedy tail runs per query over that
    * candidates-sized set. For an ANN candidate stage, compose
    * [[mmrRerank]] over any (q_id, n_id, sim, n_vec) frame instead.
    *
    * Determinism/portability: relevance and candidate-pair similarities
    * are rounded to 6 decimals BEFORE any comparison and ties break on
    * ascending id, so the greedy trace replays bit-identically across
    * partitionings and engines — the catalog query is hash-checked
    * against a DuckDB recursive-CTE replay of the same selection.
    */
  def mmrTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, lambdaRel: Double = 0.7,
              candidates: Int = 0): DataFrame = {
    val c = if (candidates > 0) candidates else 4 * k
    require(c >= k, s"candidates ($c) must be >= k ($k)")
    val top = cosineTopK(emb, idCol, vecCol, queryPred, c)
    val cv = emb.select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec"))
    mmrRerank(top.select(col("q_id").cast("long").as("q_id"), col("n_id"),
      col("sim")).join(cv, Seq("n_id")), k, lambdaRel)
  }

  /** The greedy MMR tail over a prepared candidate frame
    * (q_id long, n_id long, sim double — rounded 6, n_vec array<float>).
    * Output: (q_id, n_id, rk, relevance, mmr_score), `mmr_score` =
    * `λ·rel − (1−λ)·maxSimToSelected` rounded 6 (first pick: `λ·rel`).
    *
    * Scale shape: ONE shuffle groups each query's candidates; the
    * per-query task is O(c²·dim) on primitive doubles — c is an operator
    * parameter (10s), never the corpus. Queries parallelize across
    * tasks; nothing reaches the driver. Non-finite pair similarities
    * (zero-norm vectors) contribute no penalty — the caller owns vector
    * hygiene, as in [[cosineDupPairs]].
    *
    * The incoming `sim` is defensively re-rounded to 6 decimals (a no-op
    * for the catalog paths, which round at the candidate stage), so a
    * caller passing raw cosines cannot silently break the
    * bit-determinism / oracle-replay guarantee.
    *
    * First-pick tie rule: selection starts from the candidate order
    * (relevance DESC, id ASC) REGARDLESS of λ — at λ = 0, where every
    * first-step score ties at 0, the pick is therefore the most-relevant
    * candidate (smallest id among relevance ties), not the smallest id
    * overall; the ascending-id tie-break applies within later steps'
    * equal MMR scores. MmrSpec and the DuckDB oracle both pin this.
    *
    * Candidate volume is observable in production: the input frame emits
    * a [[mmrCandidatesMetric]]-prefixed observed metric (`examined` =
    * candidate rows entering the greedy tail — the
    * [[candidatesMetric]] convention; listeners sum prefix-matched rows).
    */
  def mmrRerank(cand: DataFrame, k: Int, lambdaRel: Double): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambdaRel >= 0.0 && lambdaRel <= 1.0, "lambda must be in [0, 1]")
    val spark = cand.sparkSession
    import spark.implicits._
    val out = cand.select(col("q_id"), col("n_id"),
        round(col("sim"), 6).as("sim"), col("n_vec"))
      .observe(s"${mmrCandidatesMetric}_${observeSeq.incrementAndGet()}",
        count(lit(1)).as("examined"))
      .as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        import java.math.{BigDecimal => JBD}
        // EXACT decimal score arithmetic: rel and pair sims are 6-dp
        // quantities and λ is a decimal literal, so λ·rel − (1−λ)·max is
        // an exact decimal — double arithmetic here would sit exactly ON
        // rounding boundaries (0.7 × 0.371485 = 0.2600395) where binary
        // representation decides the 6th digit differently per engine.
        // The oracle runs the same steps in DECIMAL; DuckDB and
        // java.math both round HALF_UP.
        val lamBd = JBD.valueOf(lambdaRel)
        val oneMinusBd = JBD.ONE.subtract(lamBd)
        // relevance DESC, id ASC — the page order of the candidate stage
        val cs = it.toArray.sortBy(t => (-t._3, t._2))
        val n = cs.length
        val kk = math.min(k, n)
        def dot(a: Array[Float], b: Array[Float]): Double = {
          var s = 0.0; var i = 0; val m = a.length
          while (i < m) { s += a(i).toDouble * b(i).toDouble; i += 1 }
          s
        }
        val norms = cs.map(t => math.sqrt(dot(t._4, t._4)))
        val relBd = cs.map(t => JBD.valueOf(t._3))
        // rounded BEFORE max/compare — the engine-portability contract;
        // non-finite (zero-norm) pair sims contribute no penalty — the
        // caller owns vector hygiene, as in cosineDupPairs
        def pairSim(i: Int, j: Int): Option[JBD] = {
          val raw = dot(cs(i)._4, cs(j)._4) / (norms(i) * norms(j))
          if (java.lang.Double.isFinite(raw)) Some(JBD.valueOf(Det.round6(raw)))
          else None
        }
        val isPicked = new Array[Boolean](n)
        val maxSimTo = new Array[JBD](n) // null = no finite sim to selected
        def scoreOf(i: Int): JBD = {
          val base = lamBd.multiply(relBd(i))
          if (maxSimTo(i) == null) base
          else base.subtract(oneMinusBd.multiply(maxSimTo(i)))
        }
        val rows = Vector.newBuilder[(Long, Long, Long, Double, Double)]
        // first pick = cs(0), i.e. (relevance DESC, id ASC) regardless of
        // λ: for λ > 0 that IS the λ·rel argmax (ties on ascending id);
        // at λ = 0 all first-step scores tie at 0 and this rule keeps the
        // most-relevant candidate — see the scaladoc contract
        var last = 0
        var step = 0
        while (step < kk) {
          if (step > 0) {
            var best = -1
            var bestScore: JBD = null
            var i = 0
            while (i < n) {
              if (!isPicked(i)) {
                val score = scoreOf(i)
                val cmp = if (best < 0) 1 else score.compareTo(bestScore)
                if (cmp > 0 || (cmp == 0 && cs(i)._2 < cs(best)._2)) {
                  best = i; bestScore = score
                }
              }
              i += 1
            }
            last = best
          }
          isPicked(last) = true
          rows += ((q, cs(last)._2, (step + 1).toLong, cs(last)._3,
            scoreOf(last).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue))
          var i = 0
          while (i < n) {
            if (!isPicked(i)) {
              pairSim(i, last).foreach { s =>
                if (maxSimTo(i) == null || s.compareTo(maxSimTo(i)) > 0)
                  maxSimTo(i) = s
              }
            }
            i += 1
          }
          step += 1
        }
        rows.result()
      }
    out.toDF("q_id", "n_id", "rk", "relevance", "mmr_score")
      .orderBy(col("q_id"), col("rk"))
  }

  /** The sub-quadratic MMR path: [[mmrRerank]] composed over the IVF
    * candidate stage instead of the brute cross join — per query the
    * candidate pool is ≈ (nprobe/nlist)·N, re-ranked to the top
    * `candidates` by the bounded page aggregate, then greedily
    * diversified. With `nprobe = nlist` the pool is the whole corpus and
    * the result equals [[mmrTopK]] exactly (pinned in MmrSpec).
    */
  def mmrTopKIvf(emb: DataFrame, idCol: String, vecCol: String,
                 queryPred: Column, k: Int, lambdaRel: Double = 0.7,
                 candidates: Int = 0, nlist: Int = 16, nprobe: Int = 4,
                 seed: Long = 42L): DataFrame = {
    // train-then-delegate (the lshTopK/lshTopKWithPlanes split): the
    // composed serve machinery lives in ONE place, so the pinned entry
    // point below provably runs the trained path's exact stages
    val cs: Seq[Seq[Double]] =
      trainCentroids(emb, idCol, vecCol, nlist, seed).toSeq.map(_.toSeq)
    mmrTopKIvfWithCentroids(emb, idCol, vecCol, queryPred, k, lambdaRel,
      candidates, cs, nprobe)
  }

  /** [[mmrTopKIvf]] under a CALLER-SUPPLIED coarse quantizer — the
    * composed MMR serve with training factored out (the
    * [[ivfTopKWithCentroids]] convention). With PINNED centroids every
    * stage of the composition is deterministic replayable arithmetic:
    * squared-L2 argmin assignment, nprobe probe selection, the
    * rounded-cosine candidate page, and the exact-decimal greedy MMR
    * tail — so the WHOLE diversified-serve path sits under the exact
    * oracle hash gate (catalog `similarity_mmr_ivf_pinned`), while
    * quantizer quality stays with the trained path's recall/parity
    * tests.
    */
  def mmrTopKIvfWithCentroids(emb: DataFrame, idCol: String, vecCol: String,
                              queryPred: Column, k: Int, lambdaRel: Double,
                              candidates: Int, cs: Seq[Seq[Double]],
                              nprobe: Int): DataFrame = {
    val c = if (candidates > 0) candidates else 4 * k
    require(c >= k, s"candidates ($c) must be >= k ($k)")
    val top = rerankTopK(
      ivfCandidatesWithCentroids(emb, idCol, vecCol, queryPred, cs, nprobe), c)
    val cv = emb.select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec"))
    mmrRerank(top.select(col("q_id").cast("long").as("q_id"), col("n_id"),
      col("sim")).join(cv, Seq("n_id")), k, lambdaRel)
  }

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer scale
    * path: corpus vectors are assigned to their nearest of `nlist`
    * centroids (seeded deterministic init + one Lloyd refinement pass,
    * both distributed aggregations); a query probes only its `nprobe`
    * nearest centroid buckets and re-ranks those candidates exactly.
    * Search cost per query ≈ (nprobe/nlist)·N instead of N.
    *
    * Scale: the centroid table is sketch-sized (nlist·dim doubles,
    * closure-broadcast); assignment is one row-parallel pass; search is
    * an equi join on the bucket id — no all-pairs anywhere. This FUSED
    * form re-trains the quantizer per call — right for one-shot
    * exploration; a serving deployment builds once with `buildIvfIndex`
    * and probes with `ivfTopKFromIndex`.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, nlist: Int = 16, nprobe: Int = 4,
              seed: Long = 42L): DataFrame =
    rerankTopK(ivfCandidates(emb, idCol, vecCol, queryPred, nlist, nprobe, seed), k)

  /** Standard IVF list sizing, `nlist ∝ √N` (floored at 16): pair cost of
    * the dup path is ≈ N²·nprobe²/nlist, so √N lists give O(N^1.5) total;
    * per-query search cost is ≈ nprobe·N/nlist + nlist centroid scans,
    * minimized at the same √N. Catalog queries size from a table count.
    */
  def autoNlist(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(math.max(n, 0L).toDouble)).toInt)

  /** Above this list count, `trainCentroids` switches from driver-side
    * kmeans++ over a hash-ordered sample (O(nlist·sample·dim)) to the
    * distributed k-means|| oversampling init ([[kmeansParallelInit]]).
    */
  val maxKmeansppLists: Int = 4096

  // ---- primitive distance kernels shared by the init and Lloyd paths ----
  private def l2f(a: Array[Float], c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - c(i); s += t * t; i += 1 }
    s
  }
  private def l2d(a: Array[Double], c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - c(i); s += t * t; i += 1 }
    s
  }
  private def nearest(v: Array[Float], cs: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue; var i = 0
    while (i < cs.length) { val d = l2f(v, cs(i)); if (d < bd) { bd = d; best = i }; i += 1 }
    best
  }

  /** Weighted kmeans++ over driver-resident points — the shared kernel of
    * both init paths (the sample path passes unit weights; k-means||
    * passes corpus-mass weights): centers drawn w·distance²-weighted with
    * the seeded generator, O(k·n·dim) flops, n·dim memory. `pts(0)` seeds
    * the first center, so callers fix the seed point deterministically.
    */
  private def weightedKmeanspp(pts: Array[Array[Double]], w: Array[Double],
                               k: Int, rnd: scala.util.Random): Array[Array[Double]] = {
    val centers = scala.collection.mutable.ArrayBuffer(pts(0))
    val d2 = Array.fill(pts.length)(Double.MaxValue)
    val wd = new Array[Double](pts.length)
    while (centers.length < k) {
      val c = centers.last
      var i = 0
      while (i < pts.length) {
        val d = l2d(pts(i), c); if (d < d2(i)) d2(i) = d
        wd(i) = w(i) * d2(i); i += 1
      }
      val total = wd.sum
      if (total <= 0) {
        // all mass coincides with chosen centers — duplicate one (the
        // resulting empty buckets are harmless: Lloyd keeps them put)
        centers += pts(centers.length % pts.length)
      } else {
        var r = rnd.nextDouble() * total
        var j = 0
        while (j < pts.length - 1 && r > wd(j)) { r -= wd(j); j += 1 }
        // the draw can land in a zero-weight run (an already-chosen
        // center, float drift, or nextDouble()==0): scan CIRCULARLY to
        // the next positive-weight point — total > 0 guarantees one
        // exists, so this never re-picks a center (a forward-only scan
        // stalls at the last index inside a trailing zero-weight run
        // and silently duplicates a centroid, shrinking effective nlist)
        while (wd(j) <= 0) j = (j + 1) % pts.length
        centers += pts(j)
      }
    }
    centers.toArray
  }

  /** Round count for [[kmeansParallelInit]] (Bahmani et al. recommend
    * l = Θ(k) oversampling for ~5 rounds). */
  private val kmeansParRounds = 5

  /** Candidate-set cap for [[kmeansParallelInit]]: bounds driver memory
    * at `maxInitCandidates · dim` doubles no matter how large nlist or
    * the corpus — the same bound the kmeans++ sample cap enforces.
    */
  private[graft] val maxInitCandidates = 1 << 20

  /** Candidate count of the most recent [[kmeansParallelInit]] run —
    * test observability for the driver-memory contract (≈ 1 + l·rounds,
    * independent of corpus size; never above [[maxInitCandidates]]).
    */
  @volatile private[graft] var lastParallelInitCandidates: Int = 0

  /** k-means|| (Bahmani et al., "Scalable k-means++", VLDB'12) — the
    * distributed init for `nlist > maxKmeansppLists`, where a driver
    * kmeans++ over an `8·nlist` sample is intractable: ~5 rounds of
    * COST-WEIGHTED Bernoulli oversampling over the FULL corpus (each
    * point drawn with prob min(1, l·d²/φ), l = 2k, φ = current total
    * cost), then each candidate is weighted by the corpus mass nearest to
    * it and the candidate set (≈ 1 + l·rounds vectors, capped) is
    * reclustered to k centers by driver-side [[weightedKmeanspp]]. Unlike
    * the hash-smallest seed this replaces, candidates are drawn from the
    * whole corpus in proportion to residual cost, so small outlying
    * clusters get centers instead of starving.
    *
    * Determinism: every Bernoulli draw derives from (xxhash64(id, seed),
    * round) through a fixed mixer — no RNG in any scan, so identical
    * (data, k, seed) yields identical centers under ANY partitioning.
    *
    * Scale shape: each round updates every point's running d² against
    * only that round's NEW candidates (broadcast, ~l vectors) — one
    * narrow pass, no shuffle — and the iterative frame is
    * checkpoint-truncated per round (same lineage-explosion guard as
    * connectedComponentsStar). Driver memory is O(|C|·dim) ≤
    * maxInitCandidates·dim; the final recluster costs O(k·|C|·dim) flops
    * once, the irreducible kmeans++ term.
    */
  private[graft] def kmeansParallelInit(emb: DataFrame, idCol: String,
                                        vecCol: String, k: Int,
                                        seed: Long): Array[Array[Double]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb
      .select(xxhash64(col(idCol), lit(seed)).as("h"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
    val seedVec = base.orderBy(col("h")).limit(1)
      .collect().head._2.map(_.toDouble)
    val cand = scala.collection.mutable.ArrayBuffer[Array[Double]](seedVec)
    var pts = Iterative.checkpoint(base.map { case (h, v) => (h, v, l2f(v, seedVec)) })
    var round = 1
    var exhausted = false
    while (round <= kmeansParRounds && !exhausted && cand.length < maxInitCandidates) {
      val phi = pts.toDF("h", "v", "d2").agg(sum(col("d2"))).head.getDouble(0)
      if (!(phi > 0)) exhausted = true // every point coincides with a candidate
      else {
        val lOver = 2.0 * k
        val r = round // stable closure captures
        val s = seed
        // sort by the row hash: collect() order is partition-dependent,
        // and candidate ORDER feeds the weighted draw — unsorted, the
        // same centers would come back permuted under a different
        // partitioning, breaking bitwise determinism
        val fresh = pts
          .filter(t => u01(t._1, r, s) * phi < lOver * t._3)
          .map(t => (t._1, t._2)).collect()
          .sortBy(_._1).map(_._2)
        val added = fresh.take(maxInitCandidates - cand.length).map(_.map(_.toDouble))
        if (added.isEmpty) exhausted = true
        else {
          cand ++= added
          val bc = spark.sparkContext.broadcast(added)
          val next = Iterative.checkpoint(pts.map { case (h, v, d) =>
            val cs = bc.value
            var best = d; var i = 0
            while (i < cs.length) { val t = l2f(v, cs(i)); if (t < best) best = t; i += 1 }
            (h, v, best)
          })
          Iterative.releaseCheckpoint(pts)
          pts = next
          bc.destroy()
        }
      }
      round += 1
    }
    // weight = corpus mass nearest each candidate (one |C|-wide pass,
    // centroid matrix broadcast — never a closure at large nlist)
    val cArr = cand.toArray
    val bcAll = spark.sparkContext.broadcast(cArr)
    val counts = pts.map { case (_, v, _) => nearest(v, bcAll.value) }
      .groupByKey(identity).count().collect().toMap
    Iterative.releaseCheckpoint(pts)
    bcAll.destroy()
    val w = Array.tabulate(cArr.length)(i => counts.getOrElse(i, 0L).toDouble)
    lastParallelInitCandidates = cArr.length
    weightedKmeanspp(cArr, w, k, new scala.util.Random(seed))
  }

  /** Deterministic per-(row, round) uniform draw in [0, 1): a fixed
    * 64-bit mixer over the row's id hash — the "no RNG in the scan"
    * contract that makes k-means|| reproducible under any partitioning.
    */
  private def u01(h: Long, round: Int, seed: Long): Double = {
    val x = scala.util.hashing.byteswap64(h + round * 0x9E3779B97F4A7C15L + seed)
    (x >>> 11) * (1.0 / (1L << 53))
  }

  /** Train the IVF coarse quantizer — kmeans++ init + Lloyd iterations to
    * movement convergence, the shape real IVF practice (FAISS-style) uses:
    *
    *  1. a DETERMINISTIC sample (the `nlist·8` hash-smallest vectors — one
    *     distributed top-k, no RNG in the scan) seeds kmeans++ on the
    *     driver: centers picked distance²-weighted with a seeded generator,
    *     so spread scales with cluster mass instead of the hash-smallest
    *     init's arbitrary placement (which routinely dropped several of
    *     nlist buckets into one dense region, starving recall);
    *  2. distributed Lloyd passes (map-side partial sums per bucket, one
    *     sketch-sized aggregate per pass) until the largest centroid
    *     movement falls under 1e-3 of the sample's mean vector norm, capped
    *     at `maxIters` — empty clusters keep their previous centroid.
    *
    * Only sketch-sized state is ever collected (the init sample and the
    * nlist·dim partial means). Shared by the fused path and the
    * persisted-index build, so the two produce identical centroids for
    * identical (data, nlist, seed).
    */
  def trainCentroids(emb: DataFrame, idCol: String, vecCol: String,
                     nlist: Int, seed: Long, maxIters: Int = 8,
                     forceParallelInit: Boolean = false): Array[Array[Double]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    // the Lloyd pass never uses ids — ship vectors only (and stay agnostic
    // to the id type, unlike a cast-to-long of string ids)
    val vecs = emb.select(col(vecCol)).as[Array[Float]]
    // ---- init ----------------------------------------------------------
    // Driver-side kmeans++ over a deterministic hash-ordered sample is
    // O(nlist · sample · dim): ideal quality up to a few thousand lists,
    // intractable at the √N nlist of a truly huge corpus. Past
    // `maxKmeansppLists` the init switches to the distributed k-means||
    // oversampling (kmeansParallelInit) — cost-weighted candidates from
    // the FULL corpus, still fully deterministic. Both paths bound driver
    // memory at cap·dim doubles. (The small hash-ordered sample below
    // also calibrates the Lloyd convergence epsilon in both paths.)
    // forceParallelInit is test plumbing: quality/parity specs exercise
    // the k-means|| path at a testable nlist
    val useKmeanspp = nlist <= maxKmeansppLists && !forceParallelInit
    val sampleN =
      if (useKmeanspp) math.min(math.max(nlist * 8, 256), 1 << 20)
      else math.min(nlist, 4096) // eps calibration only — sketch-sized
    val sample: Array[Array[Double]] = emb
      .select(col(vecCol).as("v"), xxhash64(col(idCol), lit(seed)).as("h"))
      .orderBy(col("h")).limit(sampleN)
      .select(col("v")).as[Array[Float]]
      .collect().map(_.map(_.toDouble))
    if (sample.isEmpty) return Array.empty
    // a short sample (< sampleN collected) means the corpus itself is
    // smaller than the cap, so k clamps to the corpus size; a FULL sample
    // says nothing about N, so k stays nlist (a corpus between the
    // calibration cap and nlist yields duplicate centers = empty buckets,
    // harmless per the weightedKmeanspp contract)
    val k = if (sample.length < sampleN) math.min(nlist, sample.length) else nlist
    val cs0: Array[Array[Double]] =
      if (useKmeanspp)
        weightedKmeanspp(sample, Array.fill(sample.length)(1.0), k,
          new scala.util.Random(seed))
      else
        kmeansParallelInit(emb, idCol, vecCol, k, seed)
    // ---- Lloyd to convergence ------------------------------------------
    val meanNorm = sample.map(v => math.sqrt(l2d(v, new Array[Double](v.length))))
      .sum / sample.length
    val eps = 1e-3 * math.max(meanNorm, 1e-12)
    var cs: Array[Array[Double]] = cs0
    var moved = Double.MaxValue
    var iter = 0
    while (iter < maxIters && moved > eps) {
      val cur = cs // stable closure capture for this pass
      val sums = vecs
        .map(v => (nearest(v, cur), v.map(_.toDouble), 1L))
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          (a._1, a._2.zip(b._2).map { case (x, y) => x + y }, a._3 + b._3)
        }
        .map { case (_, (c, s, n)) => (c, s.map(_ / n)) }
        .collect().toMap
      val next = Array.tabulate(cs.length)(i => sums.getOrElse(i, cs(i)))
      moved = cs.zip(next).map { case (a, b) => math.sqrt(l2d(a, b)) }.max
      cs = next
      iter += 1
    }
    cs
  }

  /** The IVF candidate stage alone — (q_id, q_vec, n_id, n_vec) for every
    * corpus vector in a query's `nprobe` nearest centroid buckets, BEFORE
    * exact re-rank. Exposed so the scaling spec can measure the probed
    * fraction empirically: the IVF scale claim is that this set is
    * ≈ (nprobe/nlist)·N per query instead of the brute-force N.
    */
  def ivfCandidates(emb: DataFrame, idCol: String, vecCol: String,
                    queryPred: Column, nlist: Int = 16, nprobe: Int = 4,
                    seed: Long = 42L): DataFrame = {
    // assignment + probing are the native NearestCentroids expression
    // (codegen'd primitive loops; the centroid matrix decodes once per
    // task, not per row) — selection order matches the training loop's
    // `nearest`/a stable sort: ascending (distance, index)
    val cs: Seq[Seq[Double]] =
      trainCentroids(emb, idCol, vecCol, nlist, seed).toSeq.map(_.toSeq)
    ivfCandidatesWithCentroids(emb, idCol, vecCol, queryPred, cs, nprobe)
  }

  /** The candidate stage under a CALLER-SUPPLIED coarse quantizer — the
    * probe machinery with the training stage factored out. Two uses:
    * [[ivfCandidates]] passes the k-means result; an ORACLE-REPLAYABLE
    * deployment passes pinned centroids (any fixed vector list), making
    * the entire probe-and-rerank pass deterministic arithmetic that a
    * SQL engine can replay — bucket assignment is squared-L2 argmin
    * (ascending (distance, index), exactly [[NearestCentroids]]'s
    * selection), probing takes the `nprobe` nearest lists.
    */
  def ivfCandidatesWithCentroids(emb: DataFrame, idCol: String, vecCol: String,
                                 queryPred: Column, cs: Seq[Seq[Double]],
                                 nprobe: Int): DataFrame = {
    require(cs.nonEmpty, "centroid list must be non-empty")
    import graft.functions.VectorExprs.nearestCentroids
    val corpus = assignNearest(emb, idCol, vecCol, cs)
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      .withColumn("bucket", explode(nearestCentroids(col("q_vec"), cs, nprobe)))
    observeCandidates(
      queries.join(corpus, Seq("bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("q_vec"), col("n_id"), col("n_vec")))
  }

  /** IVF top-k under a caller-supplied quantizer ([[ivfTopK]]'s shape,
    * training replaced by `cs`): with PINNED centroids every stage —
    * assignment, probe selection, cosine, page order — is deterministic
    * replayable arithmetic, so the result sits under the exact-oracle
    * hash gate (catalog `similarity_ivf_pinned`), pinning the IVF
    * serve SEMANTICS the way `pipeline_quality_classifier_score` pins
    * classifier serving: the k-means quality question stays with the
    * recall tests, the probe/rerank machinery is hash-checked.
    */
  def ivfTopKWithCentroids(emb: DataFrame, idCol: String, vecCol: String,
                           queryPred: Column, k: Int, cs: Seq[Seq[Double]],
                           nprobe: Int): DataFrame =
    rerankTopK(ivfCandidatesWithCentroids(emb, idCol, vecCol, queryPred, cs, nprobe), k)

  /** Stable PREFIX of the observation emitted by both IVF candidate paths
    * (fused and index-served): `examined` = candidate pairs entering exact
    * re-rank. Probe selectivity is `examined / (|Q|·(N-1))` — observable
    * in production via a `QueryExecutionListener` (the metric rides the
    * normal codegen'd plan; no accumulator plumbing in the hot path).
    *
    * Each call suffixes a process-unique counter: Spark rejects duplicate
    * observed-metric names within one plan, so a fixed name would break
    * any query composing two IVF stages (union/join of two top-k results).
    * Listeners match on the prefix (`name == prefix || name.startsWith
    * (prefix + "_")`) and must SUM all matched rows — a composed plan
    * emits one row per stage, so keeping any single row is ambiguous
    * exactly in the composed case (SparkSpec.observedExamined is the
    * reference consumer).
    */
  val candidatesMetric = "graft_ivf_candidates"

  /** Observed-metric prefix for the MMR greedy tail's candidate volume
    * (same prefix+suffix listener convention as [[candidatesMetric]]):
    * `examined` = rows entering [[mmrRerank]]'s per-query O(c²) kernel,
    * so production can see candidate volume vs nprobe/candidates without
    * touching the hot path.
    */
  val mmrCandidatesMetric = "graft_mmr_candidates"

  private val observeSeq = new java.util.concurrent.atomic.AtomicLong

  private def observeCandidates(cand: DataFrame): DataFrame =
    cand.observe(s"${candidatesMetric}_${observeSeq.incrementAndGet()}",
      count(lit(1)).as("examined"))

  /** Build the IVF index ONCE and persist it — the serving shape for a
    * real ANN deployment (a 100 TB corpus is indexed by a batch job;
    * query batches then probe WITHOUT re-training):
    *   `indexDir/centroids`    nlist rows (bucket, centroid array<double>);
    *   `indexDir/assignments`  the corpus keyed (n_id, n_vec),
    *                           Hive-partitioned by bucket so a probe reads
    *                           only its buckets' files.
    */
  def buildIvfIndex(emb: DataFrame, idCol: String, vecCol: String,
                    indexDir: String, nlist: Int = 16, seed: Long = 42L): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val refined = trainCentroids(emb, idCol, vecCol, nlist, seed)
    refined.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("bucket", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    writeIvfAssignments(emb, idCol, vecCol, refined.toSeq.map(_.toSeq), indexDir, "overwrite")
  }

  /** Incremental maintenance for a [[buildIvfIndex]] artifact: assign
    * newly accepted vectors to their nearest STORED centroid and append
    * them under the same bucket partitions — the embedding side of the
    * ingest cycle (probe → accept → append; the text twin is
    * `Dedup.appendToLshIndex`). The quantizer is deliberately NOT
    * retrained: frozen centroids keep every existing assignment valid
    * and the append a pure map-side write. The cost is quantizer drift —
    * appended data is bucketed by the ORIGINAL corpus's geometry, so
    * partial-probe recall for vectors far from any trained centroid
    * degrades as the distribution moves; exact mode (`nprobe = nlist`)
    * is unaffected. Rebuild when the appended fraction is large enough
    * that drift matters.
    */
  def appendToIvfIndex(accepted: DataFrame, idCol: String, vecCol: String,
                       indexDir: String): Unit =
    writeIvfAssignments(accepted, idCol, vecCol,
      ivfIndexCentroids(accepted.sparkSession, indexDir), indexDir, "append")

  /** Each vector's 1-nearest centroid under `cs`: the (n_id, n_vec,
    * bucket) corpus side of every IVF probe, as [[buildIvfIndex]] stores
    * it. */
  private[graft] def assignNearest(emb: DataFrame, idCol: String, vecCol: String,
                                   cs: Seq[Seq[Double]]): DataFrame = {
    import graft.functions.VectorExprs.nearestCentroids
    emb.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .withColumn("bucket", element_at(nearestCentroids(col("n_vec"), cs, 1), 1))
  }

  /** The one writer of an IVF index's assignments, Hive-partitioned by
    * bucket: `overwrite` builds, `append` extends under frozen centroids. */
  private def writeIvfAssignments(emb: DataFrame, idCol: String, vecCol: String,
                                  cs: Seq[Seq[Double]], indexDir: String,
                                  mode: String): Unit =
    assignNearest(emb, idCol, vecCol, cs)
      .write.mode(mode).partitionBy("bucket").parquet(s"$indexDir/assignments")

  /** The stored coarse quantizer of a [[buildIvfIndex]] artifact in bucket
    * order — sketch-sized, collected once per call. */
  private[graft] def ivfIndexCentroids(spark: org.apache.spark.sql.SparkSession,
                                       indexDir: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$indexDir/centroids")
      .orderBy(col("bucket")).select(col("centroid"))
      .collect().map(_.getSeq[Double](0): Seq[Double]).toSeq

  /** The stored corpus of a [[buildIvfIndex]] artifact: (n_id, n_vec,
    * bucket), bucket read from the partition directories. */
  private[graft] def ivfIndexAssignments(spark: org.apache.spark.sql.SparkSession,
                                         indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/assignments")

  /** Probe-only IVF top-k against a persisted `buildIvfIndex` artifact: no
    * Lloyd pass, no assignment pass — the executed plan is two parquet
    * reads (centroids collected once per query batch, sketch-sized;
    * assignments PARTITION-PRUNED to the probed buckets) plus the exact
    * re-rank. The probed bucket set (≤ |Q|·nprobe ints, sketch-sized by
    * contract — query batches are small relative to the corpus) is
    * collected so the pruning filter is static at planning time, visible
    * as `PartitionFilters` in the scan.
    */
  def ivfTopKFromIndex(queries: DataFrame, idCol: String, vecCol: String,
                       indexDir: String, k: Int, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    import graft.functions.VectorExprs.nearestCentroids
    val cs = ivfIndexCentroids(spark, indexDir)
    // materialize the query batch ONCE (sketch-sized by contract): the
    // batch feeds both the probed-bucket collection and the candidate
    // join, and leaving it lazy would re-execute the whole query-side
    // subplan (often a filter over the full corpus) for each. The
    // guarded collect makes the contract fail FAST: an oversized batch
    // (say the whole corpus passed as "queries") raises a named error
    // instead of silently collecting corpus-sized vectors onto the driver
    val qBatch = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val qRows = org.apache.spark.sql.graftshim.Internals.collectCapped(qBatch, MaxQueryBatch)(
      s"ivfTopKFromIndex query batch exceeds MaxQueryBatch=$MaxQueryBatch rows — " +
        "query batches are sketch-sized by contract; split the batch")
    val qLocal = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qBatch.schema)
    val q = qLocal
      .withColumn("bucket", explode(nearestCentroids(col("q_vec"), cs, nprobe)))
    val probed = q.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    val corpus = ivfIndexAssignments(spark, indexDir)
      .filter(col("bucket").isin(probed.map(Int.box).toIndexedSeq: _*))
    val cand = observeCandidates(
      q.join(corpus, Seq("bucket"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("q_vec"), col("n_id"), col("n_vec")))
    rerankTopK(cand, k)
  }

  /** APPROXIMATE sub-quadratic embedding near-dup pairs — the embedding
    * sibling of `Dedup.minHashLSH`: candidates are pairs sharing at least
    * one of their `nprobe` nearest IVF coarse buckets (multi-probe
    * assignment absorbs boundary splits), and every candidate is verified
    * with the EXACT cosine, so the output is always a SUBSET of the exact
    * pair set (zero false positives — pinned in tests). Unlike the text
    * LSH path, recall is NOT 1.0 at moderate thresholds: fixture pairs at
    * cosine ≈ 0.45 (θ ≈ 60° in 64-dim) straddle coarse buckets, measured
    * 13/14 at (auto nlist=23, nprobe=4) on the sf0.01 fixture — while the
    * high-threshold regime the operator is FOR measures ≥ 0.95 recall at
    * cosine 0.9 on a planted corpus (pinned in ExtensionOpsSpec). The
    * weak-threshold shortfall is inherent to bucketing at weak
    * similarity — which is exactly why `cosineDupPairs` (exact, N²/2 by
    * contract) remains the exactness path and this is the scale path for
    * the high-threshold near-dup regime typical of training-data dedup,
    * where co-bucketing probability is far higher. Missing-pair risk
    * falls with `nprobe`; false positives are impossible.
    *
    * Scale: pair cost is ≈ N²·nprobe²/nlist instead of N²/2 — size
    * `nlist ∝ √N` (standard IVF practice) for O(N^1.5) total. The only
    * shuffle is nprobe·N (bucket, id, vec) rows into bucket-local verify
    * tasks; the candidate PAIR set never crosses the wire (see
    * [[bucketVerifiedPairs]] — measured 15× over the candidate-join form
    * at the factor-30 scale check).
    *
    * Output contract: `d1`/`d2` are LONG whatever the input id width —
    * the bucket-local kernel routes on a typed long Dataset, so int ids
    * come back widened (plan joins against the source frame need the
    * implicit upcast) and non-integral ids throw at plan time rather
    * than silently collapsing.
    */
  def ivfDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                  threshold: Double, nlist: Int = 16, nprobe: Int = 2,
                  seed: Long = 42L): DataFrame = {
    // train-then-delegate (the mmrTopKIvf convention): the bucketing and
    // verify machinery lives in ONE place, so the pinned entry point
    // below provably runs the trained path's exact stages
    val cs: Seq[Seq[Double]] =
      trainCentroids(emb, idCol, vecCol, nlist, seed).toSeq.map(_.toSeq)
    ivfDupPairsWithCentroids(emb, idCol, vecCol, threshold, cs, nprobe)
  }

  /** [[ivfDupPairs]] under a CALLER-SUPPLIED coarse quantizer — the
    * bucketed near-dup pass with training factored out. With PINNED
    * centroids the whole pair pipeline is deterministic replayable
    * arithmetic: multi-probe assignment is squared-L2 argmin over a
    * fixed vector list (ascending (distance, index)), candidates are
    * probe-set intersections, and the verify is the shared rounded
    * cosine — so the output sits under the exact-oracle hash gate
    * (catalog `dedup_embedding_ivf_pinned`, and the components twin
    * `dedup_groups_embedding_ivf_pinned` through connectedComponentsStar).
    * Bucketing QUALITY (recall vs nprobe) stays with the trained path's
    * recall/zero-FP tests.
    */
  def ivfDupPairsWithCentroids(emb: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, cs: Seq[Seq[Double]],
                               nprobe: Int): DataFrame = {
    require(cs.nonEmpty, "centroid list must be non-empty")
    Dedup.requireIntegralId(emb, idCol, "ivfDupPairsWithCentroids")
    import graft.functions.VectorExprs.nearestCentroids
    bucketVerifiedPairs(
      emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        .withColumn("bucket", explode(nearestCentroids(col("vec"), cs, nprobe))),
      threshold)
  }

  /** Exact verification of shared-bucket candidates, run BUCKET-LOCALLY:
    * (bucket, id, vec) rows shuffle once (nprobe·N rows), each bucket's
    * members pair-loop inside their task with precomputed norms, and only
    * (d1, d2, sim) SURVIVORS cross the wire — the candidate set
    * (≈ N²·nprobe²/nlist rows) never shuffles. The candidate-join
    * formulation this replaces moved that set three times (a distinct plus
    * two vector joins): at the factor-30 scale check that was minutes of
    * shuffle for a compute cost of seconds. Duplicate pairs from shared
    * multi-probe buckets collapse in a distinct over the (tiny) survivor
    * set — sims are deterministic, so duplicates are byte-identical.
    *
    * Memory: one bucket's members per task (runs are contiguous after the
    * in-partition sort) — ≈ nprobe·N/nlist vectors, the standard
    * IVF posture of "a posting list fits a worker". Explicit
    * repartition(parts, bucket) keeps AQE from coalescing the CPU-bound
    * pair loops into one task.
    */
  private def bucketVerifiedPairs(tagged: DataFrame, threshold: Double): DataFrame = {
    val spark = tagged.sparkSession
    import spark.implicits._
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0; val n = a.length
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val parts = spark.sessionState.conf.numShufflePartitions
    tagged.select(col("bucket").cast("int").as("bucket"), col("id"), col("vec"))
      .as[(Int, Long, Array[Float])]
      .repartition(parts, col("bucket"))
      .sortWithinPartitions(col("bucket"))
      .mapPartitions { rows =>
        val base = rows.map { case (b, id, v) => (b, id, v, math.sqrt(dot(v, v))) }
        // stream contiguous same-bucket runs: one bucket in memory at a time
        val runs = new Iterator[Array[(Long, Array[Float], Double)]] {
          private var pending: (Int, Long, Array[Float], Double) = null
          def hasNext: Boolean = pending != null || base.hasNext
          def next(): Array[(Long, Array[Float], Double)] = {
            val first = if (pending != null) pending else base.next()
            pending = null
            val b = first._1
            val buf = scala.collection.mutable.ArrayBuffer(
              (first._2, first._3, first._4))
            var open = true
            while (open && base.hasNext) {
              val r = base.next()
              if (r._1 == b) buf += ((r._2, r._3, r._4))
              else { pending = r; open = false }
            }
            buf.toArray
          }
        }
        runs.flatMap { members =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var i = 0
          while (i < members.length) {
            var j = i + 1
            while (j < members.length) {
              val (id1, v1, n1) = members(i)
              val (id2, v2, n2) = members(j)
              if (id1 != id2) {
                // zero-norm/corrupt vectors: NaN can never meet a finite
                // threshold and round6 would throw — skip (same contract
                // as cosineDupPairs)
                val raw = dot(v1, v2) / (n1 * n2)
                if (java.lang.Double.isFinite(raw)) {
                  val sim = round6(raw)
                  if (sim >= threshold)
                    out += (if (id1 < id2) (id1, id2, sim) else (id2, id1, sim))
                }
              }
              j += 1
            }
            i += 1
          }
          out.iterator
        }
      }
      .toDF("d1", "d2", "sim")
      .distinct()
  }

  /** `ivfDupPairs` served from a persisted `buildIvfIndex` artifact: the
    * stored assignments already carry (id, vector, nearest bucket), and
    * additional probes re-derive from the STORED centroid table — no
    * Lloyd pass or training job at serve time, mirroring
    * `ivfTopKFromIndex`. Identical results to the fused form for the same
    * (data, nlist, seed, nprobe) — parity-tested.
    */
  def ivfDupPairsFromIndex(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String, threshold: Double,
                           nprobe: Int = 2): DataFrame = {
    // the stored-bucket fast path serves FULL probe-1 results; routing 0
    // (the fused form's "no probing" degenerate) there would silently turn
    // "no candidates" into "all probe-1 candidates"
    require(nprobe >= 1, s"ivfDupPairsFromIndex needs nprobe >= 1, got $nprobe")
    import graft.functions.VectorExprs.nearestCentroids
    val assigned = ivfIndexAssignments(spark, indexDir)
      .select(col("n_id").cast("long").as("id"), col("n_vec").as("vec"),
        col("bucket"))
    // probe 1 IS the stored assignment (the Hive partition column, read
    // from directory metadata): recomputing it from the centroid table
    // would be a full redundant pass over the corpus. At nprobe=1 there is
    // therefore NO centroid scan at all — plan-asserted in IvfIndexSpec;
    // probes 2..nprobe need the distance ranking anyway, so one
    // NearestCentroids evaluation derives them (positions 2.. of the probe
    // list — position 1 equals the stored bucket for the index's own
    // centroid table)
    val tagged =
      if (nprobe <= 1) assigned
      else {
        val cs = ivfIndexCentroids(spark, indexDir)
        assigned.select(col("id"), col("vec"),
          explode(concat(array(col("bucket")),
            slice(nearestCentroids(col("vec"), cs, nprobe), 2, nprobe - 1)))
            .as("bucket"))
      }
    bucketVerifiedPairs(tagged, threshold)
  }

  private def round6(x: Double): Double = Det.round6(x)

  /** Embedding-cosine near-duplicate pairs (dedup by embedding): all pairs
    * with cosine ≥ threshold — exact semantics.
    *
    * Triangle-blocked distributed pair loop (see TriangleBlocks): vectors
    * are decoded to primitive float arrays once (norm precomputed per
    * row, not per task), shipped to their bucket's `groups` block-pair
    * tasks, and the pair loop is compiled double arithmetic — no per-pair
    * row conversion, no crossJoin, nothing on the driver. Shuffle cost is
    * N·groups rows; pair cost is the irreducible N²/2 dot products. The
    * sub-quadratic path for looser thresholds is `lshTopK`.
    */
  def cosineDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, groups: Int = 16): DataFrame = {
    Dedup.requireIntegralId(emb, idCol, "cosineDupPairs")
    val spark = emb.sparkSession
    import spark.implicits._
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0; val n = a.length
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val withNorm = emb.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .rdd
      .map { case (id, v) => (id, (v, math.sqrt(dot(v, v)))) }
    val paired = TriangleBlocks.allPairs(withNorm, groups) { (d1, p1, d2, p2) =>
      val (v1, n1) = p1; val (v2, n2) = p2
      // a zero-norm (or corrupt) vector makes the ratio NaN/Inf: it can
      // never meet a finite threshold, and round6's BigDecimal would
      // throw on it — skip before rounding (the expression paths get the
      // same outcome from SQL round/comparison NaN semantics)
      val raw = dot(v1, v2) / (n1 * n2)
      if (!java.lang.Double.isFinite(raw)) None
      else {
        val sim = round6(raw)
        if (sim >= threshold) Some((d1, d2, sim)) else None
      }
    }
    spark.createDataFrame(paired).toDF("d1", "d2", "sim")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by cluster-then-prune — k-means the embeddings into
    * `nlist` clusters, find within-cluster pairs with cosine ≥
    * `threshold`, chain them into duplicate groups, and KEEP exactly one
    * member per group: the one with the LOWEST cosine similarity to its
    * cluster centroid (the paper's keep rule — prefer the least
    * prototypical example, which preserves diversity where min-id would
    * be arbitrary). Singleton groups (nothing similar in-cluster) are
    * kept unchanged.
    *
    * Output: the kept rows — (id LONG, rep_id, n_members, centroid_sim),
    * one per duplicate group, `n_members` counting the group it
    * represents. `anti`-joining the drop set or `semi`-joining the keep
    * set against the corpus is the caller's one-line step.
    *
    * Scale shape: this IS the paper's reason to exist — the quadratic
    * pair scan runs per-cluster, so pair cost is Σ|cluster|²/2 ≈ N²/nlist
    * at balanced sizes, and each cluster's scan is an independent
    * bucket-local task ([[ivfDupPairs]]'s nprobe=1 kernel: candidates
    * never shuffle, only surviving pairs do). Components come from the
    * same star-contraction loop as every other dedup family; the keep
    * rule is one broadcast join (nlist centroid rows) plus one
    * min_by aggregation — no window sort. Sizing regimes: nlist = √N
    * (`autoNlist`, the catalog row's choice) keeps total pair cost
    * ~N^1.5 with cluster sizes √N; a fixed cluster-size budget
    * (nlist = N/B) makes the scan fully linear at ~N·B/2 dot products —
    * the paper's own recipe of growing k with the corpus.
    *
    * Within-cluster-ONLY semantics are deliberate (and the paper's): a
    * near-dup pair straddling a cluster boundary is missed — that is the
    * documented recall trade the clustering buys. SemDedupSpec pins
    * brute-force parity of the whole flow and the one-kept-per-group
    * contract.
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nlist: Int = 16,
               seed: Long = 42L): DataFrame = {
    Dedup.requireIntegralId(emb, idCol, "semDedup")
    // a null vector belongs to no cluster — excluded by contract (same
    // stance as the weight/score contracts in Sampling), from BOTH the
    // centroid training pass and the dedup itself
    val nonNull = emb.filter(col(vecCol).isNotNull)
    val cs: Seq[Seq[Double]] =
      trainCentroids(nonNull, idCol, vecCol, nlist, seed).toSeq.map(_.toSeq)
    semDedupWithCentroids(emb, idCol, vecCol, threshold, cs)
  }

  /** [[semDedup]] under a CALLER-SUPPLIED quantizer (k-means replaced by
    * `cs`) — the oracle-replayable form: with pinned centroids every
    * stage is deterministic replayable arithmetic — squared-L2 argmin
    * assignment (ascending (distance, index), the [[ivfTopKWithCentroids]]
    * precedent), within-cluster rounded-cosine pairs at `threshold`,
    * star-contraction connected components ([[Dedup.connectedComponentsStar]],
    * min-id representatives), and the min-(centroid_sim, id) keep
    * rule. Catalog `dedup_semantic_pinned` replays the whole
    * cluster → pair → chain → prune flow in DuckDB (recursive-CTE
    * components, the `dedup_groups` oracle); clustering QUALITY stays
    * with [[semDedup]]'s brute-parity contracts in SemDedupSpec.
    */
  def semDedupWithCentroids(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, cs: Seq[Seq[Double]]): DataFrame = {
    Dedup.requireIntegralId(emb, idCol, "semDedupWithCentroids")
    require(cs.nonEmpty, "centroid list must be non-empty")
    val spark = emb.sparkSession
    import graft.functions.VectorExprs.nearestCentroids
    val nonNull = emb.filter(col(vecCol).isNotNull)
    // pinned: three consumers read the assignment (the pair scan, the CC
    // vertex set, and the centroid-similarity join) — unpinned, each
    // re-scans the corpus and re-runs the nearest-centroid kernel
    val tagged = graft.CacheScope.pin(nonNull
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("bucket", nearestCentroids(col("vec"), cs, 1).getItem(0)))
    val pairs = bucketVerifiedPairs(tagged, threshold)
    val comps = Dedup.connectedComponentsStar(
      tagged.select(col("id")), "id", pairs)
    // centroid similarity per member: nlist rows broadcast, cosine as the
    // same sequential-fold arithmetic the pair kernel uses
    import spark.implicits._
    val cdf = broadcast(cs.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("bucket", "cvec"))
    val withSim = tagged.join(cdf, Seq("bucket"))
      .select(col("id"), cosine(col("vec"), col("cvec")).as("centroid_sim"))
    comps.join(withSim, Seq("id"))
      .groupBy(col("rep_id"))
      .agg(
        min_by(struct(col("id"), col("centroid_sim")),
          struct(col("centroid_sim"), col("id"))).as("k"),
        count(lit(1)).as("n_members"))
      .select(col("k.id").as("id"), col("rep_id"),
        col("n_members"), col("k.centroid_sim").as("centroid_sim"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) — the FAISS `ScalarQuantizer` deployment
  * shape: each dimension compresses independently to one byte on a
  * uniform per-dimension grid `[lo_i, hi_i]` learned from a sample, so a
  * 64-dim float vector (256 B) becomes 64 bytes — 4× compression with
  * near-lossless ranking (max per-dim error Δ_i/2, Δ_i = (hi_i−lo_i)/255).
  * The middle rung of the compression ladder: brute force reads raw
  * floats, SQ8 reads a 4×-smaller corpus at full dimensional resolution,
  * PQ reads a 32×-smaller corpus at subspace resolution (ref capability:
  * approximate similarity sketches; the reference has no embedding
  * search surface).
  *
  * The whole serve path is REUSED, not re-implemented: an SQ8 grid IS a
  * product quantizer with `m = dim` one-dimensional subspaces and
  * `ksub = levels` uniform centroids `lo_s + j·Δ_s`, so training emits a
  * [[Pq.Codebooks]] and encoding/search/persistence ride the audited PQ
  * machinery — [[Pq.adcTopK]]'s partition kernel (2·dim lookups per row,
  * bounded page aggregate, `partitions · |Q| · k` shuffle), the
  * `codebooks`/`codes` parquet layout, [[Pq.loadCodebooks]] serving. The
  * only SQ-specific code is the min/max trainer and an O(1)-per-dim
  * uniform rounding encoder (a nearest-centroid scan would be O(levels)
  * per dim for the same answer).
  *
  * Scale note: the ADC lookup tables are `dim·levels` doubles PER QUERY
  * (128 KB at dim 64) versus PQ's `m·ksub` (1 KB), so the query-batch cap
  * ([[Pq.queryCap]], derived from the codebook) is 4 096 here, 24× lower
  * than PQ's; corpus-side cost is what SQ8 optimizes and that is strictly
  * smaller (4× less scan bandwidth than brute force).
  *
  * Like every approximate family here, exactness is the brute-force
  * sibling's job ([[Similarity.cosineTopK]]); SQ rows are `no_oracle`
  * with reconstruction-bound / recall / determinism / full-refine-
  * exactness contracts pinned in SqSpec.
  */
object Sq {

  /** Train the per-dimension uniform grid: sample min/max per dimension
    * over the deterministic bottom-k-by-hash sample (the PQ training
    * sample contract — same seed ⇒ same grid under any partitioning),
    * emitted as a [[Pq.Codebooks]] with `m = dim`, `dsub = 1`,
    * `ksub = levels`, `centroids(s)(j) = lo_s + j·Δ_s`. Out-of-sample
    * values clamp to the grid ends at encode time (the standard
    * train-range trade: the sample bounds the grid, outliers saturate).
    * A constant dimension (hi = lo) degenerates to a single useful level
    * — every code 0, reconstruction exactly lo.
    */
  def train(emb: DataFrame, idCol: String, vecCol: String,
            levels: Int = 256, seed: Long = 42L,
            sampleSize: Int = 4096): Pq.Codebooks = {
    require(levels > 1 && levels <= 256,
      s"levels must be in [2, 256] to pack one byte, got $levels")
    val sample = Pq.collectSample(emb, idCol, vecCol, seed, sampleSize)
    val dim = sample.head.length
    val lo = Array.fill(dim)(Double.MaxValue)
    val hi = Array.fill(dim)(Double.MinValue)
    sample.foreach { v =>
      var i = 0
      while (i < dim) {
        if (v(i) < lo(i)) lo(i) = v(i)
        if (v(i) > hi(i)) hi(i) = v(i)
        i += 1
      }
    }
    val cents = Array.tabulate(dim) { s =>
      val delta = (hi(s) - lo(s)) / (levels - 1)
      Array.tabulate(levels)(j => Array(lo(s) + j * delta))
    }
    Pq.Codebooks(m = dim, dsub = 1, ksub = levels, centroids = cents)
  }

  /** Per-dimension grid step and origin recovered from the codebooks —
    * `(lo_s, Δ_s)` per dimension; Δ is exactly `centroid(1) − centroid(0)`
    * because [[train]] lays the grid out uniformly.
    */
  private def gridOf(cb: Pq.Codebooks): (Array[Double], Array[Double]) = {
    require(cb.dsub == 1, s"not an SQ grid: dsub=${cb.dsub}")
    val lo = Array.tabulate(cb.m)(s => cb.centroids(s)(0)(0))
    val delta = Array.tabulate(cb.m) { s =>
      if (cb.centroids(s).length > 1) cb.centroids(s)(1)(0) - cb.centroids(s)(0)(0)
      else 0.0
    }
    (lo, delta)
  }

  /** Encode every vector to `dim` one-byte codes by uniform rounding —
    * `clamp(round((v_s − lo_s)/Δ_s), 0, levels−1)` per dimension, O(1)
    * per dim where a nearest-centroid scan would be O(levels). One
    * map-side pass; output (id, code binary), the 4× compression step.
    * Null / wrong-length vectors encode to null (the PQ encoder
    * contract).
    */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             cb: Pq.Codebooks): DataFrame = {
    val (lo, delta) = gridOf(cb)
    val levels = cb.ksub
    val enc = udf { (v: Seq[Float]) =>
      if (v == null || v.length != cb.m) null
      else {
        val code = new Array[Byte](cb.m)
        var s = 0
        while (s < cb.m) {
          val j =
            if (delta(s) <= 0.0) 0
            else {
              val r = math.rint((v(s) - lo(s)) / delta(s)).toInt
              if (r < 0) 0 else if (r > levels - 1) levels - 1 else r
            }
          code(s) = j.toByte
          s += 1
        }
        code
      }
    }
    emb.select(col(idCol), enc(col(vecCol)).as("code"))
  }

  /** SQ top-k: train, then the pinned serve — [[train]]'s per-dimension
    * grid, its codes served by the PQ tail ([[Pq.pqTopK]]'s deployment
    * shape on the uniform grid): `refine > 1` shortlists `refine·k` rows
    * from the compressed scan and re-ranks them with the exact cosine
    * over the original vectors. Output matches the other top-k paths:
    * (q_id, n_id, sim|asim, rk).
    */
  def sqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int, levels: Int = 256,
             seed: Long = 42L, refine: Int = 1): DataFrame = {
    Pq.requireServable(emb, idCol, refine, "sqTopK")
    val cb = train(emb, idCol, vecCol, levels, seed)
    Pq.serveCodes(emb, idCol, vecCol, queryPred, k, cb,
      encode(emb, idCol, vecCol, cb), None, refine)
  }

  /** The uniform grid `centroid(s)(j) = lo + j·delta` for every dimension
    * — [[train]]'s layout with the per-dim sample min/max replaced by one
    * caller-supplied (lo, delta) pair, so a pinned grid is constructible
    * without a training pass.
    */
  def gridCodebooks(dim: Int, lo: Double, delta: Double,
                    levels: Int): Pq.Codebooks = {
    require(dim > 0, s"dim must be > 0, got $dim")
    require(levels > 1 && levels <= 256,
      s"levels must be in [2, 256] to pack one byte, got $levels")
    require(delta > 0.0, s"grid step must be > 0, got $delta")
    Pq.Codebooks(m = dim, dsub = 1, ksub = levels,
      centroids = Array.tabulate(dim)(_ =>
        Array.tabulate(levels)(j => Array(lo + j * delta))))
  }

  /** [[sqTopK]] under a CALLER-SUPPLIED uniform grid (training replaced
    * by (lo, delta, levels)) — the oracle-replayable form: with a pinned
    * grid every stage is deterministic arithmetic a SQL engine can replay
    * — encoding is `clamp(rint((v−lo)/Δ))` (round-HALF-EVEN, emulated
    * exactly in the oracle), reconstructions are exact grid points
    * `lo + j·Δ`, and the ADC cosine over them is the same sequential-fold
    * sum the whole similarity family's oracles share. Catalog
    * `similarity_sq_pinned` replays encode → reconstruct → score → page
    * in DuckDB (the `similarity_bq_pinned` precedent); grid QUALITY
    * stays with [[train]] and SqSpec's reconstruction-bound contracts.
    */
  def sqTopKWithGrid(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int, dim: Int, lo: Double,
                     delta: Double, levels: Int, refine: Int = 1): DataFrame = {
    Pq.requireServable(emb, idCol, refine, "sqTopKWithGrid")
    val cb = gridCodebooks(dim, lo, delta, levels)
    Pq.serveCodes(emb, idCol, vecCol, queryPred, k, cb,
      encode(emb, idCol, vecCol, cb), None, refine)
  }

  /** Persist grid + codes in the EXACT [[Pq.buildPqIndex]] layout
    * (`indexDir/codebooks` = `dim·levels` rows, sketch-sized;
    * `indexDir/codes` = the 4×-compressed corpus) — an SQ index IS a PQ
    * index, so [[Pq.pqTopKFromIndex]] serves it unchanged and the REPL /
    * deployment tooling needs no second artifact format.
    */
  def buildSqIndex(emb: DataFrame, idCol: String, vecCol: String,
                   indexDir: String, levels: Int = 256,
                   seed: Long = 42L): Pq.Codebooks = {
    Dedup.requireIntegralId(emb, idCol, "buildSqIndex")
    val cb = train(emb, idCol, vecCol, levels, seed)
    Pq.writeCodebooks(emb.sparkSession, cb, indexDir)
    encode(emb, idCol, vecCol, cb)
      .select(col(idCol).cast("long").as("n_id"), col("code"))
      .write.mode("overwrite").parquet(s"$indexDir/codes")
    cb
  }

  /** Serve ADC top-k from a persisted SQ index: one sketch-sized grid
    * read plus one scan of the 4×-compressed code table; original
    * vectors never touched. The PQ serve path itself
    * ([[Pq.pqTopKFromIndex]]): the artifact layouts are identical, and
    * the query-batch cap follows the stored grid's `dim·levels`.
    */
  def sqTopKFromIndex(queries: DataFrame, idCol: String, vecCol: String,
                      indexDir: String, k: Int): DataFrame =
    Pq.pqTopKFromIndex(queries, idCol, vecCol, indexDir, k)
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NextKPage

/** Product quantization (Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", IEEE PAMI 2011) — the ANN path that makes a
  * 100 TB embedding corpus SERVABLE FROM MEMORY: split every vector into
  * `m` subvectors, learn a tiny k-means codebook per subspace, and store
  * each vector as `m` one-byte codes. A 64-dim float vector (256 B)
  * becomes an 8-byte code — 32× compression — and the asymmetric-distance
  * search (ADC) scores a row with `m` table lookups instead of `dim`
  * multiplies, with the UNCOMPRESSED query on the lookup side so
  * quantization error applies to the corpus only (the paper's ADC
  * estimator). North-star extension next to [[Similarity]]'s IVF family
  * (ref capability: approximate similarity sketches; the reference has no
  * embedding search surface).
  *
  * Scale shape: training samples a deterministic sketch-sized subset to
  * the driver (the k-means|| candidate-cap precedent); codebooks are
  * `m·ksub·dsub` doubles — broadcast-sized by construction; encoding is
  * one map-side pass; search builds each query's `m × ksub` lookup table
  * ONCE PER PARTITION (not per row) in a partition kernel, folds per-row
  * scores into the bounded [[graft.functions.NextKPageAgg]] top-k buffer,
  * and only `partitions · |Q| · k` rows ever shuffle. Nothing anywhere is
  * corpus-sized on the driver or quadratic in the corpus.
  *
  * Like every approximate family here, exactness is the sibling's job
  * ([[Similarity.cosineTopK]]); PQ rows are `no_oracle` with recall /
  * determinism / parity contracts pinned in PqSpec.
  */
object Pq {

  /** Per-subspace codebooks: `centroids(s)(j)` is the `dsub`-dim centroid
    * for code `j` of subspace `s`. `ksub` ≤ 256 so codes pack one byte.
    */
  case class Codebooks(m: Int, dsub: Int, ksub: Int,
                       centroids: Array[Array[Array[Double]]]) {
    require(m > 0 && dsub > 0 && ksub > 1 && ksub <= 256,
      s"bad codebook geometry m=$m dsub=$dsub ksub=$ksub")
    def dim: Int = m * dsub
  }

  /** Train PQ codebooks on a deterministic sketch-sized sample: the
    * `sampleSize` rows with the smallest `xxhash64(id, seed)` (the
    * bottom-k-by-hash sampling contract — deterministic under any
    * partitioning), k-means++ init + Lloyd to `maxIters` per subspace on
    * the driver. Driver cost is O(sampleSize · dim · ksub · iters) —
    * sample-sized by contract, never corpus-sized.
    *
    * Empty-cluster rule: a centroid that captures no points keeps its
    * previous position (the standard frozen-centroid fallback) — with
    * ksub ≪ sampleSize this is rare and harmless for an encoder.
    */
  def train(emb: DataFrame, idCol: String, vecCol: String,
            m: Int = 8, ksub: Int = 16, seed: Long = 42L,
            sampleSize: Int = 4096, maxIters: Int = 12): Codebooks = {
    require(m > 0 && ksub > 1 && ksub <= 256, s"bad m=$m / ksub=$ksub")
    val sample = collectSample(emb, idCol, vecCol, seed, sampleSize)
    trainOnSample(sample, m, ksub, seed, maxIters)
  }

  /** The deterministic bottom-k-by-hash training sample as driver-local
    * double vectors (sketch-sized by contract).
    */
  private[operators] def collectSample(emb: DataFrame, idCol: String, vecCol: String,
                                       seed: Long, sampleSize: Int): Array[Array[Double]] = {
    val sample = emb
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
      .limit(sampleSize)
      .collect() // sketch-sized by contract (sampleSize rows)
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(sample.nonEmpty, "Pq.train: empty corpus")
    val dim = sample.head.length
    require(sample.forall(_.length == dim), "Pq.train: ragged vector lengths")
    sample
  }

  private def trainOnSample(sample: Array[Array[Double]], m: Int, ksub: Int,
                            seed: Long, maxIters: Int): Codebooks = {
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val cents = Array.tabulate(m) { s =>
      val pts = sample.map { v =>
        val a = new Array[Double](dsub)
        var i = 0
        while (i < dsub) { a(i) = v(s * dsub + i); i += 1 }
        a
      }
      lloyd(pts, math.min(ksub, pts.length), new scala.util.Random(seed + s), maxIters)
    }
    Codebooks(m, dsub, ksub, cents)
  }

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
    d
  }

  /** Seeded k-means++ init + Lloyd on a driver-local sample; ties in
    * assignment break to the lowest code (deterministic).
    */
  private def lloyd(pts: Array[Array[Double]], k: Int,
                    rnd: scala.util.Random, maxIters: Int): Array[Array[Double]] = {
    val cs = new Array[Array[Double]](k)
    cs(0) = pts(rnd.nextInt(pts.length)).clone()
    val d2 = pts.map(l2(_, cs(0)))
    var c = 1
    while (c < k) {
      val tot = d2.sum
      val pick =
        if (tot <= 0) pts(rnd.nextInt(pts.length)) // degenerate: all points equal
        else {
          var r = rnd.nextDouble() * tot
          var i = 0
          while (i < pts.length - 1 && r >= d2(i)) { r -= d2(i); i += 1 }
          pts(i)
        }
      cs(c) = pick.clone()
      var i = 0
      while (i < pts.length) { d2(i) = math.min(d2(i), l2(pts(i), cs(c))); i += 1 }
      c += 1
    }
    var it = 0
    var moved = true
    while (it < maxIters && moved) {
      val sums = Array.fill(k)(new Array[Double](cs(0).length))
      val cnts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0
        var bd = l2(p, cs(0))
        var j = 1
        while (j < k) {
          val d = l2(p, cs(j))
          if (d < bd) { bd = d; best = j }
          j += 1
        }
        cnts(best) += 1
        val s = sums(best)
        var i = 0
        while (i < p.length) { s(i) += p(i); i += 1 }
      }
      moved = false
      var j = 0
      while (j < k) {
        if (cnts(j) > 0) {
          val nc = sums(j).map(_ / cnts(j))
          if (l2(nc, cs(j)) > 1e-12) moved = true
          cs(j) = nc
        } // else: frozen-centroid fallback
        j += 1
      }
      it += 1
    }
    cs
  }

  // ---- OPQ: optimized product quantization (Ge/He/Ke/Sun, CVPR 2013,
  // "Optimized Product Quantization for Approximate Nearest Neighbor
  // Search" — the non-parametric alternating solution). Plain PQ
  // quantizes the RAW coordinate split, so correlated/unbalanced
  // dimensions waste codebook capacity; OPQ learns an orthogonal
  // rotation R jointly with the codebooks by alternating (1) PQ training
  // on X·R with (2) the orthogonal-Procrustes update R = U·Vᵀ from
  // SVD(Xᵀ·Y), Y the reconstructions — each step is non-increasing in
  // ‖X·R − Y‖², so starting from R = I the final sample quantization
  // error never exceeds plain PQ's (pinned in PqSpec). Everything runs
  // on the SAME sketch-sized driver sample PQ training already collects;
  // at serve time the corpus rotates inside the encoder UDF (map-side)
  // and the query batch rotates driver-side — the ADC kernel, page
  // aggregate, and shuffle shape are untouched. ---------------------------

  /** One-sided (Hestenes) Jacobi SVD of a square matrix, driver-side:
    * returns (U, σ, V) with M = U·diag(σ)·Vᵀ, U/V stored COLUMN-major
    * (u(j) is column j). dim² is tiny (embedding dims) — cost is
    * irrelevant; what matters is determinism and no external linalg
    * dependency.
    */
  private def svdSquare(m0: Array[Array[Double]], sweeps: Int = 60)
      : (Array[Array[Double]], Array[Double], Array[Array[Double]]) = {
    val d = m0.length
    val a = Array.tabulate(d)(j => Array.tabulate(d)(i => m0(i)(j))) // columns
    val v = Array.tabulate(d)(j => Array.tabulate(d)(i => if (i == j) 1.0 else 0.0))
    var sweep = 0
    var converged = false
    while (sweep < sweeps && !converged) {
      converged = true
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          var app = 0.0; var aqq = 0.0; var apq = 0.0
          var i = 0
          while (i < d) {
            app += a(p)(i) * a(p)(i); aqq += a(q)(i) * a(q)(i)
            apq += a(p)(i) * a(q)(i); i += 1
          }
          if (math.abs(apq) > 1e-14 * math.sqrt(app * aqq) + 1e-300) {
            converged = false
            val tau = (aqq - app) / (2.0 * apq)
            // τ = 0 (equal column norms) still needs the 45° rotation —
            // signum(0)/… would stall the sweep on that pair forever
            val t =
              if (tau == 0.0) 1.0
              else math.signum(tau) / (math.abs(tau) + math.sqrt(1.0 + tau * tau))
            val c = 1.0 / math.sqrt(1.0 + t * t)
            val s = t * c
            i = 0
            while (i < d) {
              val tp = a(p)(i); val tq = a(q)(i)
              a(p)(i) = c * tp - s * tq; a(q)(i) = s * tp + c * tq
              val vp = v(p)(i); val vq = v(q)(i)
              v(p)(i) = c * vp - s * vq; v(q)(i) = s * vp + c * vq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val sig = a.map(c => math.sqrt(c.map(x => x * x).sum))
    val u = Array.tabulate(d) { j =>
      if (sig(j) > 1e-12) a(j).map(_ / sig(j)) else a(j) // degenerate col: unused
    }
    (u, sig, v)
  }

  /** Train the OPQ (rotation, codebooks) pair by alternating minimization
    * on the deterministic driver sample. Returns (codebooks over the
    * ROTATED space, R with v' = v·R), taken from the iteration with the
    * LOWEST sample reconstruction error — iteration 0 is R = I, i.e.
    * exactly plain [[train]], so the returned pair NEVER quantizes the
    * sample worse than plain PQ (the alternation itself is only
    * heuristically monotone because Lloyd retrains from a fresh seeded
    * init each round; tracking the argmin makes non-degradation a
    * guarantee, pinned in PqSpec). A rank-deficient Procrustes system
    * (σ_min ≈ 0 — constant/degenerate sample) keeps the previous R for
    * that iteration, so R is always exactly a product of Jacobi
    * rotations: orthogonal by construction.
    */
  def trainOpq(emb: DataFrame, idCol: String, vecCol: String,
               m: Int = 8, ksub: Int = 16, seed: Long = 42L,
               sampleSize: Int = 4096, maxIters: Int = 12,
               opqIters: Int = 8): (Codebooks, Array[Array[Double]]) = {
    require(m > 0 && ksub > 1 && ksub <= 256, s"bad m=$m / ksub=$ksub")
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    val x = collectSample(emb, idCol, vecCol, seed, sampleSize)
    val d = x.head.length
    var r = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var best: (Codebooks, Array[Array[Double]], Double) = null
    var it = 0
    while (it < opqIters) {
      val xr = x.map(rotateVec(_, r))
      val cb = trainOnSample(xr, m, ksub, seed, maxIters)
      // reconstructions of the rotated sample under the fresh codebooks
      val y = xr.map { v =>
        val code = encodeVec(cb, v)
        val rec = new Array[Double](d)
        var s = 0
        while (s < cb.m) {
          val c = cb.centroids(s)(code(s) & 0xff)
          var i = 0
          while (i < cb.dsub) { rec(s * cb.dsub + i) = c(i); i += 1 }
          s += 1
        }
        rec
      }
      var err = 0.0
      var n = 0
      while (n < x.length) { err += l2(xr(n), y(n)); n += 1 }
      if (best == null || err < best._3) best = (cb, r, err)
      if (it < opqIters - 1) {
        // Procrustes: R = U·Vᵀ from SVD(Xᵀ·Y) maximizes tr(Rᵀ·Xᵀ·Y),
        // i.e. minimizes ‖X·R − Y‖² over orthogonal R
        val mMat = Array.tabulate(d, d) { (i, j) =>
          var t = 0.0
          var n2 = 0
          while (n2 < x.length) { t += x(n2)(i) * y(n2)(j); n2 += 1 }
          t
        }
        val (u, sig, v) = svdSquare(mMat)
        if (sig.min > 1e-10 * math.max(sig.max, 1e-300))
          r = Array.tabulate(d, d)((i, j) => {
            var t = 0.0
            var k2 = 0
            while (k2 < d) { t += u(k2)(i) * v(k2)(j); k2 += 1 }
            t
          })
      }
      it += 1
    }
    (best._1, best._2)
  }

  /** OPQ top-k: train, then the pinned serve — [[trainOpq]]'s (codebooks,
    * rotation) pair handed to [[pqTopKWithCodebooks]]. Corpus rows rotate
    * inside the (map-side) encoder, the query batch rotates driver-side,
    * and because R is an isometry the ADC score still estimates the
    * ORIGINAL cosine (the refine re-rank uses the untouched original
    * vectors either way).
    */
  def pqTopKOpq(emb: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, k: Int, m: Int = 8, ksub: Int = 16,
                seed: Long = 42L, refine: Int = 1,
                opqIters: Int = 8): DataFrame = {
    requireServable(emb, idCol, refine, "pqTopKOpq")
    val (cb, r) = trainOpq(emb, idCol, vecCol, m, ksub, seed, opqIters = opqIters)
    pqTopKWithCodebooks(emb, idCol, vecCol, queryPred, k, cb, Some(r), refine)
  }

  /** Sample mean squared reconstruction error of (codebooks, rotation) —
    * the OPQ objective ‖X·R − Y‖²/n, exposed so tests can pin the
    * alternation's non-degradation vs plain PQ.
    */
  private[graft] def sampleMse(emb: DataFrame, idCol: String, vecCol: String,
                               cb: Codebooks,
                               rotation: Option[Array[Array[Double]]],
                               seed: Long = 42L,
                               sampleSize: Int = 4096): Double = {
    val x = collectSample(emb, idCol, vecCol, seed, sampleSize)
    val errs = x.map { v0 =>
      val v = rotation.map(rotateVec(v0, _)).getOrElse(v0)
      val code = encodeVec(cb, v)
      var e = 0.0
      var s = 0
      while (s < cb.m) {
        val c = cb.centroids(s)(code(s) & 0xff)
        var i = 0
        while (i < cb.dsub) {
          val t = v(s * cb.dsub + i) - c(i); e += t * t; i += 1
        }
        s += 1
      }
      e
    }
    errs.sum / errs.length
  }

  /** Encode every vector to its `m`-byte PQ code (nearest centroid per
    * subspace, ties to the lowest code) — one map-side pass, the 32×
    * compression step. Output: (id, code binary). An OPQ `rotation`
    * (row-vector convention: v' = v·R) is applied before encoding.
    */
  def encode(emb: DataFrame, idCol: String, vecCol: String, cb: Codebooks,
             rotation: Option[Array[Array[Double]]] = None): DataFrame =
    emb.select(col(idCol), encoderUdf(cb, rotation)(col(vecCol)).as("code"))

  /** Nearest-centroid-per-subspace code of one (already-rotated) vector —
    * shared by the encoder UDF and the driver-side OPQ trainer.
    */
  private def encodeVec(cb: Codebooks, v: Array[Double]): Array[Byte] = {
    val code = new Array[Byte](cb.m)
    val sub = new Array[Double](cb.dsub)
    var s = 0
    while (s < cb.m) {
      var i = 0
      while (i < cb.dsub) { sub(i) = v(s * cb.dsub + i); i += 1 }
      var best = 0
      var bd = l2(sub, cb.centroids(s)(0))
      var j = 1
      while (j < cb.centroids(s).length) {
        val d = l2(sub, cb.centroids(s)(j))
        if (d < bd) { bd = d; best = j }
        j += 1
      }
      code(s) = best.toByte
      s += 1
    }
    code
  }

  /** v·R for row-vector v (R orthogonal ⇒ an isometry: dots and norms
    * are preserved, which is why ADC over the rotated space approximates
    * the ORIGINAL cosine).
    */
  private def rotateVec(v: Array[Double], r: Array[Array[Double]]): Array[Double] = {
    val d = v.length
    val out = new Array[Double](d)
    var j = 0
    while (j < d) {
      var t = 0.0
      var i = 0
      while (i < d) { t += v(i) * r(i)(j); i += 1 }
      out(j) = t
      j += 1
    }
    out
  }

  private def encoderUdf(cb: Codebooks,
                         rotation: Option[Array[Array[Double]]] = None)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Seq[Float]) =>
      if (v == null || v.length != cb.dim) null
      else {
        val dv = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { dv(i) = v(i); i += 1 }
        encodeVec(cb, rotation.map(rotateVec(dv, _)).getOrElse(dv))
      }
    }

  /** Collect + validate a sketch-sized query batch (the ivfTopKFromIndex
    * precedent: at most `batchCap` rows, or a loud error) as (q_id, dense
    * double vector) pairs.
    */
  private[operators] def collectQueries(queries: DataFrame, dim: Int,
                                        batchCap: Int): Array[(Long, Array[Double])] = {
    val qRows = org.apache.spark.sql.graftshim.Internals.collectCapped(queries, batchCap)(
      s"PQ query batch exceeds MaxQueryBatch=$batchCap rows — " +
        "query batches are sketch-sized by contract; split the batch")
    val qs = qRows.map { r =>
      val v = r.getSeq[Float](1)
      (r.getLong(0), v.map(_.toDouble).toArray)
    }
    require(qs.forall(_._2.length == dim), s"PQ: query dim != codebook dim $dim")
    qs
  }

  /** Shared per-partition LUT construction: the per-(subspace, code)
    * centroid norms and, per query, the dot-product table plus |q|.
    */
  private def lutsFor(cbl: Codebooks, qsl: Array[(Long, Array[Double])])
      : (Array[Array[Double]], Array[(Long, Array[Array[Double]], Double)]) = {
    val cn2 = Array.tabulate(cbl.m, cbl.ksub) { (s, j) =>
      if (j < cbl.centroids(s).length) {
        val c = cbl.centroids(s)(j)
        var t = 0.0; var i = 0
        while (i < c.length) { t += c(i) * c(i); i += 1 }
        t
      } else 0.0
    }
    val luts = qsl.map { case (qid, q) =>
      val lut = Array.tabulate(cbl.m, cbl.ksub) { (s, j) =>
        if (j < cbl.centroids(s).length) {
          val c = cbl.centroids(s)(j)
          var t = 0.0; var i = 0
          while (i < c.length) { t += q(s * cbl.dsub + i) * c(i); i += 1 }
          t
        } else 0.0
      }
      var qn = 0.0; var i = 0
      while (i < q.length) { qn += q(i) * q(i); i += 1 }
      (qid, lut, math.sqrt(qn))
    }
    (cn2, luts)
  }

  /** 2m-lookup ADC cosine of one (query LUT, code) pair. */
  private def adcSim(cbl: Codebooks, cn2: Array[Array[Double]],
                     lut: Array[Array[Double]], qnorm: Double,
                     code: Array[Byte]): Double = {
    var dot = 0.0
    var rn2 = 0.0
    var s = 0
    while (s < cbl.m) {
      val j = code(s) & 0xff
      dot += lut(s)(j)
      rn2 += cn2(s)(j)
      s += 1
    }
    val denom = qnorm * math.sqrt(rn2)
    if (denom > 0) dot / denom else 0.0
  }

  /** Bounded per-query top-k over scored (q_id, n_id, asim) rows — the
    * rerankTopK shape (page aggregate; partitions·|Q|·k rows shuffle).
    */
  private[operators] def pageTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("q_id"))
      .agg(NextKPage.page(struct(round(col("asim"), 6).as("asim"), col("n_id")),
        Seq(false, true), k).as("pg"))
      .select(col("q_id"), posexplode(col("pg")).as(Seq("pos", "e")))
      .select(col("q_id"), col("e.key.n_id").as("n_id"),
        col("e.key.asim").as("asim"), (col("pos") + 1).cast("long").as("rk"))
      .orderBy(col("q_id"), col("rk"))

  /** ADC approximate cosine top-k over PQ codes (n_id, code) for a
    * (q_id, q_vec) query batch: per query, approximate
    * `cos(q, x) ≈ Σ_s lut_s(code_s(x)) / (|q| · |x̃|)` where
    * `lut_s(j) = q_s · c_{s,j}` and `x̃` is the reconstruction — we fold
    * BOTH the dot product and the reconstruction norm through the same
    * lookup tables (`|x̃|² = Σ_s |c_{s,code_s}|²`), so scoring is `2m`
    * lookups per row, dimension-free. The query side is exact (asymmetric
    * distance — the paper's ADC estimator).
    *
    * Partition kernel, not a per-row UDF, because the LUTs must build
    * once per (query, partition) — `|Q| · m · ksub` doubles — and then
    * amortize over every row in the partition; a scalar expression would
    * recompute them per row, turning the m-lookup score back into a
    * dim-multiply score. Emitted (q_id, n_id, asim) rows fold into the
    * bounded page aggregate map-side, so the shuffle stays
    * `partitions · |Q| · k`.
    *
    * `queries` is collected (sketch-sized by contract, the
    * ivfTopKFromIndex precedent: at most [[queryCap]] rows, or a loud
    * error).
    */
  def adcTopK(codes: DataFrame, cb: Codebooks, queries: DataFrame, k: Int,
              rotation: Option[Array[Array[Double]]] = None): DataFrame = {
    val spark = codes.sparkSession
    // OPQ: queries rotate into the codebook space driver-side (the batch
    // is already collected); R is orthogonal so the ADC estimate still
    // approximates the ORIGINAL cosine
    val qs = collectQueries(queries, cb.dim, queryCap(cb))
      .map { case (qid, q) => (qid, rotation.map(rotateVec(q, _)).getOrElse(q)) }
    val bc = spark.sparkContext.broadcast((cb, qs))
    import spark.implicits._
    val scored = codes
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val (cbl, qsl) = bc.value
        val (cn2, luts) = lutsFor(cbl, qsl)
        it.flatMap { case (nid, code) =>
          if (code == null) Iterator.empty
          else luts.iterator.collect { case (qid, lut, qnorm) if qid != nid =>
            (qid, nid, adcSim(cbl, cn2, lut, qnorm, code))
          }
        }
      }
      .toDF("q_id", "n_id", "asim")
    pageTopK(scored, k)
  }

  /** The query-batch cap of an ADC scan under `cb`: each query's lookup
    * tables are `m·ksub` doubles, built once per (query, partition), so
    * the cap keeps a batch's tables within 2^26 doubles (512 MB) —
    * [[Similarity.MaxQueryBatch]] at PQ's default 8·16, 4 096 at SQ8's
    * 64·256, whichever entry point serves the codes.
    */
  private[operators] def queryCap(cb: Codebooks): Int =
    math.min(Similarity.MaxQueryBatch, (1 << 26) / (cb.m * cb.ksub))

  /** PQ top-k: train, then the pinned serve — [[train]]'s codebooks
    * handed to [[pqTopKWithCodebooks]] (encode → ADC search, with optional
    * EXACT re-rank: `refine > 1` retrieves `refine·k` ADC candidates per
    * query and re-ranks them with the exact cosine over the original
    * vectors — the standard two-stage PQ deployment where compressed
    * codes cut the corpus to a candidate shortlist and only `refine·k`
    * full vectors per query are ever touched). Output matches the other
    * top-k paths: (q_id, n_id, sim|asim, rk).
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int, m: Int = 8, ksub: Int = 16,
             seed: Long = 42L, refine: Int = 1): DataFrame = {
    requireServable(emb, idCol, refine, "pqTopK")
    pqTopKWithCodebooks(emb, idCol, vecCol, queryPred, k,
      train(emb, idCol, vecCol, m, ksub, seed), refine = refine)
  }

  /** The checks every fused vector serve makes before any training pass:
    * a positive shortlist factor, and an integral id column (ids are cast
    * to long, so a string id would silently become a null id).
    */
  private[operators] def requireServable(emb: DataFrame, idCol: String,
                                         refine: Int, op: String): Unit = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    Dedup.requireIntegralId(emb, idCol, op)
  }

  /** [[pqTopK]] under CALLER-SUPPLIED codebooks (training replaced by
    * `cb`, optionally with a caller-supplied orthogonal `rotation` in the
    * OPQ position) — the oracle-replayable form, completing the pinned-
    * artifact pattern for the ADC family: with pinned codebooks every
    * stage is deterministic arithmetic a SQL engine can replay —
    * per-subspace assignment is squared-L2 argmin (ascending (distance,
    * code), [[encodeVec]]'s selection), ADC scores are `2m` table lookups
    * summed in subspace order over lookup tables that are plain
    * per-subspace dot products, and the page ranks the 6-dp-rounded score
    * with ties on ascending id. Catalog `similarity_pq_pinned` /
    * `similarity_opq_pinned` replay the whole encode → ADC → page
    * deployment in DuckDB (the `similarity_bq_pinned` precedent);
    * codebook/rotation QUALITY stays with [[train]]/[[trainOpq]] and
    * PqSpec's recall/MSE contracts.
    */
  def pqTopKWithCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                          queryPred: Column, k: Int, cb: Codebooks,
                          rotation: Option[Array[Array[Double]]] = None,
                          refine: Int = 1): DataFrame = {
    requireServable(emb, idCol, refine, "pqTopKWithCodebooks")
    serveCodes(emb, idCol, vecCol, queryPred, k, cb,
      encode(emb, idCol, vecCol, cb, rotation), rotation, refine)
  }

  /** The one serve tail of the fused PQ, OPQ and SQ entry points: the
    * encoded corpus `codes` (idCol, code) is ADC-scored for the
    * `queryPred` rows ([[adcTopK]]); `refine > 1` makes that a `refine·k`
    * shortlist per query, re-ranked by the exact cosine over the original
    * vectors ([[Similarity.rerankShortlist]]).
    */
  private[operators] def serveCodes(emb: DataFrame, idCol: String, vecCol: String,
                                    queryPred: Column, k: Int, cb: Codebooks,
                                    codes: DataFrame,
                                    rotation: Option[Array[Array[Double]]],
                                    refine: Int): DataFrame = {
    val nCodes = codes.select(col(idCol).cast("long").as("n_id"), col("code"))
    val queries = emb.filter(queryPred)
      .select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
    if (refine <= 1) adcTopK(nCodes, cb, queries, k, rotation)
    else Similarity.rerankShortlist(
      adcTopK(nCodes, cb, queries, k * refine, rotation), queries,
      emb.select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec")), k)
  }

  // ---- persisted build / serve split (the IVF index precedent) -----------

  /** Persist codebooks + codes: `dir/codebooks` is (subspace, code,
    * centroid) — `m·ksub` rows, sketch-sized; `dir/codes` is the
    * compressed corpus (n_id, code), the only corpus-sized artifact and
    * 32× smaller than the vectors it replaces.
    */
  private[operators] def writeCodebooks(spark: SparkSession, cb: Codebooks,
                                        indexDir: String): Unit = {
    val rows = for (s <- 0 until cb.m; j <- cb.centroids(s).indices)
      yield Row(s, j, cb.centroids(s)(j).toSeq)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("subspace",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(1)
      .write.mode("overwrite").parquet(s"$indexDir/codebooks")
  }

  def buildPqIndex(emb: DataFrame, idCol: String, vecCol: String,
                   indexDir: String, m: Int = 8, ksub: Int = 16,
                   seed: Long = 42L): Codebooks = {
    Dedup.requireIntegralId(emb, idCol, "buildPqIndex")
    val cb = train(emb, idCol, vecCol, m, ksub, seed)
    writeCodebooks(emb.sparkSession, cb, indexDir)
    encode(emb, idCol, vecCol, cb)
      .select(col(idCol).cast("long").as("n_id"), col("code"))
      .write.mode("overwrite").parquet(s"$indexDir/codes")
    cb
  }

  /** Load persisted codebooks (sketch-sized: `m·ksub` rows). */
  def loadCodebooks(spark: SparkSession, indexDir: String): Codebooks = {
    val rows = spark.read.parquet(s"$indexDir/codebooks")
      .orderBy(col("subspace"), col("code"))
      .collect() // m·ksub rows — sketch-sized by contract
    require(rows.nonEmpty, s"empty codebooks at $indexDir")
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    val cents = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { r =>
      cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    Codebooks(m, cents(0)(0).length, ksub, cents)
  }

  /** Serve ADC top-k from a persisted index: the executed plan is one
    * sketch-sized codebook read plus one scan of the 32×-compressed code
    * table — the original vectors are never touched (`refine` re-ranks
    * would join them back; serving stays compressed-only).
    */
  def pqTopKFromIndex(queries: DataFrame, idCol: String, vecCol: String,
                      indexDir: String, k: Int): DataFrame = {
    val spark = queries.sparkSession
    val cb = loadCodebooks(spark, indexDir)
    adcTopK(spark.read.parquet(s"$indexDir/codes"), cb,
      queries.select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec")), k)
  }

  // ---- IVF-PQ: coarse pruning ∘ compressed scoring (the FAISS IVFPQ
  // deployment shape, non-residual variant) ---------------------------------

  /** Build the composed index ONCE: [[Similarity.trainCentroids]] coarse
    * quantizer (`indexDir/centroids`, nlist rows) + PQ codebooks
    * (`indexDir/codebooks`, m·ksub rows) + the corpus as (n_id, code)
    * Hive-partitioned by coarse bucket (`indexDir/codes`). The only
    * corpus-sized artifact is the code table — bucket-partitioned AND 32×
    * compressed, so a probe reads `nprobe/nlist` of an already-32×-smaller
    * corpus: the two scale levers of the ANN family composed into one
    * artifact.
    *
    * `residual = false` (default): codes are the GLOBAL PQ codebooks over
    * raw vectors — one codebook set serves every bucket, so append-style
    * maintenance never retrains per-bucket books.
    *
    * `residual = true`: the FAISS-default refinement — codebooks train on
    * `v − c_bucket(v)` and codes quantize the RESIDUAL, whose spread is a
    * cluster radius instead of the corpus diameter, so the same byte
    * budget reconstructs tighter (MSE-vs-non-residual pinned in PqSpec on
    * a clustered corpus). Still ONE global codebook set (residuals pool
    * across buckets — the standard IVFADC trade), so appends stay
    * retrain-free; the serve side recombines `x̂ = c_b + ŷ` entirely from
    * sketch-sized tables (marker file `_RESIDUAL` makes the index
    * self-describing).
    */
  def buildIvfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
                      indexDir: String, nlist: Int = 16, m: Int = 8,
                      ksub: Int = 16, seed: Long = 42L,
                      residual: Boolean = false): Unit = {
    Dedup.requireIntegralId(emb, idCol, "buildIvfPqIndex")
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = Similarity.trainCentroids(emb, idCol, vecCol, nlist, seed)
    cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("bucket", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    val csArr: Array[Array[Double]] = cents.map(_.toArray)
    val cb =
      if (!residual) train(emb, idCol, vecCol, m, ksub, seed)
      else {
        // residual codebooks: assign the SAME deterministic sample to its
        // nearest coarse centroid, train per-subspace books on v − c_b
        val sample = collectSample(emb, idCol, vecCol, seed, 4096)
        trainOnSample(sample.map { v =>
          val c = csArr(nearestBucket(v, csArr))
          Array.tabulate(v.length)(i => v(i) - c(i))
        }, m, ksub, seed, maxIters = 12)
      }
    writeCodebooks(spark, cb, indexDir)
    ivfPqCodes(emb, idCol, vecCol, cents.toSeq.map(_.toSeq), cb, residual)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$indexDir/codes")
    val marker = new org.apache.hadoop.fs.Path(s"$indexDir/_RESIDUAL")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (residual) fs.create(marker, true).close() else fs.delete(marker, false)
  }

  /** The IVF-PQ code table (n_id, code, bucket): code and coarse bucket
    * from one pass over the corpus. `residual` codes quantize
    * `v − c_bucket(v)` (the IVFADC encoding), the centroids broadcast via
    * the closure (nlist·dim doubles — sketch-sized).
    */
  private def ivfPqCodes(emb: DataFrame, idCol: String, vecCol: String,
                         cs: Seq[Seq[Double]], cb: Codebooks,
                         residual: Boolean): DataFrame = {
    import graft.functions.VectorExprs.nearestCentroids
    val bucketCol = element_at(nearestCentroids(col(vecCol), cs, 1), 1).as("bucket")
    if (!residual)
      emb.select(col(idCol).cast("long").as("n_id"),
        encoderUdf(cb)(col(vecCol)).as("code"), bucketCol)
    else {
      val bcCs = cs.map(_.toArray).toArray
      val resEncoder = udf { (v: Seq[Float], b: Int) =>
        if (v == null || v.length != cb.dim) null
        else {
          val c = bcCs(b)
          encodeVec(cb, Array.tabulate(v.length)(i => v(i) - c(i)))
        }
      }
      emb.select(col(idCol).cast("long").as("n_id"), col(vecCol), bucketCol)
        .select(col("n_id"), resEncoder(col(vecCol), col("bucket")).as("code"),
          col("bucket"))
    }
  }

  private def nearestBucket(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bd = l2(v, cs(0))
    var b = 1
    while (b < cs.length) {
      val d = l2(v, cs(b))
      if (d < bd) { bd = d; best = b }
      b += 1
    }
    best
  }

  /** Serve ADC top-k from a persisted IVF-PQ index: each query probes its
    * `nprobe` nearest coarse buckets (computed driver-side from the
    * sketch-sized centroid table — the ivfTopKFromIndex static-pruning
    * precedent, visible as PartitionFilters in the scan) and ADC-scores
    * ONLY rows of its own probed buckets (the per-query restriction rides
    * into the partition kernel, so a shared bucket loaded for query A is
    * not scored for query B unless B probed it too — the IVF candidate
    * contract, preserved under compression). Original vectors are never
    * read.
    */
  def ivfPqTopKFromIndex(queries: DataFrame, idCol: String, vecCol: String,
                         indexDir: String, k: Int, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val cb = loadCodebooks(spark, indexDir)
    val cs: Array[Array[Double]] = spark.read.parquet(s"$indexDir/centroids")
      .orderBy(col("bucket")).select(col("centroid"))
      .collect().map(_.getSeq[Double](0).toArray) // nlist rows — sketch-sized
    val markerPath = new org.apache.hadoop.fs.Path(s"$indexDir/_RESIDUAL")
    val residual = markerPath.getFileSystem(
      spark.sessionState.newHadoopConf()).exists(markerPath)
    val qs = collectQueries(
      queries.select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec")),
      cb.dim, Similarity.MaxQueryBatch)
    serveIvfPqCodes(spark.read.parquet(s"$indexDir/codes"), cb, cs, qs,
      nprobe, residual, k)
  }

  /** [[ivfPqTopKFromIndex]] under CALLER-SUPPLIED artifacts (index build
    * replaced by `cs` + `cb`; codes and buckets derive on the fly) — the
    * oracle-replayable form of the COMPOSED serve: with a pinned coarse
    * quantizer and pinned codebooks, bucket assignment, probe selection,
    * the probed-bucket restriction, ADC scoring, and the page are all
    * deterministic replayable arithmetic. Catalog `similarity_ivfpq_pinned`
    * replays the whole assign → probe → restricted-ADC → page deployment
    * in DuckDB (the `similarity_ivf_pinned` + `similarity_pq_pinned`
    * replays composed); quantizer/codebook QUALITY stays with the
    * trained paths' recall/pruning contracts in PqSpec.
    *
    * `residual = true` serves the IVFADC shape under the same pinned
    * artifacts: codes quantize `v − c_bucket(v)` (the [[buildIvfPqIndex]]
    * residual encoding, derived on the fly) and the kernel recombines
    * `x̂ = c_b + ŷ` from the sketch-sized tables — still deterministic
    * replayable arithmetic, because the residual subtraction, the
    * per-subspace argmin over residuals, and the recombination dot/norm
    * folds are all exact-order double sums a SQL engine can replay
    * (catalog `similarity_ivfpq_residual_pinned`).
    */
  def ivfPqTopKWithArtifacts(emb: DataFrame, idCol: String, vecCol: String,
                             queryPred: Column, k: Int, cs: Seq[Seq[Double]],
                             cb: Codebooks, nprobe: Int,
                             residual: Boolean = false): DataFrame = {
    Dedup.requireIntegralId(emb, idCol, "ivfPqTopKWithArtifacts")
    require(cs.nonEmpty, "centroid list must be non-empty")
    // the buildIvfPqIndex encoding, on the fly
    val codes = ivfPqCodes(emb, idCol, vecCol, cs, cb, residual)
    val qs = collectQueries(emb.filter(queryPred)
      .select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec")),
      cb.dim, Similarity.MaxQueryBatch)
    serveIvfPqCodes(codes, cb, cs.map(_.toArray).toArray, qs,
      nprobe, residual, k)
  }

  /** Shared probe-restricted ADC tail of the composed serve: driver-side
    * probe selection (ascending (distance, bucket) — the NearestCentroids
    * order, so fused/served probes agree), probed-bucket restriction on
    * the code scan (PartitionFilters when `codes` is a bucket-partitioned
    * read), per-query restriction inside the kernel, bounded page.
    */
  private def serveIvfPqCodes(codesIn: DataFrame, cb: Codebooks,
                              cs: Array[Array[Double]],
                              qs: Array[(Long, Array[Double])],
                              nprobe: Int, residual: Boolean,
                              k: Int): DataFrame = {
    val spark = codesIn.sparkSession
    require(nprobe >= 1 && nprobe <= cs.length,
      s"nprobe must be in [1, ${cs.length}], got $nprobe")
    val probeOf: Map[Long, Array[Int]] = qs.map { case (qid, q) =>
      qid -> cs.indices
        .map(b => (l2(q, cs(b)), b)).sorted.take(nprobe).map(_._2).toArray
    }.toMap
    val probed = probeOf.values.flatten.toSeq.distinct.sorted
    val codes = codesIn.filter(col("bucket").isin(probed.map(Int.box): _*))
    // residual recombination tables, all sketch-sized (x̂ = c_b + ŷ):
    // |c_b|² per bucket, the (bucket, subspace, code) cross dots
    // 2·c_b·ŷ_s needs, and per-query dot(q, c_b) offsets — so the kernel
    // scores x̂ with the same 2m lookups plus 2 adds and one table sum
    val resTables =
      if (!residual) None
      else {
        val cb2 = cs.map { c =>
          var t = 0.0; var i = 0
          while (i < c.length) { t += c(i) * c(i); i += 1 }
          t
        }
        val cross = Array.tabulate(cs.length, cb.m, cb.ksub) { (b, s, j) =>
          if (j < cb.centroids(s).length) {
            val rc = cb.centroids(s)(j)
            var t = 0.0; var i = 0
            while (i < rc.length) { t += cs(b)(s * cb.dsub + i) * rc(i); i += 1 }
            t
          } else 0.0
        }
        val qc: Map[Long, Array[Double]] = qs.map { case (qid, q) =>
          qid -> cs.map { c =>
            var t = 0.0; var i = 0
            while (i < q.length) { t += q(i) * c(i); i += 1 }
            t
          }
        }.toMap
        Some((cb2, cross, qc))
      }
    val bc = spark.sparkContext.broadcast((cb, qs, probeOf, resTables))
    import spark.implicits._
    val scored = codes
      .select(col("n_id"), col("code"), col("bucket"))
      .as[(Long, Array[Byte], Int)]
      .mapPartitions { it =>
        val (cbl, qsl, probes, res) = bc.value
        val (cn2, luts) = lutsFor(cbl, qsl)
        it.flatMap { case (nid, code, bucket) =>
          if (code == null) Iterator.empty
          else luts.iterator.collect {
            case (qid, lut, qnorm)
                if qid != nid && probes(qid).contains(bucket) =>
              val sim = res match {
                case None => adcSim(cbl, cn2, lut, qnorm, code)
                case Some((cb2, cross, qc)) =>
                  var dot = qc(qid)(bucket)
                  var rn2 = cb2(bucket)
                  var s = 0
                  while (s < cbl.m) {
                    val j = code(s) & 0xff
                    dot += lut(s)(j)
                    rn2 += 2.0 * cross(bucket)(s)(j) + cn2(s)(j)
                    s += 1
                  }
                  val denom = qnorm * math.sqrt(math.max(rn2, 0.0))
                  if (denom > 0) dot / denom else 0.0
              }
              (qid, nid, sim)
          }
        }
      }
      .toDF("q_id", "n_id", "asim")
    pageTopK(scored, k)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Binary quantization (BQ) — 1 bit per dimension: each dimension keeps
  * only its SIGN relative to a per-dimension threshold learned from a
  * sample (the sample mean, which balances the bit), so a 64-dim float
  * vector (256 B) becomes 8 bytes — 32× compression, the same budget as
  * PQ but spent on full-dimensional sign structure instead of subspace
  * centroids. Scoring is a Hamming match (xor + popcount over packed
  * bytes): for mean-centered data, bit agreement is a monotone proxy for
  * the angle (the hyperplane-LSH estimate `cos(π·(1−agree))`, Charikar
  * STOC'02, with axis-aligned mean hyperplanes), so the bit scan is a
  * SHORTLIST stage and `refine·k` exact cosines per query finish the
  * ranking — the standard binary-hashing two-stage deployment. The
  * cheapest full-corpus scan in the family: 32× less bandwidth than
  * brute force and xor/popcount per row instead of multiplies (ref
  * capability: approximate similarity sketches; the reference has no
  * embedding search surface).
  *
  * Relation to the siblings: [[graft.operators.Dedup]]'s SimHash bands
  * use random-hyperplane signs to FIND dup pairs; BQ uses axis-aligned
  * mean-threshold signs to SERVE top-k from a persisted code table —
  * same bit arithmetic, different deployment shape (and the shortlist
  * rides [[Pq.pageTopK]]'s bounded page aggregate, so the shuffle stays
  * `partitions · |Q| · k` like every ANN path here).
  *
  * Like every approximate family here, exactness is the brute-force
  * sibling's job ([[Similarity.cosineTopK]]); BQ rows are `no_oracle`
  * with recall / determinism / full-refine-exactness / compression
  * contracts pinned in BqSpec.
  */
object Bq {

  /** Per-dimension sign thresholds: the per-dim MEAN of the deterministic
    * bottom-k-by-hash sample (the PQ training sample contract). The mean
    * balances each bit — splitting mass above/below — which maximizes the
    * bit's discriminating power; a constant dimension yields an all-equal
    * bit that cancels in every Hamming comparison (harmless).
    */
  def train(emb: DataFrame, idCol: String, vecCol: String,
            seed: Long = 42L, sampleSize: Int = 4096): Array[Double] = {
    val sample = Pq.collectSample(emb, idCol, vecCol, seed, sampleSize)
    val dim = sample.head.length
    val sums = new Array[Double](dim)
    sample.foreach { v =>
      var i = 0
      while (i < dim) { sums(i) += v(i); i += 1 }
    }
    sums.map(_ / sample.length)
  }

  /** Pack one vector's sign bits MSB-first: bit `i` of the signature is
    * `v(i) >= thr(i)`; the last byte zero-pads when dim % 8 != 0. Shared
    * by the map-side encoder UDF and the driver-side query encoding.
    */
  private def signBits(v: Array[Double], thr: Array[Double]): Array[Byte] = {
    val out = new Array[Byte]((thr.length + 7) / 8)
    var i = 0
    while (i < thr.length) {
      if (v(i) >= thr(i)) out(i >> 3) = (out(i >> 3) | (0x80 >> (i & 7))).toByte
      i += 1
    }
    out
  }

  /** Encode every vector to its packed sign signature — one map-side
    * pass, the 32× compression step. Output (id, code binary); null /
    * wrong-length vectors encode to null (the PQ encoder contract).
    */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             thresholds: Array[Double]): DataFrame = {
    val thr = thresholds
    val enc = udf { (v: Seq[Float]) =>
      if (v == null || v.length != thr.length) null
      else {
        val dv = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { dv(i) = v(i); i += 1 }
        signBits(dv, thr)
      }
    }
    emb.select(col(idCol), enc(col(vecCol)).as("code"))
  }

  /** Hamming-shortlist top-k over packed signatures: per partition the
    * query signatures are fixed driver-side constants; per row each query
    * costs `dim/8` xor+popcount byte ops (no multiplies, no LUTs — the
    * binary scan is the whole point). Scores are the bit-agreement
    * fraction in [0, 1]; emitted rows fold into the bounded page
    * aggregate, `partitions · |Q| · k` shuffle (the ADC shape).
    */
  private def hammingTopK(codes: DataFrame, qs: Array[(Long, Array[Byte])],
                          dim: Int, k: Int): DataFrame = {
    val spark = codes.sparkSession
    val bc = spark.sparkContext.broadcast(qs)
    import spark.implicits._
    val scored = codes
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val qsl = bc.value
        it.flatMap { case (nid, code) =>
          if (code == null) Iterator.empty
          else qsl.iterator.collect { case (qid, qsig) if qid != nid =>
            var diff = 0
            var b = 0
            while (b < code.length) {
              diff += Integer.bitCount((code(b) ^ qsig(b)) & 0xff)
              b += 1
            }
            (qid, nid, (dim - diff).toDouble / dim)
          }
        }
      }
      .toDF("q_id", "n_id", "asim")
    Pq.pageTopK(scored, k)
  }

  /** BQ top-k: train, then the pinned serve — [[train]]'s thresholds
    * handed to [[bqTopKWithThresholds]] (encode → Hamming shortlist →
    * EXACT re-rank: `refine·k` bit-scan candidates per query are
    * re-scored with the exact cosine over the original vectors;
    * `refine = 1` returns the raw bit-agreement ranking — useful for plan
    * inspection, coarse by construction: only dim+1 distinct scores
    * exist, ties broken by n_id). Output matches the other top-k paths:
    * (q_id, n_id, sim|asim, rk).
    */
  def bqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int, seed: Long = 42L,
             refine: Int = 8): DataFrame = {
    Pq.requireServable(emb, idCol, refine, "bqTopK")
    bqTopKWithThresholds(emb, idCol, vecCol, queryPred, k,
      train(emb, idCol, vecCol, seed), refine)
  }

  /** [[bqTopK]] under CALLER-SUPPLIED thresholds (training replaced by
    * `thr`) — the oracle-replayable form: with pinned thresholds every
    * stage is deterministic arithmetic a SQL engine can replay — sign
    * bits are plain `v(i) >= thr(i)` comparisons, bit-agreement scores
    * are exact multiples of 1/dim (binary-exact through the 6-dp page
    * rounding when dim is a power of two), the shortlist ties break on
    * ascending id, and the refine stage is the hash-checked
    * rounded-cosine page. Catalog `similarity_bq_pinned` replays the
    * whole Hamming-shortlist + exact-re-rank deployment in DuckDB (the
    * `similarity_ivf_pinned` precedent); threshold QUALITY stays with
    * [[train]] and BqSpec's recall contracts.
    */
  def bqTopKWithThresholds(emb: DataFrame, idCol: String, vecCol: String,
                           queryPred: Column, k: Int, thr: Array[Double],
                           refine: Int = 8): DataFrame = {
    Pq.requireServable(emb, idCol, refine, "bqTopKWithThresholds")
    require(thr.nonEmpty, "threshold vector must be non-empty")
    val codes = encode(emb, idCol, vecCol, thr)
      .select(col(idCol).cast("long").as("n_id"), col("code"))
    val queries = emb.filter(queryPred)
      .select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec"))
    serve(codes, thr, queries, emb.select(
      col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec")),
      k, refine)
  }

  /** Shared fused/served tail: encode the query batch driver-side, bit-
    * scan, optionally exact-re-rank against `corpusVecs`.
    */
  private def serve(codes: DataFrame, thr: Array[Double], queries: DataFrame,
                    corpusVecs: DataFrame, k: Int, refine: Int): DataFrame = {
    val qs = Pq.collectQueries(queries, thr.length, Similarity.MaxQueryBatch)
    val qSigs = qs.map { case (qid, q) => (qid, signBits(q, thr)) }
    if (refine <= 1) hammingTopK(codes, qSigs, thr.length, k)
    else Similarity.rerankShortlist(
      hammingTopK(codes, qSigs, thr.length, k * refine), queries, corpusVecs, k)
  }

  /** Persist thresholds + signatures: `indexDir/thresholds` is one row
    * per dimension (sketch-sized); `indexDir/codes` is the 32×-compressed
    * corpus — the only corpus-sized artifact.
    */
  def buildBqIndex(emb: DataFrame, idCol: String, vecCol: String,
                   indexDir: String, seed: Long = 42L): Array[Double] = {
    Dedup.requireIntegralId(emb, idCol, "buildBqIndex")
    val spark = emb.sparkSession
    val thr = train(emb, idCol, vecCol, seed)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dim",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("threshold",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(thr.zipWithIndex.map {
        case (t, i) => Row(i, t)
      }.toSeq: _*), schema)
      .repartition(1)
      .write.mode("overwrite").parquet(s"$indexDir/thresholds")
    encode(emb, idCol, vecCol, thr)
      .select(col(idCol).cast("long").as("n_id"), col("code"))
      .write.mode("overwrite").parquet(s"$indexDir/codes")
    thr
  }

  /** Load persisted thresholds (dim rows — sketch-sized by contract). */
  def loadThresholds(spark: SparkSession, indexDir: String): Array[Double] = {
    val rows = spark.read.parquet(s"$indexDir/thresholds")
      .orderBy(col("dim")).collect()
    require(rows.nonEmpty, s"empty BQ thresholds at $indexDir")
    rows.map(_.getDouble(1))
  }

  /** Serve top-k from a persisted BQ index: one sketch-sized threshold
    * read plus one scan of the 32×-compressed signature table for the
    * shortlist; the exact re-rank touches only `refine·k` full vectors
    * per query (joined from `corpus`). `refine = 1` never reads a vector
    * at all.
    */
  def bqTopKFromIndex(queries: DataFrame, corpus: DataFrame,
                      idCol: String, vecCol: String, indexDir: String,
                      k: Int, refine: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    val thr = loadThresholds(spark, indexDir)
    serve(spark.read.parquet(s"$indexDir/codes"), thr,
      queries.select(col(idCol).cast("long").as("q_id"), col(vecCol).as("q_vec")),
      corpus.select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec")),
      k, refine)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Incremental ingest dedup (SURVEY.md §2.9 × §2.11): documents arriving
  * as a STREAM are near-dup-checked against a STATIC reference corpus —
  * the production shape for continuous crawl ingestion, where the corpus's
  * MinHash band-bucket table is built once by a batch job and each
  * incoming batch only has to route into it.
  *
  * Plan shape (the reason this scales at ingest time):
  *  - the stream side computes each document's shingle-hash array AND its
  *    band signatures MAP-SIDE (pure per-row expressions — no shuffle, no
  *    state; this is what LSH banding buys at ingest);
  *  - candidates come from a STREAM-STATIC equi join on (band, bsig) —
  *    stateless by construction (Spark re-plans the static side per
  *    micro-batch; at scale the bucket table is the batch job's parquet,
  *    bucket-partitioned, so the join prunes);
  *  - exact-Jaccard verification joins candidates to the corpus's stored
  *    shingle arrays and runs `array_intersect` — identical verification
  *    contract to the batch `Dedup.minHashLSH` (zero false positives);
  *  - ONE streaming aggregation per incoming doc folds band collisions:
  *    `collect_list` + `array_distinct` count distinct verified matches
  *    (streaming forbids `countDistinct` and chained aggregations — this
  *    stays a single stateful operator).
  *
  * Within-batch/within-stream near-dup pairs are deliberately out of
  * scope: dedup AMONG the arriving documents is the batch operator's job
  * (`Dedup.minHashLSH` on the accepted batch); this operator answers
  * "is this new doc a near-dup of anything we already have", which is the
  * decision an ingest gate actually makes.
  *
  * Every gate here takes frames: a streaming or batch `incoming` and a
  * static corpus, index or eval side. Loading and replaying data is the
  * caller's job; the catalog rows replay each fixture's 90/10 split
  * through `ExtensionQueries.replayGate` and `StreamWindows.runToResult`.
  */
object StreamDedup {

  /** Flag every incoming document against the reference corpus.
    *
    * `incoming` may be a streaming OR a batch DataFrame with columns
    * (idCol, textCol) — the same plan serves both, which is also how the
    * stream≡batch parity test pins correctness. Returns one row per
    * incoming document: (doc_id, n_matches, is_dup), n_matches = number
    * of DISTINCT corpus documents with exact n-gram Jaccard ≥ threshold
    * among the band-collision candidates. Incoming docs with no shingles
    * (empty/short text) surface with n_matches = 0 — an `explode_outer`
    * of a null band array keeps them alive through the join.
    *
    * Recall contract: identical to `Dedup.minHashLSH` — a true near-dup
    * pair is found iff some band collides (probability
    * 1-(1-s^rowsPerBand)^bands); verification is exact, so false
    * positives are impossible.
    */
  def dedupAgainstCorpus(corpus: DataFrame, incoming: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 2, bands: Int = 8, rowsPerBand: Int = 4,
                         threshold: Double = 0.5, seed: Long = 42L): DataFrame =
    // static side: the in-memory frames of the index `Dedup.buildLshIndex`
    // persists
    flagAgainst(Dedup.lshIndex(corpus, idCol, textCol,
      Dedup.LshParams(n, bands, rowsPerBand, seed)), incoming, idCol, textCol, threshold)

  /** Serve-side twin of [[dedupAgainstCorpus]] probing a PERSISTED
    * `Dedup.buildLshIndex` artifact: no corpus shingling at ingest time —
    * the executed plan is the stream side's map-side signatures joined to
    * two parquet reads (buckets, verify arrays). Band parameters (n,
    * bands, rowsPerBand, seed) come from the index's own `params` file,
    * so probe signatures always match the stored buckets — a drifted
    * parameter would otherwise yield silent zero recall, the failure mode
    * this contract removes. Same output and recall contract as the fused
    * form (test-pinned parity).
    */
  def dedupAgainstLshIndex(spark: SparkSession, incoming: DataFrame,
                           idCol: String, textCol: String, indexDir: String,
                           threshold: Double = 0.5): DataFrame =
    flagAgainst(Dedup.readLshIndex(spark, indexDir), incoming, idCol, textCol, threshold)

  /** Shared tail of the fused and index-served ingest forms: the
    * batch-vs-index probe (`Dedup.probeLshIndex` — map-side signatures,
    * candidate join, exact verify) folded by one streaming-legal
    * distinct-match aggregation per incoming doc (collect_list skips
    * nulls; array_distinct folds the same pair colliding in several
    * bands).
    */
  private def flagAgainst(index: Dedup.LshIndex, incoming: DataFrame,
                          idCol: String, textCol: String,
                          threshold: Double): DataFrame =
    Dedup.probeLshIndex(index, incoming, idCol, textCol)
      .groupBy(col("s_id").as("doc_id"))
      .agg(size(array_distinct(collect_list(
        when(col("jacc") >= threshold, col("c_id"))))).cast("long").as("n_matches"))
      .withColumn("is_dup", col("n_matches") > 0)

  /** Embedding sibling of [[dedupAgainstCorpus]]: incoming vectors are
    * near-dup-flagged against a static corpus through its IVF coarse
    * quantizer — the ingest gate for an embedded corpus. The centroid
    * table is trained once on the STATIC side (at scale: loaded from the
    * batch job's persisted index) and rides the plan as a literal, so the
    * stream's bucket probing is a pure map-side expression (the native
    * `NearestCentroids` codegen loop); candidates come from a stateless
    * stream-static join on `bucket`; verification is exact cosine.
    *
    * Recall contract mirrors `ivfDupPairs`: a true match is found iff the
    * corpus vector lives in one of the incoming vector's `nprobe` nearest
    * buckets — false positives are impossible (exact verify), recall
    * rises with nprobe and reaches 1.0 at `nprobe = nlist` (the exact
    * mode, test-pinned). One row per incoming vector:
    * (vec_id, n_matches, is_dup).
    */
  def embeddingDedupAgainstCorpus(corpus: DataFrame, incoming: DataFrame,
                                  idCol: String, vecCol: String,
                                  nlist: Int = 16, nprobe: Int = 4,
                                  threshold: Double = 0.45,
                                  seed: Long = 42L): DataFrame = {
    // train-then-delegate (the ivfDupPairs convention): the gate
    // machinery lives in ONE place, shared with the pinned entry point
    val cs: Seq[Seq[Double]] =
      Similarity.trainCentroids(corpus, idCol, vecCol, nlist, seed).toSeq.map(_.toSeq)
    embeddingDedupWithCentroids(corpus, incoming, idCol, vecCol, cs, nprobe, threshold)
  }

  /** [[embeddingDedupAgainstCorpus]] under a CALLER-SUPPLIED coarse
    * quantizer — the streaming embedding gate with training factored out
    * (the `ivfDupPairsWithCentroids` convention). With PINNED centroids
    * the whole gate is deterministic replayable arithmetic — corpus
    * assignment, map-side probe selection, the rounded-cosine verify,
    * the distinct-match fold — so the streamed result sits under the
    * exact oracle hash gate (catalog `dedup_stream_embedding_pinned`);
    * quantizer quality stays with the trained rows' recall/zero-FP
    * tests.
    */
  def embeddingDedupWithCentroids(corpus: DataFrame, incoming: DataFrame,
                                  idCol: String, vecCol: String,
                                  cs: Seq[Seq[Double]], nprobe: Int,
                                  threshold: Double): DataFrame =
    embeddingDedupWithAssignments(
      assignCentroids(corpus, idCol, vecCol, cs),
      incoming, idCol, vecCol, cs, nprobe, threshold)

  /** The corpus side of the embedding gate: each vector's 1-nearest
    * centroid assignment, as the (c_id, c_vec, bucket) frame the
    * candidate join consumes — the same shape `Similarity.buildIvfIndex`
    * persists. Deterministic replayable arithmetic under pinned
    * centroids; factored out so a long-lived gate can derive it ONCE and
    * persist it instead of paying the full corpus assignment in every
    * micro-batch's re-planned static side.
    */
  def assignCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      cs: Seq[Seq[Double]]): DataFrame = {
    require(cs.nonEmpty, "centroid list must be non-empty")
    Similarity.assignNearest(corpus, idCol, vecCol, cs)
      .select(col("n_id").as("c_id"), col("n_vec").as("c_vec"), col("bucket"))
  }

  /** [[embeddingDedupWithCentroids]] with the corpus ASSIGNMENT side
    * precomputed (an [[assignCentroids]] frame, typically read back from
    * a batch job's parquet): the streaming query re-plans its static side
    * per trigger, so serving from the stored assignment times each
    * micro-batch by the batch, not the corpus. Output is identical to the
    * fused form for an assignment derived from the same centroids (the
    * 1-nearest argmin is deterministic; parity test-pinned).
    */
  def embeddingDedupWithAssignments(assignments: DataFrame, incoming: DataFrame,
                                    idCol: String, vecCol: String,
                                    cs: Seq[Seq[Double]], nprobe: Int,
                                    threshold: Double): DataFrame = {
    require(cs.nonEmpty, "centroid list must be non-empty")
    flagEmbedding(assignments, incoming, idCol, vecCol, cs, nprobe, threshold)
  }

  /** Serve-side twin of [[embeddingDedupAgainstCorpus]] probing a
    * persisted `Similarity.buildIvfIndex` artifact: no quantizer training
    * and no corpus assignment pass at ingest time — centroids load once
    * per plan (sketch-sized), stored bucket assignments ARE the corpus
    * side of the join. Same output as the fused form when the index was
    * built with the same (nlist, seed) over the same corpus (the trainer
    * is deterministic; test-pinned), and the same recall contract:
    * exact-verify forbids false positives at any nprobe.
    */
  def embeddingDedupAgainstIvfIndex(spark: SparkSession, incoming: DataFrame,
                                    idCol: String, vecCol: String,
                                    indexDir: String, nprobe: Int = 4,
                                    threshold: Double = 0.45): DataFrame = {
    val cbuckets = Similarity.ivfIndexAssignments(spark, indexDir)
      .select(col("n_id").as("c_id"), col("n_vec").as("c_vec"), col("bucket"))
    flagEmbedding(cbuckets, incoming, idCol, vecCol,
      Similarity.ivfIndexCentroids(spark, indexDir), nprobe, threshold)
  }

  /** Shared tail of the fused and index-served embedding gates: map-side
    * nprobe bucket probing on the incoming rows (centroids ride the plan
    * as a literal), stateless stream-static join on bucket, exact-cosine
    * verify, one streaming-legal distinct-match aggregation.
    */
  private def flagEmbedding(cbuckets: DataFrame, incoming: DataFrame,
                            idCol: String, vecCol: String,
                            cs: Seq[Seq[Double]], nprobe: Int,
                            threshold: Double): DataFrame = {
    import graft.functions.VectorExprs.nearestCentroids
    val probes = incoming
      .select(col(idCol).as("s_id"), col(vecCol).as("s_vec"))
      .withColumn("bucket", explode(nearestCentroids(col("s_vec"), cs, nprobe)))
    probes.join(cbuckets, Seq("bucket"), "left")
      .select(col("s_id"),
        // rounded to 6 dp BEFORE the threshold compare — the batch
        // embedding-dedup family's shared contract (bucketVerifiedPairs,
        // cosineDupPairs), which also makes the pinned gate row exactly
        // replayable at the threshold boundary. cosineNative: the verify
        // fan-out is candidates × dim multiply-adds — the gate's dominant
        // cost — and the interpreted fold form evaluated per element;
        // the native fdot kernel is bit-identical (VectorExprsSpec)
        when(col("c_id").isNotNull,
          round(Similarity.cosineNative(col("s_vec"), col("c_vec")), 6)).as("sim"),
        col("c_id"))
      .groupBy(col("s_id").as("vec_id"))
      .agg(size(array_distinct(collect_list(
        when(col("sim") >= threshold, col("c_id"))))).cast("long").as("n_matches"))
      .withColumn("is_dup", col("n_matches") > 0)
  }

  /** Perceptual-fingerprint sibling of [[dedupAgainstCorpus]] — the
    * MULTIMODAL ingest gate: incoming assets, already reduced to 64-bit
    * perceptual fingerprints (image dHash, audio fingerprint — any
    * `Dedup.hammingPairs` source), are near-dup-flagged against a static
    * corpus at exact Hamming radius `maxHamming`.
    *
    * Plan shape (the text gate's, with fingerprints for shingles): the
    * stream side computes its pigeonhole band signatures MAP-SIDE
    * (`Dedup.hammingBandSigs` — pure per-row expressions, legal streaming
    * and batch); candidates come from a stateless stream-static equi join
    * on (band, bits); verification is the exact `bit_count` Hamming
    * distance (recall 1.0 at the radius by the pigeonhole argument —
    * a true pair within `maxHamming` agrees exactly on ≥ 1 band); ONE
    * streaming aggregation folds band collisions into distinct-match
    * counts. Incoming assets with a NULL fingerprint (undecodable
    * payload) surface with n_matches = 0 — the `explode_outer` guard,
    * mirroring the empty-shingle contract of the text gate. Returns one
    * row per incoming asset: (id, n_matches, is_dup).
    */
  def fingerprintDedupAgainstCorpus(corpusFp: DataFrame, incomingFp: DataFrame,
                                    idCol: String, hashCol: String,
                                    maxHamming: Int = 3): DataFrame = {
    val cb = corpusFp.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("c_id"), col(hashCol).as("c_hash"))
      .select(col("c_id"), col("c_hash"),
        explode(Dedup.hammingBandSigs(col("c_hash"), maxHamming)).as("bk"))
      .select(col("c_id"), col("c_hash"),
        col("bk.band").as("band"), col("bk.bits").as("bits"))
    val sb = incomingFp
      .select(col(idCol).as("s_id"), col(hashCol).as("s_hash"))
      .select(col("s_id"), col("s_hash"),
        explode_outer(when(col("s_hash").isNotNull,
          Dedup.hammingBandSigs(col("s_hash"), maxHamming))).as("bk"))
      .select(col("s_id"), col("s_hash"),
        col("bk.band").as("band"), col("bk.bits").as("bits"))
    sb.join(cb, Seq("band", "bits"), "left")
      .select(col("s_id"),
        when(col("c_hash").isNotNull &&
          bit_count(col("s_hash").bitwiseXOR(col("c_hash"))) <= maxHamming,
          col("c_id")).as("m"))
      .groupBy(col("s_id").as(idCol))
      .agg(size(array_distinct(collect_list(col("m")))).cast("long").as("n_matches"))
      .withColumn("is_dup", col("n_matches") > 0)
  }

  /** Streaming DECONTAMINATION gate: incoming documents flagged against a
    * STATIC eval/benchmark window-hash set at exact-substring (sliding
    * n-token window) granularity — the ingest-time form of
    * [[graft.operators.NgramSpans.decontamStats]]'s gram accounting.
    * Returns one row per incoming non-null-text document:
    * (id, n_grams, n_hit_grams, is_contaminated).
    *
    * Plan shape: window hashes compute MAP-SIDE on the stream (pure
    * per-row expressions via `windowHashArray` — no shuffle, no window
    * functions, so the same plan is legal streaming and batch); the eval
    * window set is a stream-static equi join against a benchmark-sized
    * static side (broadcast); ONE streaming aggregation per doc folds the
    * flags. Span-level CUTTING stays a batch concern — the gate decides
    * accept/quarantine, the batch `decontamClean` rewrites.
    *
    * `incoming` may be streaming or batch — stream ≡ batch parity is
    * pinned in StreamDedupSpec against the batch operator itself.
    *
    * Broadcast-size guard: the eval window-hash set ships WHOLE to every
    * executor (that is the design — the benchmark side is small by
    * contract), so a caller who swaps the frames — or points `eval` at a
    * raw training corpus — would OOM the entire fleet, not one task. The
    * gate therefore counts the distinct eval grams at build time (the
    * eval side is static; the count is one pass over the small frame) and FAILS LOUDLY past `maxEvalGrams` (the
    * `maxCellsPerInterval` precedent: a guard the caller must consciously
    * raise, never a silent degradation). The default (2²⁴ ≈ 16.8M grams,
    * ~32 B of md5 key each — a few hundred MB broadcast) is generous for
    * any real benchmark suite; a train-corpus-sized side blows through it
    * by orders of magnitude.
    *
    * NOTE: construction is EAGER — the guard runs one Spark job (a count
    * over the eval side) at every gate build, even when the returned
    * frame is never executed; a caller constructing gates speculatively
    * pays that count up front.
    *
    * Scope contract: the distinct eval gram set is pinned with
    * `CacheScope.pin`, so the call that collects owns it. Inside
    * `CacheScope.scoped { … }` the guard count materializes it once and
    * every micro-batch reads it back; a second construction over the
    * same eval plan in the same scope reuses that cache (the guard then
    * counts the cached rows), and the scope unpersists it on exit. With
    * no scope open nothing is persisted and each micro-batch re-derives
    * the set. Within one scope the set is a snapshot; a construction in a
    * later scope re-derives and re-guards, so an eval source regrown in
    * place is counted again.
    */
  def decontamGate(eval: DataFrame, incoming: DataFrame,
                   idCol: String, textCol: String, n: Int = 8,
                   maxEvalGrams: Long = 1L << 24): DataFrame = {
    import graft.operators.NgramSpans
    require(maxEvalGrams > 0, s"maxEvalGrams must be positive, got $maxEvalGrams")
    // pinned: without it each micro-batch re-derives the distinct eval
    // gram set from text (measured doubling the gate's cost). Bounded by
    // the guard itself (≤ maxEvalGrams rows)
    val evalGrams = graft.CacheScope.pin(
      NgramSpans.windowHashArray(eval, idCol, textCol, n)
        .select(explode(col("__grams")).as("__gram")).distinct()
        .withColumn("__hit", lit(true)))
    val nEval = evalGrams.count()
    if (nEval > maxEvalGrams)
      throw new IllegalArgumentException(
        s"decontamGate: eval window-hash set has $nEval distinct grams > " +
          s"maxEvalGrams=$maxEvalGrams — the eval side broadcasts to every " +
          "executor and must stay benchmark-sized; check the frames are not " +
          "swapped, or consciously raise the cap")
    NgramSpans.windowHashArray(incoming, idCol, textCol, n)
      .select(col(idCol), explode_outer(col("__grams")).as("__gram"))
      .join(broadcast(evalGrams), Seq("__gram"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__gram")).as("n_grams"),
        count(when(col("__hit"), 1)).as("n_hit_grams"))
      .withColumn("is_contaminated", col("n_hit_grams") > 0)
  }
}

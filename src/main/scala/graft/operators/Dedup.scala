package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SimHashAgg

/** Deduplication family for training-data pipelines (north-star extension):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - exact: one groupBy on a content hash — single shuffle of (hash, id);
  *  - jaccardPairs: exact pairs via prefix-filtered set-similarity join —
  *    candidates only on each doc's globally-rarest shingles, exact
  *    verification on candidates; linear shuffles, no all-pairs blowup;
  *  - minHashLSH: signature (one groupBy) → band buckets (one groupBy) →
  *    candidate pairs (bucket-local join) → exact verify on candidates
  *    only. Work is linear in corpus + candidates;
  *  - simHash: one 64-bit fingerprint per doc via a mergeable Aggregator;
  *    near-dup ⇔ small Hamming distance; pairing via pigeonhole bit-bands
  *    (bucket-local join, recall 1.0 at the given radius).
  */
object Dedup {

  /** Exact dedup: one representative (min id) per identical text + the
    * duplicate count. Content-hash groupBy — only (sha2, id) pairs are
    * shuffled, never the text itself (at 100 TB this matters).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), sha2(col(textCol), 256).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_copies"))

  /** Sub-document (boilerplate) dedup — the line-dedup pass of a
    * training-data pipeline (RefinedWeb/Gopher-style): split each doc
    * into fixed-size non-overlapping token spans, count each span's
    * DISTINCT-document occurrences corpus-wide, and mark spans appearing
    * in more than `maxDocs` documents as boilerplate (navigation bars,
    * headers, license footers repeat verbatim across pages; genuine
    * content doesn't). Returns per-doc
    * (id, n_spans, n_dropped_spans, n_kept_tokens) — the cleaning stats a
    * pipeline gates on. Spans reuse `TextOps.chunkTokens` (overlap 0), so
    * "span" is a real newline-free line surrogate; on a corpus with
    * actual lines, split on newlines upstream and pass line-sized spans.
    *
    * Scale shape: explode to spans (map-side), one shuffle keyed by span
    * hash for the distinct-doc counts, and the spans⋈counts join is
    * co-partitioned on that same hash (no extra exchange); the final
    * per-doc rollup is a second linear shuffle. Only (hash, id) pairs
    * move — never text.
    */
  def subdocDedup(df: DataFrame, idCol: String, textCol: String,
                  spanTokens: Int = 10, maxDocs: Int = 1): DataFrame =
    subdocSpanCounts(df, idCol, textCol, spanTokens, emitText = false)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        count(when(col("n_docs") > maxDocs, 1)).as("n_dropped_spans"),
        coalesce(sum(when(col("n_docs") <= maxDocs, col("n_chunk_tokens"))), lit(0L))
          .as("n_kept_tokens"))

  /** The TRANSFORM sibling of [[subdocDedup]]: the span-stripped document
    * itself — kept spans re-joined in original span order — plus the kept
    * span count. A doc whose every span is boilerplate (e.g. an exact
    * duplicate at maxDocs=1: all its spans recur in the twin) disappears
    * from the output, which is the pipeline-correct gating for a document
    * that is 100% boilerplate.
    *
    * Scale shape: identical linear shuffles as the stats form, except the
    * kept span TEXT rides the final per-doc rollup — per-doc payload, the
    * same order as rewriting the corpus at all, and the per-doc
    * collect_list is doc-sized by construction.
    */
  def subdocDedupClean(df: DataFrame, idCol: String, textCol: String,
                       spanTokens: Int = 10, maxDocs: Int = 1): DataFrame =
    subdocSpanCounts(df, idCol, textCol, spanTokens, emitText = true)
      .filter(col("n_docs") <= maxDocs)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_no"), col("chunk_text")))),
            x => x.getField("chunk_text")), " ").as("clean_text"),
        count(lit(1)).as("n_kept_spans"))

  /** Shared head of both sub-document dedup forms: spans + corpus-wide
    * distinct-doc counts, co-partitioned on the span hash (the join reuses
    * the groupBy's hash partitioning — no extra exchange).
    */
  private def subdocSpanCounts(df: DataFrame, idCol: String, textCol: String,
                               spanTokens: Int, emitText: Boolean): DataFrame = {
    val spans = TextOps.chunkTokens(df, idCol, textCol, spanTokens, 0,
      emitText = emitText)
    val spanDocs = spans.groupBy(col("chunk_hash"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    spans.join(spanDocs, Seq("chunk_hash"))
  }

  /** Connected components over an undirected near-dup pair graph — the
    * step a real dedup pipeline runs AFTER pair detection: pairs chain
    * (A~B, B~C ⇒ {A,B,C} even when A!~C), and the pipeline keeps ONE
    * representative per component, not per pair. Returns (id, rep_id)
    * for EVERY vertex, rep_id = the smallest id in its component
    * (singletons map to themselves).
    *
    * Algorithm: alternating star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"). It rewrites the edge set itself
    * until every component is a star centered on its minimum id, which
    * takes O(log² n) rounds REGARDLESS of component diameter — a crawl of
    * paginated near-identical pages, each similar only to its neighbors,
    * collapses as fast as a dense cluster. Per round (one large-star + one
    * small-star):
    *  - large-star: every vertex u computes m = min(Γ(u) ∪ {u}) and
    *    re-points each LARGER neighbor v > u at m — long tails fold onto
    *    local minima in parallel;
    *  - small-star: every vertex u re-points its smaller-or-equal
    *    neighborhood (and itself) at its minimum neighbor — flattening
    *    two-level trees into stars.
    * Both are a groupBy(min) + a join co-partitioned on the same key (two
    * linear shuffles), and both only ever re-point edges at SMALLER ids,
    * so the edge set's id-sum strictly decreases until the star fixpoint.
    * The fixpoint test runs after each round on the materialized edge
    * table; a round over a star forest returns the same edges, so an
    * input that already is one costs one extra round and no more.
    * `maxIters` bounds the rounds and the operator FAILS LOUDLY rather
    * than return unconverged (= wrong) labels.
    *
    * Durability contract: each round truncates lineage with
    * `localCheckpoint` — executor-LOCAL blocks, NOT fault-tolerant. On a
    * single-JVM run that is free; on a real cluster an executor loss
    * mid-run (or after, while downstream still reads the labels) fails
    * the job, which matters for a dedup pass measured in hours. Set
    * `spark.sparkContext.setCheckpointDir(...)` before calling and the
    * loop upgrades itself to RELIABLE checkpoints (HDFS/object-store
    * backed, survives executor loss) at the cost of one write+read of the
    * edge table per round. Either way the previous round's blocks are
    * released as soon as the next round materializes, so storage holds
    * at most two edge-table copies, not `maxIters`. The final round's
    * checkpoint backs the returned frame and stays until that frame is
    * garbage-collected.
    */
  def connectedComponentsStar(vertices: DataFrame, idCol: String,
                              pairs: DataFrame, maxIters: Int = 48): DataFrame = {
    requireIntegralId(vertices, idCol, "connectedComponentsStar")

    // canonical edges: larger id -> smaller id, self-loops dropped
    val init = pairs
      .select(col("d1").cast("long").as("a"), col("d2").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()

    // large-star over the symmetric view: for every undirected edge
    // {u, v} (kept once as v > u), the larger endpoint re-points at
    // m(u) = min(Γ(u) ∪ {u}); output is canonical again since m <= u < v
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.filter(col("v") > col("u"))
        .join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star over canonical edges: every vertex u re-points its
    // smaller neighborhood (and itself) at min(Γ⁻(u)); m < v < u keeps
    // the output canonical
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    // termination = the STRUCTURAL goal itself, not plan-level fixpoint:
    // the canonical edge set is a star forest iff every child u carries
    // exactly one edge AND no node is both child and root — precisely the
    // state where (u, v) IS the (id, rep) mapping. ONE job per round
    // (this was two: a multi-edge count probe plus a child∩root semi
    // join): both endpoint roles union into a single per-node aggregate
    // over the materialized (shrinking) edge table — c = child-edge
    // count, r = appears-as-root flag — and a violation is c > 1 (a
    // multi-edge child) or c > 0 ∧ r > 0 (a node on both sides), exactly
    // the two conditions the separate probes tested
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("u").as("k"), lit(1).as("child"), lit(0).as("root"))
        .union(e.select(col("v").as("k"), lit(0).as("child"), lit(1).as("root")))
        .groupBy(col("k"))
        .agg(sum(col("child")).as("c"), max(col("root")).as("r"))
        .filter(col("c") > 1 || (col("c") > 0 && col("r") > 0))
        .limit(1).count() == 0

    var edges = Iterative.checkpoint(init)
    var prev: DataFrame = null
    var done = false
    var iter = 0
    while (!done && iter < maxIters) {
      val next = Iterative.checkpoint(smallStar(largeStar(edges)))
      done = isStarForest(next)
      if (prev != null) Iterative.releaseCheckpoint(prev)
      prev = edges
      edges = next
      iter += 1
    }
    if (prev != null) Iterative.releaseCheckpoint(prev)
    require(done,
      s"connectedComponentsStar did not converge in $maxIters rounds — " +
        "this exceeds the O(log^2 n) contract; raise maxIters")
    // at the fixpoint every non-root points straight at its component
    // minimum; roots and singletons self-map
    vertices.select(col(idCol).cast("long").as("id"))
      .join(edges.select(col("u").as("id"), col("v").as("star_rep")), Seq("id"), "left")
      .select(col("id"), coalesce(col("star_rep"), col("id")).as("rep_id"))
  }

  /** INCREMENTAL component maintenance — fold an ingest batch into an
    * existing clustering without re-running CC over the corpus. Given the
    * previous labels (id, rep_id) for every already-clustered doc, the
    * batch's new ids, and `newPairs` = every near-dup pair INVOLVING a
    * new doc (new-vs-corpus from an LSH index probe, new-vs-new from
    * banding the batch — [[lshIndexPairs]] produces exactly this),
    * returns updated (id, rep_id) labels for the union.
    *
    * Why it's correct: the old labels partition the corpus into
    * components whose representative IS the component minimum, so
    * contracting every old component to its rep preserves connectivity —
    * a new edge (a, b) connects rep(a) to rep(b). CC therefore only
    * needs to run on the CONTRACTED graph of touched vertices (old reps
    * and new ids that appear in `newPairs`) — an ingest-batch-sized
    * problem regardless of corpus size — and the result composes:
    * final(x) = sub(rep(x)) when rep(x) was touched, else rep(x).
    * The min-id contract survives composition because each old rep is
    * already its component's minimum, so the contracted graph's min IS
    * the member-level min. Output is exactly
    * `connectedComponentsStar(old ∪ new, oldPairs ∪ newPairs)` (parity-
    * pinned in the spec, including the case where one new doc BRIDGES
    * two previously-separate old components, and a long chain of them).
    *
    * Scale shape (the reason this exists): the corpus-sized work is the
    * two id-keyed contraction joins and ONE linear rep-keyed join to
    * re-label members of merged components, all distributed. The
    * contracted edge set has at most |newPairs| rows, so it is collected
    * and clustered on the driver by union-find (the smaller id always
    * the root, so a root is its component's minimum; no rounds, so a
    * long chain of merges costs no more than a star). Driver-memory
    * contract: at most [[MaxContractedEdges]] contracted edges, failing
    * loudly beyond — fold such an ingest in smaller batches. The result
    * joins a local (t_id, t_rep) relation, so the returned plan is
    * constant-sized and nothing is persisted.
    */
  def incrementalComponents(oldLabels: DataFrame, newIds: DataFrame,
                            idCol: String, newPairs: DataFrame): DataFrame = {
    requireIntegralId(newIds, idCol, "incrementalComponents")
    val spark = oldLabels.sparkSession
    import spark.implicits._
    val old = oldLabels.select(col("id").cast("long").as("id"),
      col("rep_id").cast("long").as("rep_id"))
    val fresh = newIds.select(col(idCol).cast("long").as("id"))
    // contract pair endpoints to current representatives (new ids are
    // their own reps) — two linear id-keyed joins against the label table
    val e = newPairs.select(col("d1").cast("long").as("a"), col("d2").cast("long").as("b"))
    val contracted = e
      .join(old.select(col("id").as("a"), col("rep_id").as("ra")), Seq("a"), "left")
      .join(old.select(col("id").as("b"), col("rep_id").as("rb")), Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("d1"),
        coalesce(col("rb"), col("b")).as("d2"))
      .filter(col("d1") =!= col("d2"))
    val edges = org.apache.spark.sql.graftshim.Internals.collectCapped(
      contracted.as[(Long, Long)], MaxContractedEdges)(
      s"incrementalComponents: the batch's contracted edge set exceeds " +
        s"$MaxContractedEdges rows — fold the ingest in smaller batches; " +
        "the touched subgraph is clustered on the driver")
    // union-find over the touched subgraph: a vertex absent from `parent`
    // is a root, and the larger root always hangs under the smaller
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.contains(r)) r = parent(r)
      var y = x // path compression
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // every non-root re-points at its root; roots keep their label
    val sub = parent.keys.toSeq.map(v => (v, find(v))).toDF("t_id", "t_rep")
    // compose: members of touched old components re-point at the merged
    // rep; everything else keeps its label. One rep-keyed join each side
    // against the local relation.
    val updatedOld = old
      .join(sub, old("rep_id") === sub("t_id"), "left")
      .select(col("id"), coalesce(col("t_rep"), col("rep_id")).as("rep_id"))
    val updatedNew = fresh
      .join(sub, fresh("id") === sub("t_id"), "left")
      .select(col("id"), coalesce(col("t_rep"), col("id")).as("rep_id"))
    updatedOld.union(updatedNew)
  }

  /** The cap on [[incrementalComponents]]'s driver-side edge set: the
    * contracted edges of one ingest batch. */
  private val MaxContractedEdges: Int = 1 << 20

  /** The corpus-level dedup TRANSFORM: keep exactly one representative
    * document per near-dup component (the smallest id), tagged with the
    * component size — the step that actually shrinks a training corpus
    * once pairs have been clustered by star contraction
    * ([[connectedComponentsStar]]). Dropped members are recoverable from
    * the components frame; singletons pass through with n_members = 1.
    */
  def keepRepresentatives(df: DataFrame, idCol: String,
                          pairs: DataFrame): DataFrame =
    keepRepresentativesOf(df, idCol,
      connectedComponentsStar(df.select(col(idCol)), idCol, pairs))

  /** [[keepRepresentatives]] over an ALREADY-CLUSTERED component frame
    * (id, rep_id): star-contraction labels from
    * [[connectedComponentsStar]], labels folded by
    * [[incrementalComponents]], or labels loaded from a prior batch job's
    * output. Each emits the min-id-per-component contract, so the kept
    * set is identical whichever produced the frame.
    */
  def keepRepresentativesOf(df: DataFrame, idCol: String,
                            components: DataFrame): DataFrame = {
    val sizes = components
      .groupBy(col("rep_id"))
      .agg(count(lit(1)).as("n_members"))
    df.join(sizes, df(idCol) === sizes("rep_id"))
      .drop("rep_id")
  }

  /** Train/eval contamination check — the decontamination pass of a
    * training-data pipeline: flag training docs whose text shares at
    * least `minHits` distinct n-gram shingles with the eval (benchmark)
    * set's shingle UNION — i.e. shingles appearing anywhere in the eval
    * set, possibly spread across several eval documents. (Union
    * semantics are deliberate: leakage across multiple benchmark items
    * is still leakage; a per-eval-doc threshold would need the pair
    * counts, not this single broadcast filter.)
    *
    * Scale shape: the eval side is benchmark-sized — tiny next to a
    * 100 TB train corpus — so its distinct shingle set BROADCASTS, and the
    * train side explodes shingles WITHOUT a pre-join distinct (a distinct
    * would hash-exchange the full train shingle set before the join —
    * exactly the shuffle this operator exists to avoid): the broadcast
    * filter runs map-side on the raw explode, and per-doc dedup happens
    * AFTER it via countDistinct — so only MATCHING (id, shingle) pairs
    * ever shuffle. A ScalingSpec test pins the shuffle volume to the
    * match count, not the corpus shingle count.
    */
  def contamination(train: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, n: Int = 3, minHits: Int = 1): DataFrame = {
    val evalSh = TextOps.rawShingles(evalSet, idCol, textCol, n)
      .select(col("sh")).distinct()
    TextOps.rawShingles(train, idCol, textCol, n)
      .join(broadcast(evalSh), Seq("sh"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("sh")).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** [[contamination]] with the eval shingle set compressed to a BLOOM
    * FILTER — the variant for when even the eval side is too big to
    * broadcast raw (a full benchmark union at 100 TB train scale:
    * millions of shingles × ~50 bytes vs ~1.2 bytes/item of filter at
    * fpp 1e-8). Built distributed (`stat.bloomFilter` is a
    * treeAggregate), broadcast once, probed map-side.
    *
    * Contract is ONE-SIDED: a bloom filter has no false negatives, so
    * every truly contaminated doc is flagged (n_hits can only
    * OVER-count, never under) and the surviving "clean" set is a SUBSET
    * of the exact operator's — the safe direction for decontamination,
    * where a dropped clean doc costs a little data and a kept
    * contaminated doc poisons the eval. Flagged-set equality with the
    * exact path holds at tight fpp (probe count · fpp ≪ 1) and is
    * pinned on the fixture; the superset direction is pinned even at
    * fpp 0.5. Deterministic: Spark's bloom hashing is seed-fixed, so
    * identical inputs give identical filters and flags.
    */
  def contaminationBloom(train: DataFrame, evalSet: DataFrame, idCol: String,
                         textCol: String, n: Int = 3, minHits: Int = 1,
                         fpp: Double = 1e-8): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    val evalSh = TextOps.rawShingles(evalSet, idCol, textCol, n)
      .select(col("sh")).distinct()
    // sizing count over the BENCHMARK-sized side only (never the corpus)
    val nItems = math.max(1L, evalSh.count())
    val bf = evalSh.stat.bloomFilter("sh", nItems, fpp)
    val bc = train.sparkSession.sparkContext.broadcast(bf)
    val might = udf((s: String) => s != null && bc.value.mightContainString(s))
    TextOps.rawShingles(train, idCol, textCol, n)
      .filter(might(col("sh"))) // map-side; only (likely) matches shuffle
      .groupBy(col(idCol))
      .agg(countDistinct(col("sh")).as("n_hits"))
      .filter(col("n_hits") >= minHits)
  }

  /** DOCUMENT-level fuzzy decontamination: train docs whose whole-document
    * n-gram Jaccard against ANY eval (benchmark) document reaches
    * `threshold` — the near-duplicate complement of [[contamination]]'s
    * shared-shingle count. Shingle-count decontamination catches verbatim
    * leakage; this catches the paraphrased/reformatted copy whose
    * individual n-grams are common but whose SET is eval-shaped (the
    * "fuzzy dedup against eval" pass GPT-3 and PaLM's data cards
    * describe).
    *
    * Output: one row per contaminated (train, eval) pair at exact Jaccard
    * ≥ threshold — (idCol, eval_id, jacc). Downstream keeps
    * `train.join(flagged, anti)`, mirroring the exact operator.
    *
    * Scale shape (the asymmetric twin of [[minHashLSH]]'s self-join): the
    * eval side is benchmark-sized by contract, so its in-memory
    * [[lshIndex]] — band buckets AND verify arrays — BROADCASTS, and the
    * train side runs the ingest gate's [[probeLshIndex]] against it: band
    * signatures and shingle-hash arrays computed per row, candidates and
    * their exact Jaccard from two broadcast hash joins. The 100 TB corpus
    * is never self-joined and never shuffles its shingle sets or arrays;
    * the only wide exchange is the final distinct over verified pairs.
    * Both inputs hold one row per id (rows are not merged by id). Recall
    * is governed by the banding curve: 1-(1-s^r)^b, e.g. 8×4 bands at
    * s=0.8 → 0.93, s=0.97 → ~1.0.
    */
  def contaminationFuzzy(train: DataFrame, evalSet: DataFrame, idCol: String,
                         textCol: String, n: Int = 2, bands: Int = 8,
                         rowsPerBand: Int = 4, threshold: Double = 0.5,
                         seed: Long = 42L): DataFrame = {
    val e = lshIndex(evalSet, idCol, textCol, LshParams(n, bands, rowsPerBand, seed))
    // a pair colliding in several bands verifies once per band; the
    // distinct folds the identical repeats
    probeLshIndex(LshIndex(broadcast(e.buckets), broadcast(e.arrays), e.params), train, idCol, textCol)
      .filter(col("jacc") >= threshold)
      .select(col("s_id").as(idCol), col("c_id").as("eval_id"), col("jacc")).distinct()
  }

  /** All-pairs exact n-gram Jaccard ≥ `threshold` — prefix-filtered
    * set-similarity join (same results as a naive shared-shingle join,
    * without its quadratic blowup on common shingles).
    *
    * Prefix filter (Chaudhuri/Bayardo/Xiao all-pairs similarity): order
    * every doc's shingles by ascending global document frequency (ties by
    * shingle). If J(x,y) ≥ t then |x∩y| ≥ t·max(|x|,|y|), and under any
    * shared total order the ⌊(1-t)·|d|⌋+1 rarest shingles of x and of y
    * must intersect — so candidate pairs join only on those rare prefix
    * shingles (tiny fan-out by construction), and exact Jaccard is
    * verified on candidates only. Everything is linear shuffles plus the
    * candidate-local work.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 2, threshold: Double = 0.5): DataFrame = {
    val bg = graft.CacheScope.pin(TextOps.shingleSet(df, idCol, textCol, n))
    val dfreq = bg.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val ranked = bg.join(dfreq, Seq("sh"))
      .select(col(idCol), col("sh"),
        row_number().over(byDoc.orderBy(col("df"), col("sh"))).as("rk"),
        count(lit(1)).over(byDoc).as("n_sh"))
    // epsilon guards double truncation: (1-t) is inexact for most t (e.g.
    // 1-0.8 = 0.19999…), and a prefix one element short can MISS a
    // qualifying pair; erring one element long never can
    val prefix = ranked
      .filter(col("rk") <= floor(lit(1.0 - threshold) * col("n_sh") + lit(1e-9)) + lit(1))
    val cand = prefix.select(col(idCol).as("d1"), col("sh"))
      .join(prefix.select(col(idCol).as("d2"), col("sh")), Seq("sh"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    verifyJaccard(bg, idCol, cand, threshold)
  }

  /** All-pairs exact n-gram Jaccard ≥ `threshold` — dense block-pair form.
    *
    * Same pair set as `jaccardPairs` (ids must be NUMERIC — they are cast
    * to long for block routing and emitted as longs), built for corpora
    * where prefix
    * filtering cannot prune (small/shared vocabularies: every shingle is
    * common, so candidate joins explode — the fixture corpus has ~900
    * distinct bigrams across 5000 docs). Each doc becomes one sorted
    * array of 64-bit shingle hashes, built per row (no global dictionary,
    * so nothing needs a global pass; `df` holds one row per id), and a
    * block nested-loop counts intersections
    * with a linear merge over primitive arrays — no shuffle of candidate
    * pairs at all. Pair cost is the irreducible N²/2 merges; for corpora
    * too large for any all-pairs walk, `minHashLSH` is the sub-quadratic
    * path and `jaccardPairs` the exact sub-quadratic path on diverse
    * vocabularies.
    */
  def jaccardPairsDense(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 2, threshold: Double = 0.5,
                        groups: Int = 16): DataFrame = {
    requireIntegralId(df, idCol, "jaccardPairsDense")
    val spark = df.sparkSession
    import spark.implicits._
    val docs = shingleIdArrays(df, idCol, textCol, n)
      .select(col(idCol).cast("long"), col("ids"))
      .as[(Long, Array[Long])]
    def intersect(a: Array[Long], b: Array[Long]): Int = {
      var i = 0; var j = 0; var c = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      c
    }
    // triangle blocking (see TriangleBlocks): each doc ships to its
    // bucket's `groups` block-pair tasks, intersections run as linear
    // merges over primitive arrays inside each task
    val paired = TriangleBlocks.allPairs(docs.rdd, groups) { (d1, ids1, d2, ids2) =>
      val i = intersect(ids1, ids2)
      val j = i.toDouble / (ids1.length + ids2.length - i)
      if (j >= threshold) Some((d1, d2, j)) else None
    }
    spark.createDataFrame(paired).toDF("d1", "d2", "jacc")
  }

  /** The dense/block pair paths and the vector indexes cast ids to long;
    * a non-numeric id would cast to null (the pair paths decode it as 0
    * and silently collapse every doc onto id 0; a vector index stores a
    * null id) — fail fast instead.
    */
  private[operators] def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    val t = df.schema(idCol).dataType
    val ok = t match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(ok, s"$op requires an integral id column; '$idCol' is $t")
  }

  /** Exact-Jaccard verification of candidate (d1, d2) pairs against the
    * full shingle sets; shared by the prefix-filter and LSH paths.
    */
  private def verifyJaccard(bg: DataFrame, idCol: String, cand: DataFrame,
                            threshold: Double): DataFrame = {
    val sz = bg.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val x = bg.select(col(idCol).as("d1"), col("sh"))
    val y = bg.select(col(idCol).as("d2"), col("sh"))
    val inter = cand.join(x, Seq("d1")).join(y, Seq("d2", "sh"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col(idCol).as("d1"), col("n_sh").as("n1")), Seq("d1"))
      .join(sz.select(col(idCol).as("d2"), col("n_sh").as("n2")), Seq("d2"))
      .select(col("d1"), col("d2"), jaccard(col("i"), col("n1"), col("n2")).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** Exact Jaccard from an intersection size and the two set sizes — the
    * verify column of every Jaccard pair path. */
  private def jaccard(i: Column, n1: Column, n2: Column): Column =
    i * lit(1.0) / (n1 + n2 - i)

  /** [[jaccard]] of two shingle-hash arrays, distinct by construction, via
    * the codegen'd built-in `array_intersect` (no UDF in the plan). */
  private def arrayJaccard(a: Column, b: Column): Column =
    jaccard(size(array_intersect(a, b)), size(a), size(b))

  /** MinHash + LSH banding: candidate pairs whose signatures collide in at
    * least one band, then exact-Jaccard verification of candidates only.
    *
    * numHashes = bands * rowsPerBand. Collision prob for similarity s is
    * 1-(1-s^rowsPerBand)^bands (e.g. 32 = 8×4: s=0.8 → 0.93, s=0.2 → 0.013).
    *
    * Plan shape: each doc's sorted shingle-hash array is a per-row
    * projection (no shuffle, so `df` must hold one row per id — rows that
    * share an id are not merged); band signatures derive map-side from
    * that array (the native rehash-min kernel); candidates come from the
    * band-bucket self-join; verification joins only the (small)
    * candidate set back to the per-doc arrays and counts the exact
    * intersection with the codegen'd built-in `array_intersect` (the
    * arrays are distinct by construction).
    */
  def minHashLSH(df: DataFrame, idCol: String, textCol: String,
                 n: Int = 2, bands: Int = 8, rowsPerBand: Int = 4,
                 threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    val (docs, cand) = lshStages(df, idCol, textCol, n, bands, rowsPerBand, seed)
    cand
      .join(docs.select(col(idCol).as("d1"), col("ids").as("ids1")), Seq("d1"))
      .join(docs.select(col(idCol).as("d2"), col("ids").as("ids2")), Seq("d2"))
      .select(col("d1"), col("d2"), arrayJaccard(col("ids1"), col("ids2")).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** The LSH candidate stage alone — (d1, d2) pairs whose band signatures
    * collide at least once, BEFORE exact verification. Exposed so the
    * scaling spec can measure candidate growth empirically (the 100 TB
    * claim is precisely that this set grows ~linearly with the corpus
    * while the all-pairs set grows quadratically).
    */
  def minHashLSHCandidates(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 2, bands: Int = 8, rowsPerBand: Int = 4,
                           seed: Long = 42L): DataFrame =
    lshStages(df, idCol, textCol, n, bands, rowsPerBand, seed)._2

  /** Banding parameters of a MinHash-LSH pass: shingle size, bands ×
    * rows per band, and the rehash seed. */
  private[graft] case class LshParams(n: Int, bands: Int, rowsPerBand: Int, seed: Long)

  /** A MinHash-LSH index as frames — band buckets (c_id, band, bsig),
    * verify arrays (c_id, c_ids) — with the parameters that banded it:
    * built in memory by [[lshIndex]] or read back from a [[buildLshIndex]]
    * artifact by [[readLshIndex]]. This object is the only code that
    * knows the persisted layout. */
  private[graft] case class LshIndex(buckets: DataFrame, arrays: DataFrame, params: LshParams)

  /** Build the corpus's MinHash-LSH index ONCE and persist it — the text
    * sibling of `Similarity.buildIvfIndex`, and the serving shape for a
    * continuous-ingest dedup gate: a 100 TB corpus is shingled, hashed,
    * and band-bucketed by a batch job; every later ingest batch routes
    * into the stored buckets without touching corpus text again (the
    * corpus-side shingle pass is THE cost the split removes). Both sides
    * build a doc's array the same way, as per-row map work with no
    * shuffle, so `corpus` holds one row per id (rows are not merged).
    *   `indexDir/buckets`  (c_id, bsig) Hive-partitioned by `band`;
    *   `indexDir/arrays`   (c_id, c_ids) sorted shingle-hash arrays for
    *                       the exact-Jaccard verify join;
    *   `indexDir/params`   one tab-separated line (n, bands,
    *                       rows_per_band, seed, id_type) — the serve path
    *                       derives probe signatures from THIS, so an index
    *                       probed with mismatched banding (which would
    *                       silently have zero recall) cannot happen.
    * `c_id` keeps the corpus id column's own type (no widening); params
    * records it as DDL (`id_type`), so every table reads back with its
    * full fixed schema and no schema-inference job. The params file is
    * written and read through the Hadoop `FileSystem` directly, so reading
    * it back starts no Spark job.
    */
  def buildLshIndex(corpus: DataFrame, idCol: String, textCol: String,
                    indexDir: String, n: Int = 2, bands: Int = 8,
                    rowsPerBand: Int = 4, seed: Long = 42L): Unit = {
    writeLshIndex(corpus, idCol, textCol, LshParams(n, bands, rowsPerBand, seed),
      indexDir, "overwrite")
    val (fs, path) = lshParamsFile(corpus.sparkSession, indexDir)
    val out = fs.create(path, true)
    try out.write(Seq(n, bands, rowsPerBand, seed, corpus.schema(idCol).dataType.sql)
      .mkString("\t").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Incremental maintenance for a [[buildLshIndex]] artifact: append
    * newly ACCEPTED documents (the ingest gate's non-duplicates) to the
    * stored buckets and verify arrays, using the band parameters the
    * index itself records — the complete ingest cycle is probe → accept →
    * append, and the corpus is never re-shingled. Appends are new parquet
    * files under the same band partitions (no rewrite of existing data);
    * callers are responsible for not appending the same id twice (the
    * gate's accept set is distinct by construction).
    */
  def appendToLshIndex(accepted: DataFrame, idCol: String, textCol: String,
                       indexDir: String): Unit =
    writeLshIndex(accepted, idCol, textCol,
      readLshParams(accepted.sparkSession, indexDir)._1, indexDir, "append")

  /** The one writer of an index's buckets and arrays: `overwrite` builds,
    * `append` extends under the same band partitions. The arrays are
    * pinned for the two writes, so the input is shingled once. */
  private def writeLshIndex(docs: DataFrame, idCol: String, textCol: String,
                            p: LshParams, indexDir: String, mode: String): Unit =
    graft.CacheScope.scoped {
      val arrays = graft.CacheScope.pin(lshIndex(docs, idCol, textCol, p).arrays)
      arrays.write.mode(mode).parquet(s"$indexDir/arrays")
      bandBuckets(arrays, "c_id", "c_ids", p)
        .write.mode(mode).partitionBy("band").parquet(s"$indexDir/buckets")
    }

  private def lshParamsFile(spark: org.apache.spark.sql.SparkSession, indexDir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val path = new org.apache.hadoop.fs.Path(s"$indexDir/params")
    (path.getFileSystem(spark.sessionState.newHadoopConf()), path)
  }

  /** The index's banding and the DDL type of its `c_id` column, read from
    * the one-line `params` file on the driver — no Spark job. */
  private def readLshParams(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String): (LshParams, String) = {
    val (fs, path) = lshParamsFile(spark, indexDir)
    val in = fs.open(path)
    val Array(n, bands, rowsPerBand, seed, idType) =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).split('\t')
      finally in.close()
    (LshParams(n.toInt, bands.toInt, rowsPerBand.toInt, seed.toLong), idType)
  }

  /** A persisted [[buildLshIndex]] artifact as index frames, banded under
    * its own recorded params; reading it starts no job. */
  private[graft] def readLshIndex(spark: org.apache.spark.sql.SparkSession,
                                  indexDir: String): LshIndex = {
    val (p, idType) = readLshParams(spark, indexDir)
    LshIndex(spark.read.schema(s"c_id $idType, bsig BIGINT, band INT").parquet(s"$indexDir/buckets"),
      spark.read.schema(s"c_id $idType, c_ids ARRAY<BIGINT>").parquet(s"$indexDir/arrays"), p)
  }

  /** The index frames of a corpus, in memory — what [[buildLshIndex]]
    * persists, and the static side of the fused ingest gate: a per-row
    * projection of `corpus` (one row per id) with no shuffle. Docs with
    * no shingles have no arrays and no buckets. */
  private[graft] def lshIndex(corpus: DataFrame, idCol: String, textCol: String,
                              p: LshParams): LshIndex = {
    val arrays = shingleIdArrays(corpus, idCol, textCol, p.n)
      .select(col(idCol).as("c_id"), col("ids").as("c_ids"))
    LshIndex(bandBuckets(arrays, "c_id", "c_ids", p), arrays, p)
  }

  /** The batch-vs-index probe shared by the ingest gate
    * (`StreamDedup.dedupAgainstLshIndex` and its fused form),
    * [[lshIndexPairs]] and [[contaminationFuzzy]]: each incoming ROW's
    * shingle-hash array and band signatures computed MAP-SIDE, the
    * (band, bsig) bucket join, exact Jaccard against the stored arrays. One row per (incoming doc, band
    * collision): (s_id, c_id, jacc). Left joins keep no-candidate docs
    * alive with null c_id and jacc, and `explode_outer` of a null band
    * array keeps shingle-less docs. Streaming-legal by construction — no
    * aggregation, no distinct — so the gate can run it on a stream and
    * fold it with its one per-document aggregation.
    */
  private[graft] def probeLshIndex(index: LshIndex, incoming: DataFrame,
                                   idCol: String, textCol: String): DataFrame = {
    val p = index.params
    shingleHashes(incoming, idCol, textCol, p.n)
      .select(col(idCol).as("s_id"), col("ids").as("s_ids"),
        explode_outer(when(size(col("ids")) > 0, bandSigs(col("ids"), p))).as("bk"))
      .select(col("s_id"), col("s_ids"), col("bk.band").as("band"), col("bk.bsig").as("bsig"))
      .join(index.buckets, Seq("band", "bsig"), "left")
      .join(index.arrays, Seq("c_id"), "left")
      .select(col("s_id"), col("c_id"),
        when(col("c_ids").isNotNull, arrayJaccard(col("s_ids"), col("c_ids"))).as("jacc"))
  }

  /** Near-dup PAIRS for an ingest batch against a persisted
    * [[buildLshIndex]] artifact — the pair-producing probe the
    * incremental clustering fold consumes. ONE [[probeLshIndex]] (the
    * ingest gate's own probe, so a batch doc is a gate duplicate exactly
    * when it pairs with an indexed doc here) of the batch against the
    * stored index frames plus the batch's own [[lshIndex]] frames, both
    * banded under the parameters the index records; self pairs drop. The
    * result is EXACTLY the full-corpus [[minHashLSH]] pair set restricted
    * to pairs involving a batch doc (absent 64-bit shingle-hash
    * collisions) — a band signature depends only on a doc's own shingles
    * and the shared seed, so probing stored buckets and banding the union
    * produce the same collisions — which is why [[incrementalComponents]]
    * over these pairs reproduces the from-scratch clustering without ever
    * re-shingling the corpus. Returns (d1, d2, jacc) with d1 < d2.
    * Batch-sized work throughout, and nothing persisted: the corpus
    * contributes two parquet reads (buckets join + verify arrays join),
    * never a shingle pass.
    */
  def lshIndexPairs(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                    idCol: String, textCol: String, indexDir: String,
                    threshold: Double = 0.5): DataFrame = {
    val stored = readLshIndex(spark, indexDir)
    val own = lshIndex(batch, idCol, textCol, stored.params)
    val index = LshIndex(stored.buckets.unionByName(own.buckets),
      stored.arrays.unionByName(own.arrays), stored.params)
    // a pair colliding in several bands verifies once per band, and a
    // batch-vs-batch pair once from each side; the distinct folds the
    // byte-identical repeats
    probeLshIndex(index, batch, idCol, textCol)
      .filter(col("s_id") =!= col("c_id") && col("jacc") >= threshold)
      .select(least(col("s_id"), col("c_id")).as("d1"),
        greatest(col("s_id"), col("c_id")).as("d2"), col("jacc"))
      .distinct()
  }

  /** Band signatures as a map-side array expression over a sorted
    * shingle-hash array column: one `(band, bsig)` struct per band, bsig =
    * hash of the band's `rowsPerBand` min-rehashes. Shared by the batch
    * LSH pair paths and [[probeLshIndex]] (which computes it per incoming
    * row with NO shuffle — band routing is the whole point of LSH at
    * ingest time).
    *
    * Evaluates through the native [[graft.functions.LshBandSigs]]
    * expression: the fold form below runs bands×rowsPerBand interpreted
    * `transform` passes per row (higher-order functions are
    * CodegenFallback), which dominated every LSH row's cost at sf0.1; the
    * native kernel is one primitive loop per row using Spark's own XXH64,
    * bit-identical by construction (parity-pinned in TextHashExprsSpec
    * against [[bandSigsFold]]).
    */
  private def bandSigs(idsCol: Column, p: LshParams): Column =
    graft.functions.TextHashExprs.lshBandSigs(idsCol, p.bands, p.rowsPerBand, p.seed)

  /** One row per (doc, band): `idCol` and the band-bucket key (band, bsig)
    * of the sorted shingle-hash array in `idsCol`, computed map-side. */
  private def bandBuckets(docs: DataFrame, idCol: String, idsCol: String,
                          p: LshParams): DataFrame =
    docs.select(col(idCol), explode(bandSigs(col(idsCol), p)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bsig").as("bsig"))

  /** The lambda-fold construction [[bandSigs]] replaced — kept as the
    * dependency-free parity baseline the native expression is pinned
    * against (the `Similarity.hyperplaneSignature` precedent).
    */
  private[graft] def bandSigsFold(idsCol: org.apache.spark.sql.Column,
                                  bands: Int, rowsPerBand: Int, seed: Long) =
    array((0 until bands).map { b =>
      val mins = (0 until rowsPerBand).map { r =>
        val s = seed + (b * rowsPerBand + r)
        array_min(transform(idsCol, x => xxhash64(x, lit(s))))
      }
      struct(lit(b).as("band"), xxhash64(mins: _*).as("bsig"))
    }: _*)

  /** Each row's sorted, distinct shingle-hash array `ids` — the
    * representation every LSH/dense path bands and verifies against —
    * built MAP-SIDE: (idCol, ids), one output row per input row, no
    * shuffle. Rows are not merged by id, so callers hold one row per
    * document. `array_distinct` over hashes mirrors [[TextOps.shingleSet]]'s
    * distinct-shingle contract (identical sets absent 64-bit collisions);
    * the token array materializes first per the HOF re-evaluation rule in
    * TextOps. A shingle-less row keeps its empty array (a null text keeps
    * a null one), which [[probeLshIndex]] needs to keep such docs alive.
    */
  private def shingleHashes(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val sh = if (n == 1) col("__toks") else TextOps.shingles(col("__toks"), n)
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), array_sort(array_distinct(transform(sh, x => xxhash64(x)))).as("ids"))
  }

  /** [[shingleHashes]] without shingle-less documents: the per-doc arrays
    * of the batch LSH/dense paths, which would otherwise band or pair an
    * empty set. The drop is a one-row generator, not a filter: the
    * optimizer pushes a filter on `ids` below the projection that builds
    * it, which then builds every array twice. */
  private[graft] def shingleIdArrays(df: DataFrame, idCol: String,
                                     textCol: String, n: Int): DataFrame =
    shingleHashes(df, idCol, textCol, n)
      .select(col(idCol), explode(when(size(col("ids")) > 0, array(col("ids")))).as("ids"))

  /** Shared LSH pipeline prefix: per-doc sorted shingle-hash arrays and
    * the band-collision candidate pairs over them.
    */
  private def lshStages(df: DataFrame, idCol: String, textCol: String,
                        n: Int, bands: Int, rowsPerBand: Int, seed: Long): (DataFrame, DataFrame) = {
    val docs = graft.CacheScope.pin(shingleIdArrays(df, idCol, textCol, n))
    val buckets = bandBuckets(docs, idCol, "ids", LshParams(n, bands, rowsPerBand, seed))
    val cand = buckets.as("l").join(buckets.as("r"), Seq("band", "bsig"))
      .filter(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("d1"), col(s"r.$idCol").as("d2"))
      .distinct()
    (docs, cand)
  }

  /** SimHash fingerprints: one 64-bit fingerprint per doc (mergeable
    * aggregator over shingle hashes).
    */
  def simHashFingerprints(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 2): DataFrame =
    TextOps.shingleSet(df, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(SimHashAgg.simhash(xxhash64(col("sh"))).as("simhash"))

  /** SimHash near-dup pairs: Hamming distance ≤ maxHamming, exact, via
    * pigeonhole banding. The 64-bit fingerprint is split into
    * maxHamming+1 contiguous bit-bands; any pair within Hamming distance
    * maxHamming differs in at most maxHamming bands, so it agrees exactly
    * on at least one — candidates are therefore pairs colliding on
    * (band, bits), a bucket-local equi join (never all-pairs), and the
    * exact Hamming filter runs on candidates only. Recall is 1.0 by the
    * pigeonhole argument.
    *
    * Radius vs scale: filtering power is 2^(bits-per-band) =
    * 2^(64/(maxHamming+1)), so the default is the web-dedup literature's
    * k = 3 (Manku/Jain/Das Sarma, WWW'07: 64-bit simhash, distance 3) —
    * four 16-bit bands, ~65k bucket values per band, candidates ~linear
    * in the corpus (growth measured in ScalingSpec). Radii near 10 leave
    * bands of 5-6 bits (≲64 values), so at N ≫ 10⁴ every bucket holds
    * ~N/64 docs and the bucket-local join degrades toward quadratic —
    * legitimate for small corpora, not a 100 TB default.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 2, maxHamming: Int = 3): DataFrame = {
    val (_, cand) = simHashStages(df, idCol, textCol, n, maxHamming)
    cand
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** The simHash candidate stage alone — band-collision pairs BEFORE the
    * exact Hamming filter (with both fingerprints). Exposed so the scaling
    * spec can measure candidate growth empirically, mirroring
    * `minHashLSHCandidates`.
    */
  def simHashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 2, maxHamming: Int = 3): DataFrame =
    simHashStages(df, idCol, textCol, n, maxHamming)._2

  private def simHashStages(df: DataFrame, idCol: String, textCol: String,
                            n: Int, maxHamming: Int): (DataFrame, DataFrame) = {
    val fp = simHashFingerprints(df, idCol, textCol, n)
    (fp, bandCandidates(fp, idCol, "simhash", maxHamming))
  }

  /** md5-derived 64-bit shingle hash — the ENGINE-PORTABLE twin of the
    * xxhash64 shingle key (the `Sampling.uniformByHash` md5-portability
    * precedent): the first two 8-hex-char halves of `md5(sh)` parse as
    * exact 32-bit integers and pack `hi << 32 | lo`, so any engine with
    * md5 re-derives the identical 64 signature bits
    * (`CAST('0x' || substring(md5(sh), 1, 8) AS BIGINT)` etc. in SQL).
    * Slower than xxhash64 (cryptographic digest + hex round-trip) —
    * that's the portability tax; the default paths keep xxhash64.
    */
  private def portableShingleHash(
      sh: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftleft(conv(substring(md5(sh), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(sh), 9, 8), 16, 10).cast("long"))

  /** [[simHashFingerprints]] over md5-portable shingle hashes: identical
    * sketch semantics (same aggregator, same sign rule), every bit
    * re-derivable outside the engine.
    */
  def simHashFingerprintsPortable(df: DataFrame, idCol: String, textCol: String,
                                  n: Int = 2): DataFrame =
    TextOps.shingleSet(df, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(SimHashAgg.simhash(portableShingleHash(col("sh"))).as("simhash"))

  /** [[simHashPairs]] over the md5-portable fingerprints — the variant a
    * cross-engine pipeline (or the DuckDB oracle gate) can replay
    * bit-for-bit: portable shingle hashes feed the same sign-accumulator
    * sketch, the same pigeonhole bands, and the same exact `bit_count`
    * Hamming filter (catalog `dedup_simhash_portable`, hash-checked).
    * Same radius-vs-scale contract and 1.0-recall pigeonhole argument as
    * the xxhash64 default.
    */
  def simHashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 2, maxHamming: Int = 3): DataFrame =
    bandCandidates(simHashFingerprintsPortable(df, idCol, textCol, n),
        idCol, "simhash", maxHamming)
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Pigeonhole band-collision candidates over ANY 64-bit fingerprint
    * column (the [[simHashPairs]] banding, factored for reuse by every
    * hamming-radius search — text simhash, image dHash, …): the
    * fingerprint splits into maxHamming+1 contiguous bit-bands; a pair
    * within the radius agrees exactly on ≥ 1 band, so candidates are
    * bucket-local equi-join collisions, never all-pairs. Returns
    * (d1, d2, h1, h2) with d1 < d2.
    */
  /** The pigeonhole band-signature array for a 64-bit fingerprint column:
    * maxHamming+1 (band, bits) structs, band b covering bit range
    * [b·64/nb, (b+1)·64/nb). A pure per-row expression (no shuffle, no
    * state) — exposed so STREAMING gates can compute probe signatures
    * map-side (the `bandSigs` convention of the MinHash ingest path).
    */
  private[graft] def hammingBandSigs(hash: org.apache.spark.sql.Column,
                                     maxHamming: Int): org.apache.spark.sql.Column = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming out of range: $maxHamming")
    val nb = maxHamming + 1
    array((0 until nb).map { b =>
      val lo = b * 64 / nb
      val width = (b + 1) * 64 / nb - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(b).as("band"),
        shiftrightunsigned(hash, lo).bitwiseAND(lit(mask)).as("bits"))
    }: _*)
  }

  private def bandCandidates(fp: DataFrame, idCol: String, hashCol: String,
                             maxHamming: Int): DataFrame = {
    val buckets = fp
      .select(col(idCol), col(hashCol),
        explode(hammingBandSigs(col(hashCol), maxHamming)).as("bk"))
      .select(col(idCol), col(hashCol),
        col("bk.band").as("band"), col("bk.bits").as("bits"))
    buckets.as("l").join(buckets.as("r"), Seq("band", "bits"))
      .filter(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("d1"), col(s"r.$idCol").as("d2"),
        col(s"l.$hashCol").as("h1"), col(s"r.$hashCol").as("h2"))
      .distinct()
  }

  /** Exact Hamming-radius pairs over a precomputed 64-bit fingerprint
    * frame (id, `hashCol`) — pigeonhole band candidates + exact
    * `bit_count` filter, recall 1.0 by the pigeonhole argument (the
    * [[simHashPairs]] machinery opened to ANY fingerprint source: image
    * perceptual hashes, audio fingerprints, rolling text hashes).
    * Same radius-vs-scale contract as simHashPairs: bands of
    * 64/(maxHamming+1) bits must stay selective for the corpus size.
    *
    * The fingerprint frame is PINNED before banding: both sides of the
    * band self-join consume it, and unlike simHashPairs (whose
    * fingerprints sit behind an aggregation exchange Spark reuses) a
    * caller's fp is typically a pure map-side plan — decode + hash of
    * every asset — that would otherwise re-run its codec UDFs once per
    * join side. The pinned table is (id, hash) — 16 bytes a row,
    * corpus-linear but tiny; the codecs run exactly once (measured 21×
    * on the 10× audio-dedup sweep before the pin).
    */
  def hammingPairs(fp: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int = 3): DataFrame =
    bandCandidates(
      graft.CacheScope.pin(fp.select(col(idCol), col(hashCol))), idCol, hashCol, maxHamming)
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
}

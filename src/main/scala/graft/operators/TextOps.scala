package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._
import graft.functions.NextKPage

/** Text-analysis operators over a document corpus (north-star extension,
  * SURVEY.md §2.11): tokenization, shingling, term frequencies, quality
  * scoring, language-ID heuristic, fingerprinting.
  *
  * Everything is built from codegen'd `functions._` / lambda higher-order
  * functions — no UDF in the row loop; all aggregations are single-shuffle
  * groupBys keyed by doc or term, which scale linearly at 100 TB.
  */
object TextOps {

  /** Whitespace tokens (regex split, trimmed). Note: a blank/whitespace
    * string yields [""], one empty token — deliberately NOT filtered,
    * because DuckDB's string_split_regex has the identical semantics and
    * the oracle contract mirrors expressions, not intentions.
    */
  def tokens(textCol: Column): Column = split(trim(textCol), "\\s+")

  /** JVM twin of the SQL word stream `explode(tokens(text))` filtered
    * nonempty ([[graft.operators.Bpe.wordCounts]]'s tokenization), for
    * partition-local kernels that segment words off-plan (Bpe.encode).
    * Kept HERE, next to [[tokens]], so the two definitions cannot drift:
    * the JVM side trims more aggressively (String.trim strips tabs and
    * newlines, SQL trim only spaces), but the NONEMPTY pieces of a `\s+`
    * split are insensitive to how the string's ends were trimmed, so the
    * word sequences agree for every input — BpeSpec pins parity on edge
    * inputs (leading tabs, blank strings, NBSP non-splits).
    */
  def jvmWords(text: String): IndexedSeq[String] =
    text.trim.split("\\s+").toIndexedSeq.filter(_.nonEmpty)

  /** Word n-gram shingle list over a token-array column. 1-based
    * element_at matches DuckDB list_extract; the guard keeps short docs at
    * an empty list (Spark's sequence(1, 0) would be DESCENDING, not empty).
    */
  def shingles(toksCol: Column, n: Int): Column = {
    require(n >= 2)
    // native TokenWindows expression: the fold form below evaluates one
    // interpreted concat_ws lambda per window (higher-order functions are
    // CodegenFallback); the native kernel is one primitive loop per row,
    // value-identical (parity-pinned in TextHashExprsSpec against
    // [[shinglesFold]]).
    graft.functions.TextHashExprs.tokenWindows(toksCol, n)
  }

  /** The lambda-fold construction [[shingles]] replaced — kept as the
    * dependency-free parity baseline (the bandSigsFold precedent).
    */
  private[graft] def shinglesFold(toksCol: Column, n: Int): Column = {
    require(n >= 2)
    when(size(toksCol) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toksCol) - lit(n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toksCol, i + lit(k))): _*)))
  }

  /** (doc_id, shingle) distinct pairs for a text column — the shared input
    * of Jaccard / MinHash / SimHash dedup.
    *
    * The token array is materialized as its own projection first: inlining
    * `split()` into the shingle lambda would re-run the regex split for
    * every `element_at` of every shingle (O(tokens²) splits per doc —
    * higher-order functions evaluate interpreted, with no common-subexpr
    * elimination inside the lambda).
    */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame =
    rawShingles(df, idCol, textCol, n).distinct()

  /** (id, shingle) pairs WITH per-doc duplicates kept — the raw explode
    * (token split materialized once, per the HOF rule above). Callers that
    * must avoid the distinct's shuffle (e.g. `Dedup.contamination`, which
    * dedups AFTER its broadcast filter) build on this directly.
    */
  def rawShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val withToks = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val sh = if (n == 1) col("__toks") else shingles(col("__toks"), n)
    withToks.select(col(idCol), explode(sh).as("sh"))
  }

  /** Token count per document. */
  def tokenCount(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))

  /** BPE-ish regex segmentation: runs of letters, runs of digits, and
    * single other non-space characters — the shape of a GPT-style
    * pre-tokenizer, shared verbatim with the DuckDB oracle.
    */
  val bpePattern: String = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Subword-ish token count per document (regex segmentation). */
  def bpeTokenCount(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(bpePattern), lit(0)))
        .cast("long").as("n_bpe_tokens"))

  /** Corpus-wide term frequencies, top `k`. */
  def termFrequencies(df: DataFrame, textCol: String, k: Int = 20): DataFrame =
    df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc_nulls_first)
      .limit(k)

  /** Per-document top-`k` keywords by smoothed TF-IDF (the sklearn
    * formula: `tf · (ln((1+N)/(1+df)) + 1)`) — keyword extraction /
    * topic tagging over a training corpus. Returns
    * (id, term, tf, tfidf, rk) with rk 1..k per doc, ordered by
    * (tfidf DESC, term ASC); the score is rounded to 6 places BEFORE
    * ranking so the order is reproducible across engines (ties then
    * break on the unique term).
    *
    * Scale shape: term frequencies are one (id, term) shuffle; document
    * frequencies reuse that table already keyed by term (co-partitioned
    * groupBy + join — no extra exchange); the per-doc top-k runs through
    * the bounded `NextKPageAgg` buffer grouped by id, so only
    * `partitions · |docs| · k` rows shuffle for the ranking — the
    * `row_number()` window form would sort every doc's full vocabulary
    * in one task.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    val tf = graft.CacheScope.pin(
      rawShingles(df, idCol, textCol, 1)
        .groupBy(col(idCol), col("sh").as("term"))
        .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.count().toDouble
    val scored = tf.join(dfreq, Seq("term"))
      .select(col(idCol), col("term"), col("tf"),
        round(col("tf") * (log((lit(1.0) + lit(n)) / (lit(1.0) + col("df"))) + lit(1.0)), 6)
          .as("tfidf"))
    // (tfidf, term) is unique within a doc, so the page's dedup counts
    // are all 1 and the page IS the row_number sequence (the rerankTopK
    // precedent)
    scored.groupBy(col(idCol))
      .agg(NextKPage.page(struct(col("tfidf"), col("term"), col("tf")),
        Seq(false, true, true), k).as("pg"))
      .select(col(idCol), posexplode(col("pg")).as(Seq("pos", "e")))
      .select(col(idCol), col("e.key.term").as("term"), col("e.key.tf").as("tf"),
        col("e.key.tfidf").as("tfidf"), (col("pos") + 1).cast("long").as("rk"))
  }

  /** BM25 relevance top-k — full-text search over the corpus for a fixed
    * bag of query terms (Robertson/Sparck Jones probabilistic ranking,
    * the Lucene `k1`/`b` parameterization with the nonnegative
    * `ln(1 + (N - df + ½)/(df + ½))` idf):
    *
    *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    *
    * Returns the k highest-scoring docs as (id, score rounded to 6),
    * ordered by (rounded score DESC, id) — deterministic on both engines.
    *
    * Scale shape: the corpus explodes to tokens but FILTERS to query
    * terms map-side BEFORE any shuffle (the contamination precedent), so
    * only matching (doc, term) pairs reach the tf aggregation; document
    * lengths are a map-side projection joined doc-keyed (AQE broadcasts
    * the small tf side); df and the (N, Σ|d|) scalars are driver-side
    * sketch-sized by contract (≤ |query| rows + one row), baked into the
    * score as literals; the global top-k is `orderBy().limit(k)` =
    * TakeOrderedAndProject — per-partition heaps, never a full sort.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               query: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25TopK: empty query")
    require(k > 0, s"k must be > 0, got $k")
    val lens = df.select(col(idCol), size(tokens(col(textCol))).cast("long").as("__dl"))
    val st = lens.agg(count(lit(1)).as("n"), sum(col("__dl")).as("sdl")).head()
    val n = st.getLong(0)
    require(n > 0, "bm25TopK: empty corpus")
    val avgdl = st.getLong(1).toDouble / n
    val tf = rawShingles(df, idCol, textCol, 1)
      .filter(col("sh").isin(query.map(lit): _*)) // map-side, pre-shuffle
      .groupBy(col(idCol), col("sh").as("term"))
      .agg(count(lit(1)).as("tf"))
    // document frequency per query term — ≤ |query| rows by contract
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = query.distinct.foldLeft(lit(null).cast("double")) { (rest, t) =>
      val d = dfreq.getOrElse(t, 0L).toDouble
      when(col("term") === lit(t), lit(math.log(1.0 + (n - d + 0.5) / (d + 0.5))))
        .otherwise(rest)
    }
    val termScore = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / lit(avgdl)))
    tf.join(lens, Seq(idCol))
      .groupBy(col(idCol))
      .agg(round(sum(termScore), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** [[bm25TopK]] with an explicit dense rank column — the sparse side of
    * a hybrid-retrieval fusion. The rank is row_number in the page's own
    * order (round-6 score DESC, id ASC); the window sorts only the
    * already-limited `k`-row page, so it is bounded by construction
    * (never the corpus — the general window-sort prohibition does not
    * apply to a page-sized frame).
    */
  def bm25Ranked(df: DataFrame, idCol: String, textCol: String,
                 query: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col(idCol))
    bm25TopK(df, idCol, textCol, query, k, k1, b)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009) —
    * the hybrid-retrieval combiner: fuse N ranked lists (id, rank) of
    * the same corpus into one list by `rrf(d) = Σ_lists 1/(k0 + rank)`,
    * `k0 = 60` per the paper. Docs absent from a list contribute
    * nothing for it; `n_lists` reports how many lists carried the doc.
    * Every contribution is one exact double division of integers, so
    * two-list fusion (the sparse+dense catalog shape) is order-exact
    * under the commutative two-term sum and the round-6 page replays in
    * SQL; at N > 2 the sum order is partition-dependent and round-6
    * absorbs the last-ulp association drift. Inputs are top-k PAGES
    * (bounded by construction), so the fused frame is ≤ Σ|pages| rows —
    * the final window sort is page-sized, never corpus-sized.
    *
    * Catalog `search_hybrid_rrf` fuses [[bm25Ranked]] with the
    * pinned-IVF dense page — sparse scan is one map-side term filter,
    * dense scan probes nprobe/nlist of the corpus, fusion joins two
    * page-sized lists: the whole hybrid query is 100 TB-shaped.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: at least one ranking required")
    require(k > 0, s"k must be > 0, got $k")
    require(k0 >= 0, s"k0 must be >= 0, got $k0")
    // operator-level schema contract (not a deep-plan AnalysisException):
    // each list is (id, rank). Per-list id UNIQUENESS is assumed, not
    // scanned for — duplicate ids in one list would inflate both rrf and
    // n_lists; producers (bm25Ranked, the ANN pages) emit row_number'd
    // pages where ids are unique by construction.
    rankings.zipWithIndex.foreach { case (r, i) =>
      Seq("id", "rank").foreach { c =>
        require(r.columns.contains(c),
          s"rrfFuse: ranking #$i lacks required column '$c' " +
            s"(has: ${r.columns.mkString(", ")})")
      }
    }
    val contribs = rankings
      .map(_.select(col("id"), col("rank").cast("long").as("rank")))
      .reduce(_ unionByName _)
      .select(col("id"),
        (lit(1.0) / (lit(k0.toDouble) + col("rank"))).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf").desc, col("id"))
    contribs.groupBy(col("id"))
      .agg(round(sum(col("c")), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy(col("rk"))
  }

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "in")

  /** Quality heuristics: token count, stopword ratio, mean token length,
    * punctuation ratio (training-data quality scoring). `passthrough`
    * columns ride the map-side projection unchanged (e.g. `source` for a
    * per-source rollup).
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
                   passthrough: Seq[String] = Nil): DataFrame = {
    val t = tokens(col(textCol))
    val stopList = stopwords.map(lit).toIndexedSeq
    val nTok = size(t).cast("long")
    val nStop = size(filter(t, x => x.isin(stopList: _*))).cast("long")
    val sumLen = aggregate(t, lit(0L), (acc, x) => acc + length(x).cast("long"))
    val nonText = length(regexp_replace(col(textCol), "[a-z0-9 ]", ""))
    df.select(
      col(idCol) +:
        passthrough.map(col) :+
        nTok.as("n_tokens") :+
        (nStop * lit(1.0) / nTok).as("stop_ratio") :+
        (sumLen * lit(1.0) / nTok).as("avg_token_len") :+
        (nonText * lit(1.0) / length(col(textCol))).as("punct_ratio"): _*)
  }

  /** Repetition score (training-data quality): per doc, total n-grams
    * WITH multiplicity, the count of the most-repeated n-gram, and their
    * ratio — boilerplate/looped generations score high. Two linear
    * doc-keyed shuffles; docs too short to form an n-gram are absent.
    */
  def repetitionScore(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    val withToks = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    withToks.select(col(idCol), explode(shingles(col("__toks"), n)).as("sh"))
      .groupBy(col(idCol), col("sh")).agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(sum("cnt").as("n_grams"), max("cnt").as("max_gram_cnt"))
      .select(col(idCol), col("n_grams"), col("max_gram_cnt"),
        round(col("max_gram_cnt") * lit(1.0) / col("n_grams"), 6).as("rep_ratio"))
  }

  /** Bigram-LM cross-entropy scoring — the CCNet/Gopher-style "does this
    * look like the reference corpus" quality filter: train an add-k
    * smoothed bigram language model on `lm` (counts only — the model IS
    * two count tables), then score every document of `docs` by its mean
    * per-bigram cross-entropy under that model,
    * `P(w2|w1) = (C(w1 w2) + k) / (C(w1) + k·|V|)`. Low cross-entropy =
    * looks like the reference; pipelines gate or temperature-sample on
    * it. Returns (id, n_bigrams, cross_entropy, perplexity = 2^ce); docs
    * with fewer than two tokens have no bigram and are absent (the
    * repetitionScore contract). Tokens/bigrams UNSEEN in `lm` are
    * handled by the smoothing: an unseen first token scores every
    * continuation at the uniform 1/|V|.
    *
    * Scale shape: counts are two linear shuffles over the lm corpus
    * (keyed bigram / unigram); scoring is two joins the target bigrams
    * reach ALREADY KEYED by the same columns (bigram, then first-token)
    * plus a doc-keyed rollup — all linear, nothing corpus-sized on the
    * driver (|V| is a one-scalar count; AQE broadcasts the count tables
    * when a small reference corpus makes them broadcast-sized).
    */
  def lmScore(lm: DataFrame, docs: DataFrame, idCol: String, textCol: String,
              addK: Double = 0.5): DataFrame = {
    require(addK > 0, s"addK must be positive (got $addK): k=0 makes unseen bigrams -log 0")
    val uni = graft.CacheScope.pin(
      rawShingles(lm, idCol, textCol, 1)
        .groupBy(col("sh").as("w1")).agg(count(lit(1)).as("cw")))
    val bi = rawShingles(lm, idCol, textCol, 2)
      .groupBy(col("sh")).agg(count(lit(1)).as("cb"))
    val vocab = uni.count().toDouble
    // per-occurrence target bigrams (multiplicity matters for a mean);
    // the first token rides along for the unigram join — a bigram
    // shingle is concat_ws(" ", w1, w2) and tokens cannot contain
    // whitespace, so the split is exact
    val target = rawShingles(docs, idCol, textCol, 2)
      .select(col(idCol), col("sh"),
        element_at(split(col("sh"), " "), 1).as("w1"))
    val p = (coalesce(col("cb"), lit(0L)) + lit(addK)) /
      (coalesce(col("cw"), lit(0L)) + lit(addK) * lit(vocab))
    target
      .join(bi, Seq("sh"), "left")
      .join(uni, Seq("w1"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(-log2(p)).as("cross_entropy"))
      .withColumn("perplexity", pow(lit(2.0), col("cross_entropy")))
  }

  /** Per-language stopword marker lists for the language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "in"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "des"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** N-gram/stopword-hit language ID: score each language by marker-token
    * hits, argmax with a fixed tie-break order (first listed wins).
    */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    val scored = langMarkers.foldLeft(df.select(col(idCol), t.as("toks"))) {
      case (d, (lang, words)) =>
        d.withColumn(s"s_$lang",
          size(filter(col("toks"), x => x.isin(words.map(lit).toIndexedSeq: _*))))
    }
    val langs = langMarkers.map(_._1)
    val pred = langs.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((lang, i), rest) =>
        if (i == langs.length - 1) rest
        else {
          val beats = langs.drop(i + 1)
            .map(o => col(s"s_$lang") >= col(s"s_$o")).reduce(_ && _)
          when(beats, lit(lang)).otherwise(rest)
        }
    }
    scored.select(col(idCol), pred.as("pred_lang"))
  }

  /** Shingle-set fingerprint: min-hash digest + cardinality per doc —
    * cheap dedup fingerprint, SQL-mirrorable (md5-based).
    *
    * MAP-SIDE (n ≥ 2): both outputs are per-row functions of the token
    * array — min(md5(distinct shingles)) ≡ array_min over ALL window md5s
    * (duplicates never change a min) and the distinct-shingle count is
    * size(array_distinct(windows)) — so the shuffle form's two Exchanges
    * (distinct on (id, sh), then the per-doc rollup) disappear entirely.
    * Value-identical (parity-pinned in TextHashExprsSpec against
    * [[fingerprintShuffle]]); n = 1 keeps the grouped form (the window
    * kernels require n ≥ 2).
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame =
    if (n == 1) fingerprintShuffle(df, idCol, textCol, n)
    else {
      // absence filter on the cheap token count (size(toks) >= n ⟺ the
      // doc has ≥ 1 window), so no kernel output feeds a pushable
      // predicate (the §4.4 double-eval shape — see winnowFingerprints)
      df.select(col(idCol), tokens(col(textCol)).as("__toks"))
        .filter(size(col("__toks")) >= n)
        .select(col(idCol),
          array_min(graft.functions.TextHashExprs.tokenWindowMd5s(col("__toks"), n))
            .as("min_shingle_hash"),
          size(array_distinct(graft.functions.TextHashExprs.tokenWindows(col("__toks"), n)))
            .cast("long").as("n_shingles"))
    }

  /** The grouped construction [[fingerprint]] replaced — the parity
    * baseline (and the n = 1 path, below the window kernels' n ≥ 2).
    */
  private[graft] def fingerprintShuffle(df: DataFrame, idCol: String,
                                        textCol: String, n: Int): DataFrame =
    shingleSet(df, idCol, textCol, n)
      .groupBy(col(idCol))
      .agg(min(md5(col("sh"))).as("min_shingle_hash"),
        count(lit(1)).as("n_shingles"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken), distributed and
    * oracle-mirrorable: per doc, hash every k-gram of tokens (md5 — the
    * cross-engine hash), take the minimum hash of each sliding window of
    * `window` consecutive k-gram positions, and keep the DISTINCT window
    * minima. Docs with fewer than `window` k-grams yield their single
    * global minimum; docs with fewer than k tokens yield no row (matching
    * `winnow`). Output: (id, n_fp, min_fp) per doc.
    *
    * Plan shape: one explode (k-gram positions over the materialized
    * token array), ONE shuffle on the doc id shared by the window and the
    * final groupBy — linear in total tokens, no per-doc driver work.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, window: Int = 4): DataFrame = {
    require(k >= 1 && window >= 1)
    // MAP-SIDE: the whole winnow — k-gram md5s, sliding window minima,
    // distinct — is a per-row function of the token array, computed by
    // the native WinnowMinMd5s kernel; n_fp/min_fp are size()/array_min()
    // of its result. The shuffle form below (explode + per-doc window
    // min + DISTINCT + rollup = three Exchanges) survives as
    // [[winnowFingerprintsShuffle]], the parity baseline.
    // the absence filter tests the CHEAP token count, not the kernel
    // output: a size(kernel(...)) predicate gets pushed below the
    // projection and re-evaluates the kernel per row (the §4.4
    // double-eval shape); size(toks) >= k is exactly "has ≥ 1 k-gram",
    // and the surviving rows' kernel output is non-empty by construction.
    // Project-level subexpression elimination then computes the kernel
    // ONCE for the two output columns.
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col(idCol),
        graft.functions.TextHashExprs.winnowMinMd5s(
          col("__toks"), k, window).as("__mins"))
      .select(col(idCol),
        size(col("__mins")).cast("long").as("n_fp"),
        array_min(col("__mins")).as("min_fp"))
  }

  /** The distributed explode+window construction [[winnowFingerprints]]
    * replaced — the parity baseline.
    */
  private[graft] def winnowFingerprintsShuffle(df: DataFrame, idCol: String,
                                               textCol: String,
                                               k: Int, window: Int): DataFrame = {
    require(k >= 1 && window >= 1)
    val withToks = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val ng = size(col("__toks")) - lit(k - 1) // number of k-grams
    val pos = withToks.select(col(idCol), col("__toks"), ng.as("ng"),
      explode(when(ng >= 1, sequence(lit(1), ng))
        .otherwise(array().cast("array<int>"))).as("i"))
    val gram = concat_ws(" ",
      (0 until k).map(j => element_at(col("__toks"), col("i") + lit(j))): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("i"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, window - 1)
    pos.select(col(idCol), col("i"), col("ng"), md5(gram).as("h"))
      .withColumn("wm", min(col("h")).over(w))
      // windows that would run past the last k-gram are not fingerprint
      // positions (except position 1 when the doc is shorter than one
      // full window — its clipped min IS the doc's single fingerprint)
      .filter(col("i") <= greatest(col("ng") - lit(window - 1), lit(1)))
      .select(col(idCol), col("wm")).distinct()
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fp"), min(col("wm")).as("min_fp"))
  }

  /** Fixed-size token chunking with overlap — context-window packing
    * prep for a training pipeline: chunk i of a doc covers tokens
    * [i·step+1 .. i·step+size] (1-based, step = size−overlap), the last
    * chunk may be short, and every token belongs to ≥ 1 chunk. Output:
    * (id, chunk_no, n_chunk_tokens, chunk_hash) — the hash (md5 of the
    * space-joined tokens) certifies content without shipping the text.
    *
    * All map-side: token split once per doc (named column, not inlined
    * into the lambda), one explode, no shuffle.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  size: Int, overlap: Int,
                  passthrough: Seq[String] = Nil,
                  emitText: Boolean = false): DataFrame = {
    require(size > overlap && overlap >= 0, "need size > overlap >= 0")
    val step = size - overlap
    // `passthrough` columns ride along map-side (selecting extra columns
    // is free) — callers needing doc metadata on chunks must not pay a
    // second corpus scan + join to re-attach it
    val keep = passthrough.map(col)
    // null text would otherwise yield one bogus chunk (tokens(null) is a
    // null array; `greatest` skips the null so nChunks falls back to 1,
    // hashing the empty string) — null docs have no chunks, drop them
    val withToks = df.filter(col(textCol).isNotNull).select(
      (col(idCol) +: keep :+ tokens(col(textCol)).as("__toks")).toIndexedSeq: _*)
    // nChunks = ceil(max(n - overlap, 1) / step): the last chunk starts at
    // (nChunks-1)·step < n - overlap + step, so it always has ≥ 1 token
    val n = functions.size(col("__toks"))
    // Column./ is DOUBLE division — floor() restores the integral ceil-div
    val nChunks = greatest(
      floor((n - lit(overlap) + lit(step - 1)) / lit(step)).cast("int"), lit(1))
    withToks
      .select((col(idCol) +: keep :+ col("__toks") :+
        explode(sequence(lit(0), nChunks - lit(1))).as("chunk_no")).toIndexedSeq: _*)
      .select((col(idCol) +: keep :+ col("chunk_no") :+
        slice(col("__toks"), col("chunk_no") * lit(step) + lit(1), lit(size)).as("__chunk")).toIndexedSeq: _*)
      .select((col(idCol) +: keep :+ col("chunk_no") :+
        functions.size(col("__chunk")).cast("long").as("n_chunk_tokens") :+
        md5(concat_ws(" ", col("__chunk"))).as("chunk_hash") :++
        // chunk text is big next to its hash — emitted only for callers
        // that reconstruct documents (subdocDedupClean), never by default
        (if (emitText) Seq(concat_ws(" ", col("__chunk")).as("chunk_text"))
         else Nil)).toIndexedSeq: _*)
  }

  /** Greedy offset packing of chunks into fixed token budgets — the
    * sequence-packing step that follows chunking in a training pipeline:
    * within a shard, bin i holds the chunks whose PRECEDING cumulative
    * token count falls in [i·budget, (i+1)·budget). Packing is
    * order-defined by contract, so it is sequential WITHIN a shard (one
    * windowed running sum) — but shards pack independently and in
    * parallel, which is how a 100 TB corpus packs: per source/file shard,
    * never one global order.
    */
  def packBins(chunks: DataFrame, shardCol: String, orderCols: Seq[String],
               tokenCol: String, budget: Int): DataFrame = {
    require(budget > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol))
      .orderBy(orderCols.map(col).toIndexedSeq: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    chunks
      .withColumn("__cum", coalesce(sum(col(tokenCol)).over(w), lit(0L)))
      .withColumn("bin", floor(col("__cum") / lit(budget)).cast("int"))
      .drop("__cum")
  }

  // PII patterns shared with the DuckDB oracle — deliberately restricted
  // to syntax Java regex and RE2 interpret identically (char classes,
  // bounded quantifiers, \b, \d; no backreferences or lookaround).
  // Email classes include A-Z explicitly ((?i) would also be portable,
  // but explicit classes keep the pattern self-evident): a mixed-case
  // address surviving "scrubbing" is the failure the operator exists for.
  val emailPattern: String = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val phonePattern: String = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  // Octets bounded to 0-255 (plain alternation — still RE2-portable):
  // \d{1,3} would also swallow software versions like 10.15.700.2.
  private val octet = "(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)"
  val ipPattern: String = s"\\b($octet\\.){3}$octet\\b"

  /** PII scrubbing (training-data redaction): emails, NANP-style phone
    * numbers, and dotted-quad IPs → typed placeholders. A pure
    * regexp_replace chain — codegen'd, map-side, no shuffle. Email runs
    * first (its pattern can span digits the narrower patterns would
    * partially consume).
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipPattern, "<IP>")

  /** Winnowing fingerprint, local library form for driver-side strings —
    * the SAME hash as the distributed `winnowFingerprints` (lowercase md5
    * hex of the space-joined k-gram, window minima by lexicographic
    * order), so the two paths agree fingerprint-for-fingerprint
    * (parity-tested on random docs).
    */
  def winnow(tokens: IndexedSeq[String], k: Int, window: Int): Seq[String] = {
    if (tokens.length < k) return Seq.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = tokens.sliding(k).map { gram =>
      md.reset()
      val d = md.digest(gram.mkString(" ").getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString
    }.toIndexedSeq
    if (hashes.length <= window) Seq(hashes.min)
    else hashes.sliding(window).map(_.min).toIndexedSeq.distinct
  }
}

package graft

import java.io.{BufferedReader, InputStreamReader, PrintStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Histograms, NextK, SortKey, Stats}
import graft.sources.Tables

/** Minimal line-oriented surface over ViewSession — SURVEY §7.1's promised
  * v1 CLI/REPL (the reference fronts the same verbs over RPC,
  * `ref:W/RpcObjectManager.java`; here a human drives them directly).
  * Every verb maps 1:1 onto a session call: views are ids, bulk data
  * never reaches the driver, sketches are memoized/cancellable through
  * the session's own machinery.
  */
object Repl {

  private val help: String =
    """verbs:
      |  open <table>                           register a fixture table as a root view
      |  filter <view> <sql predicate>          child view (lazy; shares parent plan)
      |  project <view> <col,col,...>           child view with selected columns
      |  histogram <view> <col> <lo> <hi> <n>   bucketed counts (sketch, memoized)
      |  summary <view> <col>                   count/min/max/moments (sketch)
      |  topk <view> <col> <k>                  k smallest rows by col
      |  nextk <view> <col> <k> [start]         next-k distinct page from start value
      |  progress <view> <col> <lo> <hi> <n> <batches>
      |                                         progressive histogram: one line per
      |                                         file-batch partial (progress, total)
      |  neardup <view> <threshold> [idCol textCol]
      |                                         MinHash-LSH near-dup pairs at Jaccard
      |                                         >= threshold (cols default doc_id/text)
      |  groups <view> <threshold> [idCol textCol]
      |                                         near-dup COMPONENT labels (id, rep_id):
      |                                         connected components over the LSH pairs
      |  dedup <view> <threshold> [idCol textCol]
      |                                         child view: one representative doc per
      |                                         near-dup component (+ n_members) — later
      |                                         verbs compose over the deduped corpus
      |  simsearch <view> <id> <k> [idCol vecCol]
      |                                         LSH top-k cosine neighbours of row <id>
      |                                         (cols default vec_id/embedding)
      |  search <view> <k> <term> [term...]     BM25 relevance top-k over doc_id/text
      |  chunk <view> <size> <overlap>          context-window token chunks (doc_id/text)
      |  pack <view> <size> <overlap> <budget>  chunk then pack into per-source token
      |                                         bins; prints (source, bin, n_chunks,
      |                                         n_tokens)
      |  mix <view> <srcCol> <T> <targetRows>   temperature-scaled source mixing;
      |                                         prints per-source kept counts
      |  sample <view> <idCol> <fraction>       child view: portable md5-keyed sample
      |                                         (same subset re-derives anywhere)
      |  budget <view> <tokens>                 child view: best docs per source by
      |                                         stop-ratio until the per-source token
      |                                         budget is spent (histogram-cut plan)
      |  cap <view> <k>                         child view: k best docs per source
      |                                         by stop-ratio (bounded page aggregate)
      |  subdoc <view> <spanTokens> <maxDocs>   per-doc boilerplate-span stats (spans
      |                                         repeated in > maxDocs docs are dropped)
      |  subdocclean <view> <spanTokens> <maxDocs>
      |                                         the cleaned documents themselves:
      |                                         kept spans re-joined in order
      |  spans <view> <n>                       exact-substring dedup stats: sliding
      |                                         n-token windows recurring corpus-wide,
      |                                         keep-first, merged per-doc spans
      |  spansclean <view> <n>                  the span-cut documents themselves
      |  bpetrain <view> <numMerges>            learn BPE merges from the corpus's
      |                                         word counts (rank, left, right)
      |  bpetokens <view> <numMerges>           train + encode: per-doc BPE counts
      |  spansdecontam <trainView> <evalView> <n>
      |                                         span-level decontamination stats:
      |                                         train windows matching ANY eval
      |                                         window, merged to maximal spans
      |  spansdecontamclean <trainView> <evalView> <n>
      |                                         the surgically-cleaned train docs
      |  spanstats <trainView> <evalView> <n>   one-row decontamination ACCOUNTING:
      |                                         docs touched, grams/tokens cut vs
      |                                         kept — the report a gate publishes
      |  kllq <view> <valueCol> <group> [fine]  per-group p50/p95 via KLL sketch
      |                                         tables; with [fine], sketches build
      |                                         per (group, fine) and MERGE up to
      |                                         group — rollup never rescans rows
      |  mmr <view> <id> <k> <lambda>           diversified top-k for a query vector:
      |                                         greedy MMR over brute candidates
      |  trainfilter <posView> <negView> <view> <k> [iters]
      |                                         train a hashed-ngram logistic quality
      |                                         filter on pos-vs-neg, score <view>,
      |                                         show its k best docs
      |  contaminate <trainView> <evalView> <n> <minHits>
      |                                         train docs sharing >= minHits n-gram
      |                                         shingles with the eval view
      |  fuzzycontaminate <trainView> <evalView> <threshold>
      |                                         train docs whose whole-doc Jaccard vs
      |                                         some eval doc reaches threshold
      |  dsir <rawView> <targetView> <k>        the k raw docs most like the target
      |                                         corpus (hashed-ngram DSIR weights)
      |  pqindex <view> <dir>                   build a product-quantization index at
      |                                         <dir>: m*ksub codebooks + the corpus as
      |                                         32x-compressed one-byte codes
      |  pqsearch <view> <id> <k> <dir>         ADC top-k cosine neighbours of row <id>
      |                                         served from a pqindex — codes only, the
      |                                         original vectors are never read
      |  ivfpqindex <view> <dir> [nlist] [--residual]
      |                                         build the composed IVF-PQ index: coarse
      |                                         centroids + codes Hive-partitioned by
      |                                         bucket (default nlist 16); --residual
      |                                         quantizes v - c_bucket (IVFADC) and the
      |                                         search verb auto-detects the marker
      |  ivfpqsearch <view> <id> <k> <dir> [nprobe]
      |                                         partition-pruned ADC top-k from an
      |                                         ivfpqindex: reads nprobe/nlist of the
      |                                         32x-compressed corpus (default nprobe 4)
      |  sqindex <view> <dir>                   build a scalar-quantization (SQ8) index:
      |                                         per-dim uniform grid + the corpus as
      |                                         4x-compressed one-byte-per-dim codes
      |  sqsearch <view> <id> <k> <dir>         ADC top-k from an sqindex — near-exact
      |                                         ranking off the 4x-compressed codes
      |  bqindex <view> <dir>                   build a binary-quantization index: per-
      |                                         dim sign thresholds + 32x-compressed
      |                                         packed sign signatures
      |  bqsearch <view> <id> <k> <dir> [refine]
      |                                         Hamming-shortlist top-k from a bqindex,
      |                                         exact re-rank of refine*k candidates
      |                                         (default refine 8)
      |  sql <query>                            run raw SQL over the fixture tables
      |                                         (joins, subqueries, windows — first
      |                                         50 rows rendered)
      |  explain <view> | explain sql <query>   physical plan (pushdown/broadcast/
      |                                         codegen audit)
      |  hardneg <view> <id> <k> <lo> <hi>      IVF-probed hard negatives for row <id>:
      |                                         k most-similar rows with rounded cosine
      |                                         in [lo, hi) — contrastive-training fuel
      |  rrf <docview> <embview> <id> <k> <term...>
      |                                         hybrid page: BM25 over <term...> fused
      |                                         (reciprocal-rank) with the dense page
      |                                         around embedding row <id>
      |  ntile <view> <group> <value> <tie> <k>  child view with a scale-safe k-tile
      |                                         cohort column (no per-key sort);
      |                                         <group> = col or comma-joined cols
      |  split <view> <threshold> [idCol textCol]
      |                                         child view: leakage-safe train/val/test
      |                                         split (near-dup components stay whole)
      |  balance <view> <nlist> <k> [idCol vecCol]
      |                                         child view: cluster-balanced sample —
      |                                         k-means topics, k kept per cluster
      |  semdedup <view> <threshold> [idCol vecCol]
      |                                         SemDeDup kept set: k-means clusters,
      |                                         in-cluster cosine groups, least-
      |                                         prototypical member kept per group
      |  funnel <view> <type1> <type2> [...]    ordered conversion funnel over an
      |                                         events view: per-step user counts
      |  retention <view>                       weekly cohort retention over an
      |                                         events view (cohort, offset, users)
      |  anomaly <view>                         z-score-flagged (hour, event_type)
      |                                         count windows over an events view
      |  overlap <view>                         audience-overlap matrix (theta set
      |                                         algebra) over an events view
      |  tiers <view> [k] [col,col...]          per-(cohort, tier) doc/token rollup
      |                                         of the per-cohort quality k-tiles
      |                                         (default terciles over source;
      |                                         comma-joined cols tier within each
      |                                         multi-column slice)
      |  lmscore <lmView> <view>                bigram-LM cross-entropy of <view> docs
      |                                         under a model trained on <lmView>
      |  lineage <view>                         root-to-leaf chain of a view
      |  views                                  list registered views
      |  memo                                   sketch-memo stats
      |  cache <table> | uncache [table]        pin / purge tables in the registry
      |  cancel <view>                          abort the view's running jobs
      |  purge <view>                           drop a view and its memoized sketches
      |  help | quit""".stripMargin

  /** Drive the session from `in`, writing results to `out` — the main
    * wires stdin/stdout; tests wire scripted buffers.
    */
  def run(spark: SparkSession, sfDir: String, in: BufferedReader, out: PrintStream): Unit = {
    val session = new ViewSession(spark)
    out.println(s"graft> tables at $sfDir — 'help' lists verbs")
    var line = in.readLine()
    while (line != null) {
      val cmd = line.trim
      if (cmd == "quit" || cmd == "exit") return
      if (cmd.nonEmpty) {
        try out.println(eval(spark, session, sfDir, cmd))
        catch {
          case scala.util.control.NonFatal(e) =>
            out.println(s"error: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")
        }
      }
      line = in.readLine()
    }
  }

  /** Comma-joined cohort columns, loudly rejecting empty segments:
    * 'a,,b' or a trailing comma is a typo, and silently filtering it to
    * two columns would tier/tile the wrong cohort without a trace.
    */
  private def cohortCols(arg: String): Seq[String] = {
    val parts = arg.split(",", -1).toSeq.map(_.trim)
    require(parts.forall(_.nonEmpty),
      s"bad cohort column list '$arg' — expected comma-joined non-empty " +
        "column names (e.g. source,lang)")
    parts
  }

  /** One command → one printed result (exposed for scripted tests). The
    * command runs in one [[CacheScope.scoped]] block: what its operators
    * pin is released when it returns. */
  def eval(spark: SparkSession, s: ViewSession, sfDir: String, cmd: String): String = CacheScope.scoped {
    def df(vid: String): DataFrame = s(ViewId(vid)).df
    // verb + view id + RAW remainder: free-text arguments (filter
    // predicates) must reach expr() untouched — retokenizing with a single
    // space would silently rewrite string literals like name = 'a  b'
    val raw3 = cmd.split("\\s+", 3)
    cmd.split("\\s+").toList match {
      case "help" :: Nil => help
      case "open" :: table :: Nil =>
        s"view ${s.open(table, Tables.open(spark, sfDir, table)).value}"
      case "explain" :: "sql" :: rest if rest.nonEmpty =>
        // physical plan of a raw SQL statement — how a user audits
        // pushdown/broadcast/codegen shapes interactively
        Tables.registerAll(spark, sfDir)
        spark.sql(cmd.split("\\s+", 3)(2)).queryExecution.executedPlan.toString
      case "explain" :: "sql" :: Nil =>
        // bare `explain sql` must not fall through to the view case below
        // (which would look up a view literally named 'sql' and fail with
        // a confusing view-lookup error)
        "usage: explain sql <query>"
      case "explain" :: vid :: Nil =>
        df(vid).queryExecution.executedPlan.toString
      case "sql" :: rest if rest.nonEmpty =>
        // raw SQL over the registered fixture tables (the full analytics
        // surface — joins, subqueries, windows; Catalyst optimizes).
        // render() plans limit(50) before its collect, so an unbounded
        // SELECT neither floods the terminal nor the driver
        Tables.registerAll(spark, sfDir)
        render(spark.sql(cmd.split("\\s+", 2)(1)))
      case "filter" :: vid :: rest if rest.nonEmpty =>
        s"view ${s.child(ViewId(vid), "filter")(_.filter(expr(raw3(2)))).value}"
      case "project" :: vid :: cols :: Nil =>
        s"view ${s.child(ViewId(vid), "project")(_.select(cols.split(",").toIndexedSeq.map(col): _*)).value}"
      case "histogram" :: vid :: c :: lo :: hi :: n :: Nil =>
        render(s.sketch(ViewId(vid), s"hist:$c:$lo:$hi:$n")(
          Histograms.histogram1d(_, c, lo.toDouble, hi.toDouble, n.toInt)))
      case "summary" :: vid :: c :: Nil =>
        render(s.sketch(ViewId(vid), s"summary:$c")(Stats.basicStats(_, c)))
      case "topk" :: vid :: c :: k :: Nil =>
        render(s.sketch(ViewId(vid), s"topk:$c:$k")(
          NextK.topK(_, Seq(SortKey(c)), k.toInt)))
      case "nextk" :: vid :: c :: k :: rest if rest.size <= 1 =>
        render(s.sketch(ViewId(vid), s"nextk:$c:$k:${rest.mkString}")(d =>
          NextK.page(d, Seq(SortKey(c)),
            rest.headOption.map(v => Seq(lit(v).cast(d.schema(c).dataType))), k.toInt)))
      case "progress" :: vid :: c :: lo :: hi :: n :: batches :: Nil =>
        s.progressive(ViewId(vid), batches.toInt,
            Histograms.histogram1d(_, c, lo.toDouble, hi.toDouble, n.toInt),
            (a, b) => a.unionByName(b).groupBy("bucket")
              .agg(sum("cnt").as("cnt")))
          .map { case (p, df) =>
            val total = df.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
            f"$p%.2f -> $total rows"
          }
          .mkString("\n")
      case "neardup" :: vid :: thr :: rest if rest.size == 0 || rest.size == 2 =>
        val (idCol, textCol) = rest match {
          case i :: c :: Nil => (i, c)
          case _             => ("doc_id", "text")
        }
        // corpus-LINEAR pair set (a dup-heavy corpus at a loose threshold
        // emits O(corpus) pairs) — render top rows via TakeOrdered, never
        // the full-collect sketch memo
        render(graft.operators.Dedup
          .minHashLSH(df(vid), idCol, textCol, threshold = thr.toDouble)
          .orderBy(col("d1"), col("d2")))
      case "groups" :: vid :: thr :: rest if rest.size == 0 || rest.size == 2 =>
        val (idCol, textCol) = rest match {
          case i :: c :: Nil => (i, c)
          case _             => ("doc_id", "text")
        }
        // component labels are corpus-LINEAR — render top rows only, like
        // neardup (never the full-collect sketch memo)
        val d = df(vid)
        render(graft.operators.Dedup
          .connectedComponentsStar(d, idCol,
            graft.operators.Dedup.minHashLSH(d, idCol, textCol, threshold = thr.toDouble))
          .orderBy(col("id")))
      case "dedup" :: vid :: thr :: rest if rest.size == 0 || rest.size == 2 =>
        val (idCol, textCol) = rest match {
          case i :: c :: Nil => (i, c)
          case _             => ("doc_id", "text")
        }
        // the deduped corpus joins the session LINEAGE as a child view:
        // filter/chunk/pack/subdoc then compose over one-representative-
        // per-component interactively
        s"view ${s.child(ViewId(vid), "dedup")(d =>
          graft.operators.Dedup.keepRepresentatives(d, idCol,
            graft.operators.Dedup.minHashLSH(d, idCol, textCol,
              threshold = thr.toDouble))).value}"
      case "simsearch" :: vid :: id :: k :: rest if rest.size == 0 || rest.size == 2 =>
        val (idCol, vecCol) = rest match {
          case i :: c :: Nil => (i, c)
          case _             => ("vec_id", "embedding")
        }
        render(s.sketch(ViewId(vid), s"simsearch:$id:$k:$idCol:$vecCol")(d =>
          graft.operators.Similarity.lshTopK(d, idCol, vecCol,
            col(idCol) === lit(id.toLong), k.toInt)))
      case "search" :: vid :: k :: terms if terms.nonEmpty =>
        // BM25 top-k is sketch-sized (k rows) — memoized like the other
        // interactive sketches
        render(s.sketch(ViewId(vid), s"search:$k:${terms.mkString(",")}")(d =>
          graft.operators.TextOps.bm25TopK(d, "doc_id", "text", terms, k.toInt)))
      case "hardneg" :: vid :: id :: k :: lo :: hi :: Nil =>
        // probed (IVF) mining — the scale path; the band rides the
        // rounded cosine, so a mined negative is never a latent positive
        render(graft.operators.Similarity.hardNegativesIvf(
          df(vid), "vec_id", "embedding",
          col("vec_id") === lit(id.toLong), k.toInt, lo.toDouble, hi.toDouble))
      case "rrf" :: dvid :: evid :: id :: k :: terms if terms.nonEmpty =>
        // hybrid retrieval: BM25 page over the document view + probed
        // dense page around row <id> of the embedding view, RRF-fused —
        // both inputs are top-k PAGES, so the fusion is sketch-sized
        val kk = k.toInt
        val sparse = graft.operators.TextOps
          .bm25Ranked(df(dvid), "doc_id", "text", terms, kk * 2)
          .select(col("doc_id").as("id"), col("rank"))
        val dense = graft.operators.Similarity
          .ivfTopK(df(evid), "vec_id", "embedding",
            col("vec_id") === lit(id.toLong), kk * 2)
          .select(col("n_id").as("id"), col("rk").as("rank"))
        render(graft.operators.TextOps.rrfFuse(Seq(sparse, dense), kk))
      case "ntile" :: vid :: g :: v :: tie :: k :: Nil =>
        // the scale-safe quantile-cohort plan (histogram-cut boundaries,
        // map-side assignment — no per-key window sort) as a child view;
        // <group> takes comma-separated columns for multi-key cohorts
        s"view ${s.child(ViewId(vid), "ntile")(d =>
          graft.operators.Windows.ntileMapSide(
            d, cohortCols(g), v, tie, k.toInt)).value}"
      case "split" :: vid :: thr :: rest if rest.size == 0 || rest.size == 2 =>
        val (idCol, textCol) = rest match {
          case i :: c :: Nil => (i, c)
          case _             => ("doc_id", "text")
        }
        // leakage-safe 0.8/0.1/0.1 split keyed by each doc's near-dup
        // COMPONENT rep (a train doc's near-copy never lands in eval) —
        // a child view, so later verbs compose over one split via filter
        s"view ${s.child(ViewId(vid), "split")(d =>
          graft.operators.Export.splitByComponents(d, idCol,
            graft.operators.Dedup.minHashLSH(d, idCol, textCol,
              threshold = thr.toDouble),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))).value}"
      case "balance" :: vid :: nlist :: k :: rest if rest.size == 0 || rest.size == 2 =>
        val (idCol, vecCol) = rest match {
          case i :: c :: Nil => (i, c)
          case _             => ("vec_id", "embedding")
        }
        // cluster-balanced sample: k-means topics, exactly k kept per
        // cluster by the portable md5 rank — the rebalanced corpus as a
        // child view
        s"view ${s.child(ViewId(vid), "balance")(d =>
          graft.operators.Similarity.clusterBalancedSample(d, idCol, vecCol,
            graft.operators.Similarity.trainCentroids(d, idCol, vecCol,
              nlist.toInt, seed = 42L).map(_.toSeq).toSeq,
            k.toInt)).value}"
      // chunk/contaminate outputs are corpus-LINEAR, not sketch-sized, so
      // they must NOT go through the sketch memo (which collects fully);
      // render's limit over orderBy plans as TakeOrderedAndProject — one
      // pass, top rows only, nothing corpus-sized on the driver
      case "chunk" :: vid :: size :: overlap :: Nil =>
        render(graft.operators.TextOps
          .chunkTokens(df(vid), "doc_id", "text", size.toInt, overlap.toInt)
          .orderBy(col("doc_id"), col("chunk_no")))
      case "pack" :: vid :: size :: overlap :: budget :: Nil =>
        // chunk -> packBins, summarized per (source, bin) — bins are
        // corpus-linear, so render's TakeOrdered keeps the driver safe
        val chunks = graft.operators.TextOps.chunkTokens(
          df(vid), "doc_id", "text", size.toInt, overlap.toInt,
          passthrough = Seq("source"))
        render(graft.operators.TextOps
          .packBins(chunks, "source", Seq("doc_id", "chunk_no"), "n_chunk_tokens", budget.toInt)
          .groupBy(col("source"), col("bin"))
          .agg(count(lit(1)).as("n_chunks"), sum(col("n_chunk_tokens")).as("n_tokens"))
          .orderBy(col("source"), col("bin")))
      case "mix" :: vid :: srcCol :: t :: target :: Nil =>
        // per-source kept counts of the mixed sample (few sources by
        // contract — sketch-sized summary, not the sampled rows)
        render(graft.operators.Sampling
          .temperatureMix(df(vid), srcCol, t.toDouble, target.toLong)
          .groupBy(col(srcCol)).agg(count(lit(1)).as("kept"))
          .orderBy(col(srcCol)))
      case "funnel" :: vid :: steps if steps.size >= 2 =>
        render(graft.operators.Funnels
          .funnel(df(vid), "user_id", "event_type", "ts", steps)
          .orderBy(col("step")))
      case "retention" :: vid :: Nil =>
        render(graft.operators.Funnels
          .retention(df(vid), "user_id", "ts")
          .orderBy(col("cohort_week"), col("week_offset")))
      case "anomaly" :: vid :: Nil =>
        // flagged (hour, type) windows only — linear in windows, sketch-
        // sized after the |z| cut; render's TakeOrdered bounds the driver
        render(graft.operators.Funnels
          .countAnomalies(df(vid), "event_type", "ts")
          .orderBy(col("window_start"), col("event_type")))
      case "overlap" :: vid :: Nil =>
        // audience-overlap matrix from the per-type theta sketch table:
        // sketch build is the only event scan; the pairwise set ops run
        // over the groups-sized sketch table
        render(graft.operators.SketchTables.thetaOverlap(
          graft.operators.SketchTables.thetaTable(
            df(vid), Seq("event_type"), "user_id"), "event_type")
          .orderBy(col("key_a"), col("key_b")))
      case "tiers" :: vid :: rest if rest.size <= 2 =>
        // per-(cohort, tier) rollup of the quality terciles (or k-tiles):
        // cohorts·k rows — sketch-sized summary, never per-doc output.
        // Cohort defaults to source; comma-joined columns tier within
        // each multi-column slice (withStructKey carries them through
        // the single-groupCol operator — the ntile verb precedent)
        val k = rest.headOption.map(_.toInt).getOrElse(3)
        val cols = rest.lift(1).map(cohortCols).getOrElse(Seq("source"))
        val scored = graft.operators.TextOps
          .qualityScore(
            df(vid).select((Seq("doc_id", "text") ++ cols).distinct.map(col): _*),
            "doc_id", "text", passthrough = cols)
          .select(col("doc_id") +: cols.map(col) :+ col("n_tokens") :+
            round(col("stop_ratio"), 6).as("score"): _*)
        val tiered =
          if (cols.size == 1)
            graft.operators.Sampling.qualityTiers(scored, cols.head, "score", k)
          else
            graft.operators.Sampling.qualityTiers(
              graft.operators.Projections.withStructKey(scored, cols, "__k"),
              "__k", "score", k).drop("__k")
        render(tiered
          .groupBy(cols.map(col) :+ col("tier"): _*)
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
          .orderBy(cols.map(col) :+ col("tier"): _*))
      case "sample" :: vid :: idCol :: fraction :: Nil =>
        // portable md5-keyed sample as a child view: the same subset
        // re-derives anywhere (growth-stable, nested fractions), so a
        // sampled child is a REPRODUCIBLE artifact, not a one-off draw
        s"view ${s.child(ViewId(vid), "sample")(d =>
          graft.operators.Sampling.uniformByHash(d, idCol, fraction.toDouble)).value}"
      case "budget" :: vid :: tokens :: Nil =>
        // the curated corpus joins the lineage as a child view (like
        // `dedup`): later verbs compose over the budget-selected docs
        s"view ${s.child(ViewId(vid), "budget")(d => {
          val scored = graft.operators.TextOps
            .qualityScore(d.select(col("doc_id"), col("text"), col("source")),
              "doc_id", "text", passthrough = Seq("source"))
            .select(col("doc_id"), col("source"), col("n_tokens"),
              round(col("stop_ratio"), 6).as("score"))
          d.join(graft.operators.Sampling.selectByBudget(scored, "source",
            "doc_id", "n_tokens", "score", tokens.toLong)
            .select("doc_id"), Seq("doc_id"), "left_semi")
        }).value}"
      case "cap" :: vid :: k :: Nil =>
        s"view ${s.child(ViewId(vid), "cap")(d => {
          val scored = graft.operators.TextOps
            .qualityScore(d.select(col("doc_id"), col("text"), col("source")),
              "doc_id", "text", passthrough = Seq("source"))
            .select(col("doc_id"), col("source"),
              round(col("stop_ratio"), 6).as("score"))
          d.join(graft.operators.Sampling.topKPerGroup(scored, "source",
            "doc_id", "score", k.toInt)
            .select("doc_id"), Seq("doc_id"), "left_semi")
        }).value}"
      case "subdoc" :: vid :: spanTokens :: maxDocs :: Nil =>
        render(graft.operators.Dedup
          .subdocDedup(df(vid), "doc_id", "text", spanTokens.toInt, maxDocs.toInt)
          .orderBy(col("doc_id")))
      case "subdocclean" :: vid :: spanTokens :: maxDocs :: Nil =>
        render(graft.operators.Dedup
          .subdocDedupClean(df(vid), "doc_id", "text", spanTokens.toInt, maxDocs.toInt)
          .orderBy(col("doc_id")))
      case "bpetrain" :: vid :: nMerges :: Nil =>
        val merges = graft.operators.Bpe.trainMerges(df(vid), "text", nMerges.toInt)
        render(spark.createDataFrame(
          merges.zipWithIndex.map { case ((a, b), i) => (i + 1, a, b) }
        ).toDF("rank", "left", "right"))
      case "bpetokens" :: vid :: nMerges :: Nil =>
        val merges = graft.operators.Bpe.trainMerges(df(vid), "text", nMerges.toInt)
        render(graft.operators.Bpe.encode(df(vid), "doc_id", "text", merges)
          .select(col("doc_id"), col("n_bpe")).orderBy(col("doc_id")))
      case "spansdecontam" :: trainVid :: evalVid :: n :: Nil =>
        render(graft.operators.NgramSpans
          .decontamStats(df(trainVid), df(evalVid), "doc_id", "text", n.toInt)
          .orderBy(col("doc_id")))
      case "spansdecontamclean" :: trainVid :: evalVid :: n :: Nil =>
        render(graft.operators.NgramSpans
          .decontamClean(df(trainVid), df(evalVid), "doc_id", "text", n.toInt)
          .orderBy(col("doc_id")))
      case "spanstats" :: trainVid :: evalVid :: n :: Nil =>
        // the corpus-level accounting a decontamination gate publishes:
        // one row folding the per-doc stats
        render(graft.operators.NgramSpans
          .decontamStats(df(trainVid), df(evalVid), "doc_id", "text", n.toInt)
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("n_hit_grams") > 0, 1)).as("n_contaminated"),
            sum(col("n_grams")).as("n_grams"),
            sum(col("n_hit_grams")).as("n_hit_grams"),
            sum(col("n_cut_tokens")).as("n_cut_tokens"),
            sum(col("n_kept_tokens")).as("n_kept_tokens")))
      case "kllq" :: vid :: valueCol :: group :: rest if rest.size <= 1 =>
        // rollup-by-merge: with a finer key the sketches build once per
        // (group, fine) and the group level merges them — the dashboard
        // shape where exact per-group quantiles would rescan the rows
        val table = rest match {
          case fine :: Nil => graft.operators.SketchTables.kllRollup(
            graft.operators.SketchTables.kllTable(df(vid), Seq(group, fine), valueCol),
            Seq(group))
          case _ =>
            graft.operators.SketchTables.kllTable(df(vid), Seq(group), valueCol)
        }
        render(graft.operators.SketchTables
          .kllQuantiles(table, Seq(0.5, 0.95)).orderBy(col(group)))
      case "spans" :: vid :: n :: Nil =>
        render(graft.operators.NgramSpans
          .stats(df(vid), "doc_id", "text", n.toInt)
          .orderBy(col("doc_id")))
      case "spansclean" :: vid :: n :: Nil =>
        render(graft.operators.NgramSpans
          .clean(df(vid), "doc_id", "text", n.toInt)
          .orderBy(col("doc_id")))
      case "mmr" :: vid :: id :: k :: lambda :: Nil =>
        render(graft.operators.Similarity
          .mmrTopK(df(vid), "vec_id", "embedding",
            col("vec_id") === id.toLong, k.toInt, lambda.toDouble))
      case "trainfilter" :: posVid :: negVid :: vid :: k :: rest if rest.size <= 1 =>
        val iters = rest.headOption.map(_.toInt).getOrElse(10)
        val model = graft.operators.Classifier
          .trainLogistic(df(posVid), df(negVid), "doc_id", "text", iters = iters)
        render(graft.operators.Classifier
          .scoreLogistic(df(vid), "doc_id", "text", model)
          .orderBy(col("score").desc, col("doc_id")).limit(k.toInt))
      case "contaminate" :: trainVid :: evalVid :: n :: minHits :: Nil =>
        render(graft.operators.Dedup
          .contamination(df(trainVid), df(evalVid), "doc_id", "text",
            n.toInt, minHits.toInt)
          .orderBy(col("doc_id")))
      case "fuzzycontaminate" :: trainVid :: evalVid :: thr :: Nil =>
        render(graft.operators.Dedup
          .contaminationFuzzy(df(trainVid), df(evalVid), "doc_id", "text",
            threshold = thr.toDouble)
          .orderBy(col("doc_id"), col("eval_id")))
      case "dsir" :: rawVid :: targetVid :: k :: Nil =>
        render(graft.operators.Sampling
          .dsirTopK(df(rawVid), df(targetVid), "doc_id", "text", k.toInt))
      // ---- PQ / IVF-PQ build+serve: the ANN deployment cycle, interactive.
      // Build verbs write the persisted artifacts (the only corpus-sized
      // one is the 32x-compressed code table); search verbs serve straight
      // from the artifacts — the plan never touches the original vectors,
      // and ivfpqsearch's scan partition-prunes to the probed buckets.
      case "pqindex" :: vid :: dir :: Nil =>
        graft.operators.Pq.buildPqIndex(df(vid), "vec_id", "embedding", dir)
        s"pq index (codebooks + codes) at $dir"
      case "pqsearch" :: vid :: id :: k :: dir :: Nil =>
        render(graft.operators.Pq.pqTopKFromIndex(
          df(vid).filter(col("vec_id") === lit(id.toLong)),
          "vec_id", "embedding", dir, k.toInt))
      case "ivfpqindex" :: vid :: dir :: rest if rest.size <= 2 =>
        val residual = rest.contains("--residual")
        val nlistArg = rest.filterNot(_ == "--residual")
        // loud arg errors: an unknown --flag must not be parsed as nlist
        // (a typo'd --residuall would reach toInt), and a stray extra
        // positional must not be silently dropped
        nlistArg.find(_.startsWith("--")).foreach { f =>
          throw new IllegalArgumentException(
            s"ivfpqindex: unknown flag '$f' (supported: --residual)")
        }
        require(nlistArg.size <= 1,
          s"ivfpqindex: expected at most one nlist arg, got: ${nlistArg.mkString(" ")}")
        graft.operators.Pq.buildIvfPqIndex(df(vid), "vec_id", "embedding", dir,
          nlist = nlistArg.headOption.map(_.toInt).getOrElse(16),
          residual = residual)
        val kind = if (residual) "residual IVFADC codes" else "codes"
        s"ivfpq index (centroids + codebooks + bucket-partitioned $kind) at $dir"
      case "ivfpqsearch" :: vid :: id :: k :: dir :: rest if rest.size <= 1 =>
        render(graft.operators.Pq.ivfPqTopKFromIndex(
          df(vid).filter(col("vec_id") === lit(id.toLong)),
          "vec_id", "embedding", dir, k.toInt,
          nprobe = rest.headOption.map(_.toInt).getOrElse(4)))
      case "sqindex" :: vid :: dir :: Nil =>
        graft.operators.Sq.buildSqIndex(df(vid), "vec_id", "embedding", dir)
        s"sq index (uniform grid + 4x-compressed codes) at $dir"
      case "sqsearch" :: vid :: id :: k :: dir :: Nil =>
        render(graft.operators.Sq.sqTopKFromIndex(
          df(vid).filter(col("vec_id") === lit(id.toLong)),
          "vec_id", "embedding", dir, k.toInt))
      case "bqindex" :: vid :: dir :: Nil =>
        graft.operators.Bq.buildBqIndex(df(vid), "vec_id", "embedding", dir)
        s"bq index (sign thresholds + 32x-compressed signatures) at $dir"
      case "bqsearch" :: vid :: id :: k :: dir :: rest if rest.size <= 1 =>
        render(graft.operators.Bq.bqTopKFromIndex(
          df(vid).filter(col("vec_id") === lit(id.toLong)), df(vid),
          "vec_id", "embedding", dir, k.toInt,
          refine = rest.headOption.map(_.toInt).getOrElse(8)))
      case "semdedup" :: vid :: thr :: rest if rest.size == 0 || rest.size == 2 =>
        val (i, c) = rest match {
          case i :: c :: Nil => (i, c)
          case _             => ("vec_id", "embedding")
        }
        render(graft.operators.Similarity
          .semDedup(df(vid), i, c, thr.toDouble)
          .orderBy(col("rep_id")))
      case "lmscore" :: lmVid :: vid :: Nil =>
        // per-doc scores are corpus-LINEAR — TakeOrdered render, like
        // chunk/contaminate
        render(graft.operators.TextOps
          .lmScore(df(lmVid), df(vid), "doc_id", "text")
          .orderBy(col("doc_id")))
      case "cache" :: table :: Nil =>
        Tables.openCached(spark, sfDir, table)
        s"pinned $table"
      case "uncache" :: rest if rest.size <= 1 =>
        Tables.purgeCached(sfDir, rest.headOption.orNull)
        s"purged ${rest.headOption.getOrElse("all tables")}"
      case "lineage" :: vid :: Nil =>
        s.lineage(ViewId(vid)).map(_.value).mkString(" -> ")
      case "views" :: Nil =>
        if (s.allViews.isEmpty) "(none)" else s.allViews.map(_.value).mkString("\n")
      case "memo" :: Nil =>
        s"entries=${s.memoSize} hits=${s.memoHits}"
      case "cancel" :: vid :: Nil =>
        s.cancel(ViewId(vid)); s"cancelled jobs of $vid"
      case "purge" :: vid :: Nil =>
        s.purge(ViewId(vid)); s"purged $vid"
      case other =>
        s"unknown command: ${other.mkString(" ")} ('help' lists verbs)"
    }
  }

  /** Fixed small render — sketch results are small by contract. */
  private def render(result: DataFrame, max: Int = 50): String = {
    val rows = result.limit(max).collect()
    val header = result.columns.mkString("\t")
    (header +: rows.toSeq.map(_.toSeq.map {
      case null => "NULL"
      case v    => v.toString
    }.mkString("\t"))).mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")
    val spark = LocalSession()
    try run(spark, sfDir, new BufferedReader(new InputStreamReader(System.in)), System.out)
    finally spark.stop()
  }
}

package graft

/** Regression guards against scale-killers: a future change that plans an
  * accidental cartesian/nested-loop join in a catalog query, or adds a
  * driver-side collect outside the sketch/view contract, fails here
  * rather than surfacing as a 100 TB incident.
  */
class PlanGuardSpec extends SparkSpec {

  /** Quadratic-by-contract brute-force baselines (self-documented in
    * Similarity.cosineTopK: |Q| is small and it is the verifier for both
    * ANN paths), plus the SCALAR broadcast pattern: crossJoin(broadcast(
    * one-row aggregate)) attaches a grand total inside the plan with no
    * driver collect — the nested-loop is over a single broadcast row, so
    * cost stays linear (HeavyHitters.exactRelative, set_ops_counts).
    */
  /** events_user_overlap_theta: the pairwise matrix is a deliberate
    * non-equi self-join of the SKETCH TABLE — one row per group key (a
    * handful of audience rows by the sketch-table contract), never base
    * data, so the nested-loop is over a groups² grid of sketch pairs.
    */
  /** similarity_mmr: the candidate stage IS cosineTopK's documented brute
    * baseline (|Q| = 5 queries by the catalog predicate); the greedy MMR
    * tail adds no join — compose mmrRerank over an ANN candidate frame
    * for the sub-quadratic path.
    */
  /** similarity_hard_negatives: the brute band-mining contrast baseline
    * (|Q| = 10 by the catalog predicate; hardNegatives documents the
    * cosineTopK cost shape) — the scale path is the probed
    * similarity_hard_negatives_ivf_pinned row, which is NOT exempt.
    */
  private val allPairsBaselines =
    Set("similarity_topk", "similarity_mmr", "events_user_overlap_theta",
      "similarity_hard_negatives")
  private val scalarBroadcasts = Set("heavy_hitters_relative", "set_ops_counts")

  /** Every src/main Scala file with its text. */
  private def mainSources: Seq[(java.io.File, String)] = {
    def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
      val (dirs, files) = dir.listFiles.toSeq.partition(_.isDirectory)
      files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(scalaFiles)
    }
    scalaFiles(new java.io.File("src/main/scala")).map(f =>
      f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  test("no catalog query plans a cartesian or nested-loop join (beyond the documented baselines)") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (allPairsBaselines(name) || scalarBroadcasts(name)) None
      else {
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    }
    assert(offenders.isEmpty, s"all-pairs join shape leaked into: $offenders")
  }

  test("q18/q16 join the selectivity-small side by broadcast, not shuffle") {
    // q18: the HAVING-filtered order set and its joins must both broadcast
    // (the only SMJ-legal shuffle is the lineitem aggregation itself);
    // q16: the part dim and the bad-supplier anti list broadcast
    for (name <- Seq("q18_large_volume", "q16_supplier_cnt")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name plans no broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name shuffles a join that should broadcast:\n$plan")
    }
  }

  test("tfidf ranks through the bounded page aggregate, not a window sort") {
    val plan = SparkEntry.queries("text_tfidf_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_nextk_page"),
      s"tfidf lost its bounded page aggregate:\n$plan")
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window "),
      s"tfidf reintroduced a per-doc window sort (one task per doc's whole vocabulary):\n$plan")
  }

  test("histogram-cut rows window only boundary bins: ntile none, per-group quantiles by (group, target)") {
    object Nodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def windows(name: String) = Nodes.collect(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // ntileMapSide collected its boundaries while building the plan: the
    // served plan assigns tiles map-side, with no per-key window sort
    assert(windows("window_ntile_scalable").isEmpty,
      "window_ntile_scalable plans a Window: its boundaries must be collected, not windowed")
    // exactPerGroup's one window is the boundary pick: partitioned by the
    // group AND the target quantile, so no partition holds a whole group
    val w = windows("quantiles_per_group")
    assert(w.size == 1, s"quantiles_per_group plans ${w.size} Windows, expected 1")
    val keys = w.head.partitionSpec.flatMap(_.references.map(_.name))
    assert(keys.size == 2 && keys.contains("g"),
      s"quantiles_per_group windows by $keys, expected (group, target)")
  }

  test("driver-side collect() stays within the sketch/view contract") {
    // file -> number of contract collects (each collects a SKETCH-sized
    // result: memoized sketch rows, progressive partials, REPL render,
    // streaming memory sink of a windowed or keyed aggregate, LAMP landmarks, IVF
    // centroid table). A call of the guarded collect
    // `graftshim.Internals.collectCapped` counts as one collect. Raising a
    // count or adding a file is a design decision — justify it here
    // alongside the contract note.
    val allowed: Map[String, Int] = Map(
      "View.scala"          -> 2,
      "Repl.scala"          -> 1,
      // runToResult: the memory-sink copy-out of every streamed catalog
      // row (windowed aggregates, and the ingest gates' per-incoming-doc
      // flags); statefulUserCounts: one row per user
      "StreamWindows.scala" -> 2,
      "Lamp.scala"          -> 1,
      // trainCentroids: seeded init + Lloyd partials (nlist rows each);
      // ivfTopKFromIndex: centroid table + query batch (sketch-sized by
      // contract, materialized once so the query subplan doesn't execute
      // twice) + probed bucket set (≤ |Q|·nprobe ints);
      // ivfDupPairsFromIndex: centroid table;
      // kmeansParallelInit: seed vector (1 row) + per-round candidate
      // draws + candidate weights (each ≤ maxInitCandidates rows by the
      // documented cap — the k-means|| driver-memory contract);
      // appendToIvfIndex: stored centroid table (nlist rows)
      "Similarity.scala"    -> 10,
      // collectHist: the (group, bin) histogram of every histogram cut
      // (exact, exactPerGroup, ntileMapSide, selectByBudget), ≤
      // MaxHistRows by its guard; exact: ≤ 2·|probs| order statistics
      "Quantiles.scala"     -> 2,
      "Histograms.scala"    -> 1,  // equiDepth: k-1 boundary rows (the sketch)
      // incrementalComponents: the batch's contracted edges (≤ |newPairs|
      // rows, ≤ MaxContractedEdges by its guard) for the driver
      // union-find — batch-sized, the collectHist precedent
      "Dedup.scala"         -> 1,
      // ntileMapSide: the groups·(k-1) boundary composites (the sketch
      // itself — the equiDepth threshold-collect precedent)
      "Windows.scala"       -> 1,
      // temperatureMix + temperatureMixTokens and their portable hash
      // twins (temperatureMixByHash + temperatureMixTokensByHash): one
      // row per source each; bucketLogProbs (DSIR): one buckets-sized
      // model
      "Sampling.scala"      -> 5,
      // bm25TopK: per-query-term document frequencies (≤ |query| rows)
      "TextOps.scala"       -> 1,
      // train: the deterministic codebook sample (sampleSize rows, the
      // k-means|| candidate-cap precedent); collectQueries: the query
      // batch (loud MaxQueryBatch cap, the ivfTopKFromIndex precedent);
      // loadCodebooks: m·ksub rows; ivfPqTopKFromIndex: the nlist-row
      // centroid table
      "Pq.scala"            -> 4,
      // loadThresholds: the dim-row sign-threshold table (BQ serves off
      // Pq's collectQueries/pageTopK otherwise — no other driver reads)
      "Bq.scala"            -> 1,
      // trainLogistic: one buckets-sized gradient per iteration (the
      // model IS the sketch — the bucketLogProbs/DSIR precedent)
      "Classifier.scala"    -> 1,
      // trainMerges: the top-maxWords frequency table (capped — the
      // k-means-sample precedent; the merge loop is driver arithmetic)
      "Bpe.scala"           -> 1,
      // scale-invariant checks, not operators: funnel step counts (3
      // rows), retention cohort cells (tens of rows), theta overlap
      // cells (type-pairs), and weekly KLL quantiles (weeks) collected
      // at both scales to assert the factor-x / invariance contracts
      // (+2: the bm25 matched-doc id sets, k rows each; +2: the CMS
      // week×probe grids vs the exact twin, tens of rows each; +2: the
      // per-bucket equi-depth histograms at both scales, k rows each;
      // +4: the copy-0 ngram-span and span-decontam stats row sets at
      // both scales, one row per base doc each — fixture-sized; +2: the
      // per-(group, bucket) equi-depth grids at both scales, groups·k
      // rows each; +2: the copy-0 streaming-gate row sets at both
      // scales, one row per incoming base doc; +2: the copy-0
      // classifier-logit row sets at both scales, one row per base doc;
      // +2: the per-group KLL quantile maps at both scales, one row per
      // event_type; +2: the copy-0 image-gate row sets at both scales,
      // one row per incoming base doc; +2: the copy-0 portable-simhash
      // pair sets at both scales, fixture-pair-sized; +2: the copy-0
      // audio-gate row sets at both scales, one row per incoming base
      // doc; +1: the scaled hybrid-RRF page, k rows; +6: the
      // correlated-subquery per-copy replication checks — q4/q21/q17/q22
      // result sets at both scales, each ≤ 20 rows by their GROUP BY /
      // LIMIT shapes; +12 round-18: the ntile rollups at both scales
      // (priority×tile cells ×4 — the structural-counts and
      // scalable≡window checks), the copy-0 window-frame row sets at
      // both scales (fixture-bounded by their l_suppkey filters), the
      // leakage-split assignments (base set + scaled copy-0 filter, one
      // row per base doc), and the full-outer / pivot grids at both
      // scales (≤ 25 and 5 rows); +2 round-19: the unpivot long-form
      // grids at both scales (15 cells each — the melt twin of the
      // pivot check; the LSH-vs-dense split agreement check itself uses
      // only count()s; +2: the multi-key ntile grids at both scales,
      // (priority, status)×tile cells; +3 round-20: the struct-keyed
      // tiers closed-form check — base per-doc zero-score flags (5k rows
      // at sf0.1) plus the (cohort, tier) rollups at both scales (≤ 300
      // cells each)
      "BenchScale.scala"    -> 58,
      // pinnedVecs: the shared helper behind every pinned-artifact row
      // (4-vector constant reads — the nlist-row centroid-table
      // precedent, sketch-sized by contract)
      "ExtensionQueries.scala" -> 1)
    val counts = mainSources
      .map { case (f, src) =>
        f.getName -> "\\.collect\\(\\)|collectCapped\\(".r.findAllIn(src).length
      }
      .filter(_._2 > 0).toMap
    val violations = counts.filter { case (f, n) => n > allowed.getOrElse(f, 0) }
    assert(violations.isEmpty,
      s"collect() outside the sketch/view contract: $violations (allowed: $allowed)")
  }

  test("operators build graft's expressions as columns, never through a session registry") {
    // a column that resolves by name needs the caller's session to have
    // registered the function first, and registering overwrites any user
    // function of the same name; GraftExtensions alone owns the SQL names
    val banned = Seq("VectorExprs.register", "createOrReplaceTempFunction",
      "call_function(\"graft_")
    val hits = for ((f, src) <- mainSources; b <- banned if src.contains(b)) yield s"${f.getName}: $b"
    assert(hits.isEmpty, s"registry-resolved graft functions in src/main: $hits")
  }
}

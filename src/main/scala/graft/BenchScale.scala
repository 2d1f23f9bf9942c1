package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic ~10× scale bench: self-union the sf0.1 fixture with remapped
  * keys to a ~sf1 corpus, time the anchor + pipeline query families at
  * BOTH scales, and report each query's empirical scaling exponent
  * (`log(t_scaled/t_base) / log(factor)` — 1.0 = linear, 2.0 = quadratic).
  * This is the evidence layer between the 17 MB fixtures and the 100 TB
  * design claims: constant-factor and skew surprises that sf0.1 cannot
  * show up as super-linear exponents here.
  *
  * Key remapping preserves per-copy join/dup structure without creating
  * CROSS-copy structure (which would change answer densities, not just
  * sizes):
  *  - fact/dim keys shift by a copy-unique offset (joins stay within a
  *    copy; result cardinalities scale ~linearly);
  *  - document text is token-salted per copy (copy 0 verbatim), so each
  *    copy keeps the fixture's exact/near-dup pairs but shares NO shingles
  *    with other copies — dup density per doc stays constant, as in a real
  *    larger crawl;
  *  - embeddings are dimension-rotated with per-copy pseudo-random sign
  *    flips (copy 0 verbatim): within-copy geometry is preserved exactly
  *    (permutation+reflection is an isometry), cross-copy cosines are
  *    random-level — near-dup pair counts scale linearly;
  *  - region/nation stay single-copy (fixed dims, as in TPC-H).
  *
  * Output: one JSON line + `BENCH_scale.json` (repo root) with per-query
  * (t_base, t_scaled, exponent). Quadratic-BY-CONTRACT walks
  * (dedup_jaccard, dedup_embedding: exact all-pairs with documented
  * sub-quadratic siblings) are excluded by design — their siblings
  * (dedup_minhash_lsh, similarity_ivf/dedup_embedding_ivf) are measured.
  */
object BenchScale {

  /** The measured set: BASELINE.md §B anchors + the LLM-pipeline family. */
  private val measured: Seq[String] = Seq(
    // anchor 12
    "summary_count", "basic_stats", "histogram_1d", "heatmap_2d",
    "heavy_hitters", "approx_distinct", "quantiles", "quantiles_per_group",
    "next_k_page",
    "filter_count", "join_q3lite", "window_rank", "events_time_window",
    // relational stress
    "q1_pricing_summary", "q18_large_volume", "q16_supplier_cnt",
    // FULL OUTER join (two map-side partial aggs + a 25-row join) and
    // the PIVOT reshape (one conditional aggregation pass)
    "join_full_outer", "pivot_status_matrix", "unpivot_status_matrix",
    // correlated-subquery class (decorrelated semi/anti joins + joined-
    // back scalar aggregates — the everyday SQL shapes; copies are
    // self-contained under the key shift, so results scale structurally)
    "q4_order_priority", "q17_small_quantity", "q21_waiting_supplier",
    "q22_idle_balance",
    // TPC-H -lite extension pack (outer-join distribution, disjunctive
    // pushdown, CTE-max, nested IN chains, CASE aggregation, nation-pair
    // volume, grouped top-k)
    "q7_nation_volume", "q10_returned_items", "q12_priority_lines",
    "q13_order_distribution", "q14_promo_share", "q15_top_supplier",
    "q19_disjunctive", "q20_part_suppliers",
    // window-frame family (per-key windows — partition-parallel at scale;
    // the filtered frames stay fixture-sized, ntile is corpus-wide).
    // window_ntile is the SQL window-sort form (its parallelism ceiling
    // is the ~5-key cardinality — the measured CONTRAST);
    // window_ntile_scalable is the histogram-cut map-side plan, and the
    // ntile_scalable_equals_window invariant pins them equal at scale.
    // window_first_last / window_percent_rank / window_lag /
    // window_running_sum are fixture-bounded (copy-0 l_suppkey /
    // o_custkey filters — copy offsets shift both keys far above the
    // bounds), so their sweep evidence is the copy-0-exact invariant
    // plus ~flat absolute time.
    "window_ntile", "window_ntile_scalable", "window_ntile_scalable_multi",
    "window_moving_sum",
    "window_range_band", "window_first_last", "window_percent_rank",
    "window_lag", "window_running_sum",
    // keyless interval join (grid-bucketed cell equi join)
    "join_range_bucketed",
    // gap-filled resample (one data pass + calendar-sized grid)
    "events_resample_counts",
    // dedup / decontamination / subdoc / clustering. dedup_groups stays
    // in the set DELIBERATELY even though its pair source is the
    // quadratic-by-contract dense walk: its super-linear exponent is the
    // measured CONTRAST against the sub-quadratic siblings right below
    // (_lsh and its twin name _star run the same star-contraction
    // clusterer over LSH pairs and hold sub-linear exponents) — the
    // artifact shows why the 100 TB flow routes through LSH, instead of
    // hiding the quadratic path
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_simhash_portable",
    "dedup_subdoc", "dedup_subdoc_clean", "dedup_groups",
    "dedup_groups_lsh", "dedup_groups_star", "dedup_groups_incremental",
    "dedup_groups_incremental_fold",
    "pipeline_decontaminate", "pipeline_decontaminate_fuzzy",
    // SemDeDup (autoNlist = ~sqrt N clusters: expected exponent ~1.5 by
    // design — the within-cluster pair scan; see Similarity.semDedup)
    "dedup_semantic",
    // CMS sketch table (linear build, sketch-sized serve)
    "events_user_freq_cms",
    // map-only compaction rewrite
    "layout_compact_roundtrip",
    // text pipeline
    "text_winnow", "text_token_count", "text_chunk", "pipeline_pack_stats",
    "text_lm_score",
    // export side (map-side pure expressions — the exponent should be ~I/O)
    "pipeline_split_counts", "pipeline_shuffle_shards",
    // leakage-safe split, both pair paths: the dense row's exponent
    // documents the quadratic-by-contract contrast (the dedup_groups
    // argument); _lsh IS the 100 TB composition (same splitByComponents
    // keyed off MinHash-LSH pairs — expect the dedup_groups_lsh
    // sub-linear class). The invariant below pins copy-0 assignments,
    // the train fraction, and lsh ≈ dense agreement at scale (banding
    // re-rolls per copy, so exact equality is the FIXTURE's contract —
    // the shared oracle — not the scaled corpus's).
    "pipeline_split_leakage_safe", "pipeline_split_leakage_safe_lsh",
    // cluster-balanced sample: map-side argmin + bounded page aggregate
    "pipeline_cluster_balance",
    // budget/cap curation (histogram cut + bounded page aggregate)
    "pipeline_token_budget", "pipeline_source_cap", "pipeline_quality_tiers",
    // the struct-keyed multi-column-cohort deployment of the same tiers
    // composition (withStructKey ∘ qualityTiers): same plan shape, one
    // struct expression more — the invariant below pins its populations
    // to a closed form at scale
    "pipeline_quality_tiers_multi",
    // perceptual image/audio dedup (map-side hash + pigeonhole banding)
    "multimodal_image_dedup", "multimodal_audio_dedup",
    // BM25 search (map-side term filter + TakeOrderedAndProject)
    "text_bm25_topk",
    // hybrid sparse+dense fusion (two page-sized lists join after a
    // map-side term filter and a probe-pruned dense scan)
    "search_hybrid_rrf",
    // ANN / embedding dedup (sub-quadratic paths)
    "similarity_topk", "similarity_ivf", "dedup_embedding_ivf",
    "similarity_pq", "similarity_pq_refined", "similarity_ivfpq_index",
    "similarity_ivfpq_residual", "similarity_opq",
    "similarity_sq", "similarity_bq",
    // the hash-green pinned-artifact serving rows (quantizers pinned to
    // copy-0 data vectors, which the remapping leaves verbatim): same
    // serve machinery as their trained siblings, so exponents should
    // track them. dedup_semantic_pinned, the dedup_embedding_ivf pinned
    // pair, and dedup_stream_embedding_pinned/_served stay OUT: a pinned
    // FOUR-list quantizer makes their within-bucket scans quadratic by
    // construction (the autoNlist-sized trained siblings are the scale
    // evidence for those code paths)
    "similarity_ivf_pinned", "similarity_bq_pinned", "similarity_pq_pinned",
    "similarity_sq_pinned", "similarity_opq_pinned", "similarity_lsh_pinned",
    "similarity_ivfpq_pinned", "similarity_mmr_ivf_pinned",
    "similarity_pq_refined_pinned", "similarity_ivfpq_residual_pinned",
    // hard-negative mining: the brute band baseline (linear in N at the
    // fixed 10-query set) and its probed scale path. Page shape is NOT
    // factor-invariant by design — cross-copy cosines are random-level
    // and can land in the band — so these carry their own band invariant
    // instead of joining the pinned page-shape check
    "similarity_hard_negatives", "similarity_hard_negatives_ivf_pinned",
    // equi-depth histogram (rank-quantile boundaries + one bucketing pass)
    "histogram_equidepth", "histogram_equidepth_per_group",
    // product analytics (user-keyed min-aggregations / cohort cells)
    "events_funnel", "events_retention", "events_anomaly",
    "events_distinct_rollup",
    // sketch-table set algebra / quantile rollups (linear build, sketch-
    // sized serve side)
    "events_user_overlap_theta", "events_value_quantile_rollup",
    "events_value_quantile_rollup_per_group",
    // mixing + export + the flagship composition (CC ∘ LSH inside)
    "sample_temperature_tokens", "pipeline_export_jsonl",
    // portable temperature mixing (one sketch-sized count collect + a
    // map-side keyed-md5 filter — exponent should be ~linear)
    "sample_temperature_hash", "sample_temperature_tokens_hash",
    // DSIR selection (two linear model passes + map-side scoring)
    "pipeline_dsir_topk",
    // exact-substring dedup (window explode + 2 hash-keyed linear shuffles)
    "dedup_ngram_spans", "dedup_ngram_spans_clean",
    // span-level decontamination (broadcast eval window set, map-side flag)
    "pipeline_decontaminate_spans",
    // streaming decontamination gate (micro-batch replay of the same
    // broadcast-eval window join — stream-side constant factors at scale)
    "pipeline_stream_decontam",
    // streaming perceptual image gate (map-side PNG decode + dHash +
    // pigeonhole bands on the stream, stream-static band join)
    "dedup_stream_image",
    // audio sibling (WAV decode + gain-invariant fingerprint, same join)
    "dedup_stream_audio",
    // MMR diversified top-k (copy-0 query set; candidate stage is the
    // brute kernel / the nprobe-pruned IVF pool, greedy tail is
    // per-query constant work)
    "similarity_mmr", "similarity_mmr_ivf",
    // trained quality filter (iters × two linear shuffles on the md5
    // training sample + one map-side scoring pass)
    "pipeline_quality_classifier",
    // the oracle-green serving half (featurize-and-dot, fixed model —
    // two linear doc-keyed shuffles, nothing iterative)
    "pipeline_quality_classifier_score",
    // BPE training (one linear word count + capped driver loop) + encode
    "text_bpe_tokens",
    // BPE encode under the pinned merge list (map-side, memoized words)
    "text_bpe_tokens_pinned",
    "pipeline_clean_corpus")

  private def remapped(spark: SparkSession, srcDir: String, table: String,
                       copy: Int, off: Long): DataFrame = {
    val df = spark.read.parquet(s"$srcDir/$table.parquet")
    def shift(cols: String*): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(off)))
    table match {
      case "customer" => shift("c_custkey")
      case "supplier" => shift("s_suppkey")
      case "part"     => shift("p_partkey")
      case "orders"   => shift("o_orderkey", "o_custkey")
      case "lineitem" => shift("l_orderkey", "l_partkey", "l_suppkey")
      case "events"   => shift("event_id", "user_id")
      case "documents" =>
        val d = shift("doc_id")
        if (copy == 0) d
        // token-salt: every token gets a copy-unique suffix, so copy c
        // shares no shingles with copy c' but keeps its internal dup
        // structure verbatim. Empty/whitespace-only docs have no token to
        // salt — give them a copy-unique single token so they cannot
        // content-hash-collide ACROSS copies (which would break the
        // exact-dup scale invariant); within a copy they still all share
        // one group, mirroring the base
        else d.withColumn("text",
          when(trim(col("text")) === "", lit("emptydoc_x" + copy))
            .otherwise(regexp_replace(col("text"), "(\\S+)", "$1_x" + copy)))
      case "embeddings" =>
        val d = shift("vec_id")
        if (copy == 0) d
        else {
          val dim = d.select(size(col("embedding"))).head.getInt(0)
          // rotate dimensions by 7·copy and sign-flip pseudo-randomly per
          // (copy, dim): an exact isometry within the copy, random-level
          // cosine across copies
          d.withColumn("embedding",
            transform(sequence(lit(0), lit(dim - 1)), j =>
              (element_at(col("embedding"), pmod(j + lit(7 * copy), lit(dim)) + 1) *
                when(pmod(hash(j, lit(copy)), lit(2)) === 0, lit(1.0f))
                  .otherwise(lit(-1.0f))).cast("float")))
        }
      case _ => df // region, nation: fixed dims
    }
  }

  /** Build the scaled fixture once (marker-gated): `factor` remapped
    * copies of every table, written in the same `{table}.parquet` layout
    * the query catalog opens.
    */
  def synthesize(spark: SparkSession, srcDir: String, outDir: String,
                 factor: Int): Unit = {
    require(factor >= 2, s"scale factor must be >= 2, got $factor")
    // the marker encodes the SOURCE too: reusing a fixture scaled from a
    // DIFFERENT base dir would make every exponent and invariant compare
    // against the wrong corpus
    val srcTag = Integer.toHexString(srcDir.hashCode)
    val marker = java.nio.file.Paths.get(outDir, s"_SCALE_${factor}_${srcTag}_OK")
    if (java.nio.file.Files.exists(marker)) return
    val off = 100000000L // far above any fixture key
    for (table <- sources.Tables.allTables) {
      val parts = table match {
        case "region" | "nation" => Seq(remapped(spark, srcDir, table, 0, 0L))
        case _ => (0 until factor).map(c =>
          remapped(spark, srcDir, table, c, off * c))
      }
      parts.reduce(_.union(_))
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      System.err.println(s"[bench-scale] wrote $outDir/$table.parquet")
    }
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.write(marker, Array.emptyByteArray)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_scale/f$factor")
    val spark = LocalSession()

    synthesize(spark, srcDir, outDir, factor)

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => measured.contains(n) && only.forall(_.contains(n)) }
    // warmup at sf0.001 (session/codegen), then at each measured dir once
    // so first-touch I/O and the memoized IVF index build are absorbed
    // before timing — the min-of-passes then reports steady-state cost
    queries.foreach { case (n, fn) => Bench.force(spark, "/root/testdata/sf0.001", n, fn) }

    def timeAt(dir: String): Map[String, Option[Double]] = {
      queries.foreach { case (n, fn) => Bench.force(spark, dir, n, fn) } // warm
      val p1 = queries.map { case (n, fn) => n -> Bench.force(spark, dir, n, fn) }.toMap
      val p2 = queries.reverse.map { case (n, fn) => n -> Bench.force(spark, dir, n, fn) }.toMap
      queries.map { case (n, _) =>
        n -> Seq(p1(n), p2(n)).flatten.minOption
      }.toMap
    }
    val base = timeAt(srcDir)
    val scaled = timeAt(outDir)

    // ---- correctness AT scale: the remapping contract makes several
    // results exactly predictable from the base run — a skew/overflow/
    // dedup-collapse bug at 10× shows up here as a failed invariant, not
    // just a timing anomaly
    def q(dir: String, n: String) = SparkEntry.queries(n)(spark, dir)
    val inv = scala.collection.mutable.ListBuffer[(String, Boolean, String)]()
    def check(name: String, cond: => Boolean, detail: => String): Unit =
      try inv += ((name, CacheScope.scoped(cond), detail))
      catch { case scala.util.control.NonFatal(e) => inv += ((name, false, e.toString)) }
    check("dedup_exact_scales_exactly", {
      // per-copy token salting keeps exact-dup groups within copies:
      // group/doc/dup-group counts must ALL be exactly factor× the base
      val b = q(srcDir, "dedup_exact").head
      val s = q(outDir, "dedup_exact").head
      (0 until 3).forall(i => s.getLong(i) == factor * b.getLong(i))
    }, "exact-dup group counts not factor x base")
    check("minhash_pairs_scale_linearly", {
      // each copy carries the base corpus's exact near-dup pairs (shingle
      // structure is isomorphic under salting), but LSH banding re-rolls
      // per copy (different shingle hashes): a copy can MISS a true pair
      // the base caught or CATCH one the base missed (b is the base's
      // FOUND count, not ground truth; exact verify only forbids false
      // positives). Allow ±5% around exact-linear
      val b = q(srcDir, "dedup_minhash_lsh").count()
      val s = q(outDir, "dedup_minhash_lsh").count()
      s * 100 <= factor * b * 105 && s * 100 >= factor * b * 95
    }, "near-dup pair count departed from linear")
    check("event_windows_scale_exactly", {
      // groups are (hour, event_type) — identical at any scale since ts
      // values repeat verbatim per copy; the COUNTS inside them carry the
      // scale: group set unchanged, total events exactly factor×
      import org.apache.spark.sql.functions.sum
      val b = q(srcDir, "events_time_window")
      val s = q(outDir, "events_time_window")
      s.count() == b.count() &&
        s.agg(sum("cnt")).head.getLong(0) == factor * b.agg(sum("cnt")).head.getLong(0)
    }, "window groups/total counts departed from the scale contract")
    check("q1_groups_unchanged", {
      // group keys are low-cardinality flags: same 6 groups at any scale
      q(outDir, "q1_pricing_summary").count() == q(srcDir, "q1_pricing_summary").count()
    }, "q1 group count changed with scale")
    check("subquery_class_scales_exactly", {
      // copies are self-contained under the key shift: q4's per-priority
      // EXISTS counts and q21's per-name sole-late counts replicate per
      // copy (s_name strings repeat across copies, so the groupBy merges
      // them to exactly factor× the base); q17/q22's correlated
      // thresholds are scale-INVARIANT — the cross-multiplied forms
      // scale both comparison sides by the same factor — so their
      // qualifying sets replicate too (q17's avg_yearly is a sum/7, so
      // it scales ×factor up to double rounding)
      val b4 = q(srcDir, "q4_order_priority").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val s4 = q(outDir, "q4_order_priority").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val q4ok = s4 == b4.map { case (k, v) => k -> (factor * v) }
      val b21 = q(srcDir, "q21_waiting_supplier").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val s21 = q(outDir, "q21_waiting_supplier").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val q21ok = s21 == b21.map { case (k, v) => (k, factor * v) }
      val b17 = q(srcDir, "q17_small_quantity").head
      val s17 = q(outDir, "q17_small_quantity").head
      val q17ok = s17.getLong(1) == factor * b17.getLong(1) &&
        math.abs(s17.getDouble(0) - factor * b17.getDouble(0)) <=
          1e-9 * math.abs(factor * b17.getDouble(0))
      val b22 = q(srcDir, "q22_idle_balance").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val s22 = q(outDir, "q22_idle_balance").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val q22ok = s22 == b22.map { case (k, v) => k -> (factor * v) }
      q4ok && q21ok && q17ok && q22ok
    }, "correlated-subquery results departed from per-copy replication")
    check("temperature_hash_budget_holds", {
      // the portable mix keeps targetRows EXPECTED rows at ANY corpus
      // size (fractions rescale as counts grow; at factor ≥ 3 no lang
      // clamps, so the expectation is exactly the budget) — binomial
      // envelope around 400 rows / 120k chars
      import org.apache.spark.sql.functions.sum
      val rows = q(outDir, "sample_temperature_hash")
        .agg(sum("n_rows")).head.getLong(0)
      val chars = q(outDir, "sample_temperature_tokens_hash")
        .agg(sum("sum_chars")).head.getLong(0)
      math.abs(rows - 400L) <= 100 && math.abs(chars - 120000L) <= 30000
    }, "portable temperature mix departed from its row/weight budget")
    check("bpe_pinned_encode_scales_exactly", {
      // one output row per doc at any factor; copy-0 docs verbatim
      q(outDir, "text_bpe_tokens_pinned").count() ==
        factor * q(srcDir, "text_bpe_tokens_pinned").count()
    }, "pinned BPE encode row count not factor x base")
    check("ntile_counts_scale_structurally", {
      // o_orderpriority strings repeat across copies, so each priority's
      // group grows to exactly factor×n_g rows of values that repeat
      // verbatim — the tile COUNTS are therefore fully determined by
      // ntile's size rule applied to factor×n_g (n = 4q + m ⇒ the first
      // m tiles hold q+1, the rest q). Tile MEMBERSHIP legitimately
      // reshuffles (copies interleave in the value order), so sums are
      // not pinned — the equality invariant below pins those via the
      // scalable twin.
      val b = q(srcDir, "window_ntile").collect()
        .map(r => r.getString(0) -> r.getLong(2)).groupBy(_._1)
        .map { case (g, rs) => g -> rs.map(_._2).sum }
      val s = q(outDir, "window_ntile").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      // the scaled key set must BE the expected (group × nonempty-tile)
      // grid — getOrElse alone would let a phantom extra key (a group
      // the base never had) pass unnoticed
      val expected = b.flatMap { case (g, ng) =>
        val n = factor * ng
        (1 to 4).collect { case i if (if (i <= n % 4) n / 4 + 1 else n / 4) > 0 => (g, i) }
      }.toSet
      s.keySet == expected && b.forall { case (g, ng) =>
        val n = factor * ng
        val qsz = n / 4
        val m = n % 4
        (1 to 4).forall(i => s.getOrElse((g, i), 0L) ==
          (if (i <= m) qsz + 1 else qsz))
      }
    }, "scaled per-(priority, tile) counts departed from ntile's size rule")
    check("ntile_multi_counts_scale_structurally", {
      // the multi-key cohort row: (priority, status) pairs repeat across
      // copies, so each pair's group grows to exactly factor×n_g and the
      // tile COUNTS follow ntile's size rule on factor×n_g — the same
      // argument as the single-key structural check above
      val b = q(srcDir, "window_ntile_scalable_multi").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).groupBy(_._1)
        .map { case (g, rs) => g -> rs.map(_._2).sum }
      val s = q(outDir, "window_ntile_scalable_multi").collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getInt(2)) -> r.getLong(3)).toMap
      // key-set equality mirrors the single-key check: no phantom keys
      val expected = b.flatMap { case (g, ng) =>
        val n = factor * ng
        (1 to 4).collect { case i if (if (i <= n % 4) n / 4 + 1 else n / 4) > 0 => (g, i) }
      }.toSet
      s.keySet == expected && b.forall { case (g, ng) =>
        val n = factor * ng
        val qsz = n / 4
        val m = n % 4
        (1 to 4).forall(i => s.getOrElse((g, i), 0L) ==
          (if (i <= m) qsz + 1 else qsz))
      }
    }, "multi-key tile counts departed from ntile's size rule at scale")
    check("tiers_multi_populations_closed_form", {
      // the struct-keyed tiers row has an EXACT closed form at scale:
      // token salting turns every non-copy-0 stop_ratio into exactly 0
      // (salted tokens never match the stop list), so for factor >= 3
      // each (source, lang) cohort's zero block holds >= (factor-1)/factor
      // >= 2/3 of its scores and BOTH tercile thresholds land inside it
      // (rank ceil(2n/3) <= (factor-1)·n_g ⇔ factor >= 3). Therefore
      // per cohort of base size n_g with z zero-score base docs:
      // tier 0 = (factor-1)·n_g + z docs, tier 1 = none (t1 == t2),
      // tier 2 = n_g − z; token sums are salting-invariant, so each
      // cohort's total is exactly factor× the base rollup's.
      val scoredBase = graft.operators.TextOps.qualityScore(
          spark.read.parquet(s"$srcDir/documents.parquet"), "doc_id", "text",
          passthrough = Seq("source", "lang"))
        .select(col("source"), col("lang"),
          (round(col("stop_ratio"), 6) === 0.0).as("z"))
        .collect() // corpus-cohort facts: 5k rows at sf0.1 — sketch-sized
      val baseCohorts = scoredBase.groupBy(r => (r.getString(0), r.getString(1)))
        .map { case (k, rs) => k -> (rs.length.toLong, rs.count(_.getBoolean(2)).toLong) }
      val baseTok = q(srcDir, "pipeline_quality_tiers_multi").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).groupBy(_._1)
        .map { case (k, rs) => k -> rs.map(_._2).sum }
      val out = q(outDir, "pipeline_quality_tiers_multi").collect()
      val counts = out.map(r => ((r.getString(0), r.getString(1)), r.getInt(2)) -> r.getLong(3)).toMap
      val toks = out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).groupBy(_._1)
        .map { case (k, rs) => k -> rs.map(_._2).sum }
      factor < 3 ||
        (counts.keySet.map(_._1) == baseCohorts.keySet &&
          baseCohorts.forall { case (k, (n, z)) =>
            counts.getOrElse((k, 0), 0L) == (factor - 1) * n + z &&
              !counts.contains((k, 1)) &&
              counts.getOrElse((k, 2), 0L) == n - z &&
              toks.getOrElse(k, 0L) == factor * baseTok(k)
          })
    }, "struct-keyed tier populations departed from the zero-block closed form")
    check("ntile_scalable_equals_window", {
      // the two plans implement ONE assignment rule — at scale (where
      // the map-side boundaries genuinely matter) the rollups must be
      // row-identical, sums included (same membership ⇒ same
      // exact-decimal sums ⇒ same doubles)
      q(outDir, "window_ntile_scalable").collect().map(_.toSeq).toSet ==
        q(outDir, "window_ntile").collect().map(_.toSeq).toSet
    }, "histogram-cut ntile departed from the window form at scale")
    check("window_frames_copy0_exact", {
      // first/last, percent_rank, lag and running_sum rows are confined
      // to copy 0 by their l_suppkey / o_custkey filters (copy offsets
      // shift both keys far above the bounds), so the scaled results are
      // byte-identical to the base
      Seq("window_first_last", "window_percent_rank",
          "window_lag", "window_running_sum").forall { n =>
        q(srcDir, n).collect().map(_.toSeq).toSet ==
          q(outDir, n).collect().map(_.toSeq).toSet
      }
    }, "a fixture-bounded window row departed from its copy-0 contract")
    check("leakage_split_copy0_exact_and_fraction", {
      // token salting keeps every copy's exact pair graph internal, so
      // copy-0 components — and their min-id reps, and therefore their
      // md5 split — are verbatim the base corpus's; row count is exactly
      // factor× (every doc gets one assignment); and the train share
      // stays inside the binomial window around 205/256
      val bdf = q(srcDir, "pipeline_split_leakage_safe")
      val b = bdf.collect().map(_.toSeq).toSet
      val s = q(outDir, "pipeline_split_leakage_safe").cache()
      try {
        val total = s.count()
        val train = s.filter(col("split") === "train").count()
        total == factor.toLong * b.size &&
          s.filter(col("doc_id") < 100000000L).collect().map(_.toSeq).toSet == b &&
          math.abs(train.toDouble / total - 205.0 / 256) <= 0.03
      } finally s.unpersist()
    }, "leakage-safe split broke the copy-0/fraction contract at scale")
    check("leakage_split_lsh_agrees_with_dense", {
      // the sub-quadratic composition must assign every doc (row count
      // exactly factor× the base — one assignment per doc regardless of
      // recall) and agree with the dense-pair split on ≥ 99% of docs:
      // LSH banding re-rolls per copy (minhash_pairs_scale_linearly's
      // argument), so a scaled copy can miss a true pair — that moves
      // only members of the affected component, never singletons, so
      // near-total agreement is the correct scaled contract (fixture
      // equality is already pinned by the shared DuckDB oracle)
      val dense = q(outDir, "pipeline_split_leakage_safe")
        .withColumnRenamed("split", "__dsplit")
      val lsh = q(outDir, "pipeline_split_leakage_safe_lsh").cache()
      try {
        val total = lsh.count()
        val agree = lsh.join(dense, "doc_id")
          .filter(col("split") === col("__dsplit")).count()
        total == factor.toLong * q(srcDir, "pipeline_split_leakage_safe_lsh").count() &&
          agree.toDouble / total >= 0.99
      } finally lsh.unpersist()
    }, "LSH leakage-safe split departed from the dense assignment at scale")
    check("cluster_balance_page_shape", {
      // the pinned 4-list quantizer caps every cluster at k = 8 kept
      // rows; at any factor each bucket holds ≥ 8 members, so the page
      // is exactly 4×8 rows with no bucket over k
      val s = q(outDir, "pipeline_cluster_balance").cache()
      try {
        s.count() == 32L &&
          s.groupBy(col("bucket")).count()
            .agg(max(col("count"))).head().getLong(0) <= 8L
      } finally s.unpersist()
    }, "cluster-balanced page departed from the 4×8 shape at scale")
    check("full_outer_scales_exactly", {
      // nation keys and acctbal values repeat verbatim per copy (only
      // cust/supp keys shift), so the nation grid is unchanged and every
      // count is exactly factor×; the decimal sums scale exactly too
      // (factor× a DECIMAL sum), compared with an ulp tolerance after
      // the final cast to double
      val b = q(srcDir, "join_full_outer").collect()
        .map(r => r.getInt(0) -> ((if (r.isNullAt(1)) -1L else r.getLong(1)),
          (if (r.isNullAt(2)) Double.NaN else r.getDouble(2)),
          (if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
      val s = q(outDir, "join_full_outer").collect()
        .map(r => r.getInt(0) -> ((if (r.isNullAt(1)) -1L else r.getLong(1)),
          (if (r.isNullAt(2)) Double.NaN else r.getDouble(2)),
          (if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
      s.keySet == b.keySet && b.forall { case (k, (nc, bal, ns)) =>
        val (snc, sbal, sns) = s(k)
        snc == (if (nc < 0) -1L else factor * nc) &&
          sns == (if (ns < 0) -1L else factor * ns) &&
          (bal.isNaN && sbal.isNaN ||
            math.abs(sbal - factor * bal) <= 1e-9 * math.abs(factor * bal))
      }
    }, "full-outer nation grid departed from the exact scale contract")
    check("pivot_matrix_scales_exactly", {
      // priorities/statuses never remap: the 5×3 matrix scales cell-wise
      val b = q(srcDir, "pivot_status_matrix").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val s = q(outDir, "pivot_status_matrix").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      s.keySet == b.keySet && b.forall { case (k, (f, o, p)) =>
        s(k) == ((factor * f, factor * o, factor * p))
      }
    }, "pivot matrix cells not factor x base")
    check("unpivot_melt_scales_exactly", {
      // the melt is the pivot's exact long-form round trip, so its
      // (priority, status) cells scale cell-wise factor× too
      val b = q(srcDir, "unpivot_status_matrix").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val s = q(outDir, "unpivot_status_matrix").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      s.keySet == b.keySet && b.forall { case (k, n) => s(k) == factor * n }
    }, "unpivot long-form cells not factor x base")
    check("topk_size_unchanged", {
      // the query set (vec_id < 5) lives entirely in copy 0: identical |Q|
      // and k at both scales
      q(outDir, "similarity_topk").count() == q(srcDir, "similarity_topk").count()
    }, "top-k result size changed with scale")
    check("cc_components_scale_exactly", {
      // per-copy token salting keeps each copy's EXACT pair graph
      // isomorphic to the base (no cross-copy edges), so connected
      // components replicate per copy: total component count AND
      // non-singleton (true dup-cluster) count are exactly factor× the
      // base — a merge/collapse bug in the star contraction at scale
      // breaks this even when timings look fine. dedup_groups is the
      // exact-pair composition, so the check is exact, not statistical
      val b = q(srcDir, "dedup_groups")
      val s = q(outDir, "dedup_groups")
      val bComp = b.groupBy(col("rep_id")).count()
      val sComp = s.groupBy(col("rep_id")).count()
      sComp.count() == factor * bComp.count() &&
        sComp.filter(col("count") > 1).count() ==
          factor * bComp.filter(col("count") > 1).count()
    }, "component counts not factor x base")
    check("funnel_steps_scale_exactly", {
      // user_ids shift by a copy-unique offset while ts values repeat
      // verbatim, so every copy replays the base's per-user event history
      // under fresh users: each step's reached-user count is exactly
      // factor× the base
      val b = q(srcDir, "events_funnel").collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val s = q(outDir, "events_funnel").collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      s.keySet == b.keySet && b.forall { case (step, n) => s(step) == factor * n }
    }, "funnel per-step user counts not factor x base")
    check("retention_cohorts_scale_exactly", {
      // the origin (global min event date) is unchanged by copying, so the
      // (cohort_week, week_offset) cell SET is identical and every cell's
      // user count is exactly factor× the base
      val b = q(srcDir, "events_retention").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val s = q(outDir, "events_retention").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      s.keySet == b.keySet && b.forall { case (cell, n) => s(cell) == factor * n }
    }, "retention cohort cells not factor x base")
    check("anomaly_windows_stable", {
      // per-(hour, type) counts scale by exactly factor, so mean and sd
      // scale together and every z-score is mathematically unchanged; the
      // flagged-window set should match up to double-rounding at the
      // |z| = 2 threshold (allow a ±2% count drift for ulp flips)
      val b = q(srcDir, "events_anomaly").count()
      val s = q(outDir, "events_anomaly").count()
      math.abs(s - b) <= math.max(1L, b / 50)
    }, "anomaly flagged-window count moved with scale")
    check("theta_overlap_scales_linearly", {
      // user_ids shift by a copy-unique offset, so each copy's audiences
      // are DISJOINT from every other copy's: true pairwise
      // intersections/unions are exactly factor× the base. The base run
      // is exact-mode (fixture cohorts < 2^12 entries); the scaled run
      // may be estimating — allow theta's ~1.6% rse at 5 sigma
      val b = q(srcDir, "events_user_overlap_theta").collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(4), r.getLong(5))).toMap
      val s = q(outDir, "events_user_overlap_theta").collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(4), r.getLong(5))).toMap
      s.keySet == b.keySet && b.forall { case (k, (bi, bu)) =>
        val (si, su) = s(k)
        math.abs(si - factor * bi) <= math.max(2.0, 0.10 * factor * bi) &&
          math.abs(su - factor * bu) <= math.max(2.0, 0.10 * factor * bu)
      }
    }, "theta overlap cells departed from linear scaling")
    check("kll_rollup_quantiles_stable", {
      // event values repeat VERBATIM per copy, so every week's true value
      // distribution — and therefore its true quantiles — is unchanged at
      // any scale; both runs' KLL estimates sit within rank error of the
      // same CDF, so estimates must agree within a small value tolerance
      val b = q(srcDir, "events_value_quantile_rollup").collect()
        .map(r => r.get(0).toString -> (r.getDouble(1), r.getDouble(2))).toMap
      val s = q(outDir, "events_value_quantile_rollup").collect()
        .map(r => r.get(0).toString -> (r.getDouble(1), r.getDouble(2))).toMap
      s.keySet == b.keySet && b.forall { case (w, (b50, b95)) =>
        val (s50, s95) = s(w)
        math.abs(s50 - b50) <= 0.15 * math.abs(b50) + 1.0 &&
          math.abs(s95 - b95) <= 0.15 * math.abs(b95) + 1.0
      }
    }, "weekly KLL quantiles moved with scale (distribution is invariant)")
    check("kll_rollup_per_group_quantiles_stable", {
      // the per-group sibling of the weekly check: event values repeat
      // verbatim per copy and event_type never remaps, so every type's
      // true distribution — and therefore its true quantiles — is
      // unchanged at any scale; both runs' KLL estimates sit within rank
      // error of the same per-type CDF
      val b = q(srcDir, "events_value_quantile_rollup_per_group").collect()
        .map(r => r.get(0).toString -> (r.getDouble(1), r.getDouble(2))).toMap
      val s = q(outDir, "events_value_quantile_rollup_per_group").collect()
        .map(r => r.get(0).toString -> (r.getDouble(1), r.getDouble(2))).toMap
      s.keySet == b.keySet && b.forall { case (g, (b50, b95)) =>
        val (s50, s95) = s(g)
        math.abs(s50 - b50) <= 0.15 * math.abs(b50) + 1.0 &&
          math.abs(s95 - b95) <= 0.15 * math.abs(b95) + 1.0
      }
    }, "per-group KLL quantiles moved with scale (distribution is invariant)")
    check("clean_corpus_scales_linearly", {
      // quality filter, exact dedup, and the near-dup component graph all
      // replicate per copy; LSH banding re-rolls per copy (salted
      // shingles), so allow ±2% around exactly factor× on both outputs
      val b = q(srcDir, "pipeline_clean_corpus").head
      val s = q(outDir, "pipeline_clean_corpus").head
      (0 until 2).forall { i =>
        math.abs(s.getLong(i) - factor * b.getLong(i)) <=
          math.max(1L, factor * b.getLong(i) / 50)
      }
    }, "clean-corpus doc/token totals departed from linear")
    check("audio_dedup_pairs_scale_exactly", {
      // the copy offset is a multiple of 10, so doc_id % 10 == 9 planting
      // replicates verbatim per copy and fingerprint codes stay distinct
      // across copies (bijective mix of distinct shifted ids): the planted
      // (d-1, d) pair count is exactly factor× the base, with NO
      // cross-copy pairs
      q(outDir, "multimodal_audio_dedup").count() ==
        factor * q(srcDir, "multimodal_audio_dedup").count()
    }, "audio planted pair count not factor x base")
    check("bm25_matches_stay_in_copy0", {
      // token salting confines the unsalted query terms to copy 0, so
      // every returned doc must be a copy-0 id and the page stays full
      // (k rows at both scales). The top-k MEMBERSHIP may legitimately
      // shift: idf = ln(1+(N-df+½)/(df+½)) grows with the corpus at a
      // per-term rate, re-weighting multi-term scores — a ranking
      // change, not a leak; a salting leak would surface foreign ids
      val b = q(srcDir, "text_bm25_topk").collect().map(_.getLong(0))
      val s = q(outDir, "text_bm25_topk").collect().map(_.getLong(0))
      s.length == b.length && s.forall(_ < 100000000L)
    }, "bm25 returned a foreign-copy doc or lost rows (salting leak?)")
    check("pq_refined_topk_size_unchanged", {
      // same copy-0 query set as similarity_pq; the refine re-rank touches
      // refine*k full vectors per query but must not change the page shape
      q(outDir, "similarity_pq_refined").count() ==
        q(srcDir, "similarity_pq_refined").count()
    }, "refined-pq top-k result size changed with scale")
    // the composed index's scale lever made OBSERVABLE: the serve plan
    // must carry a non-empty bucket PartitionFilter (partition-pruned
    // probe) listing at most nprobe·|Q| buckets — the probe CONTRACT
    // that makes the read a shrinking fraction as nlist grows ~√N while
    // probes stay constant (both sides logged so the artifact records
    // the fraction). Bucket values are parsed from the filter after
    // stripping expr ids — robust to IN vs INSET rendering.
    def probedBuckets(queryName: String, indexLeaf: String): Int = {
      val plan = q(outDir, queryName).queryExecution.executedPlan.toString
      val line = plan.linesIterator.find(l =>
        l.contains("PartitionFilters: [") && !l.contains("PartitionFilters: []") &&
          l.contains("bucket"))
      val nlist = spark.read
        .parquet(QueryDefs.ioDir(outDir, indexLeaf) + "/centroids").count()
      val probed = line.map { l =>
        val f = l.substring(l.indexOf("PartitionFilters: ["))
        "\\b\\d+\\b".r.findAllIn(f.replaceAll("#\\d+", "")).toSet.size
      }.getOrElse(0)
      System.err.println(
        s"[bench-scale] $queryName serve probe fraction: $probed of $nlist buckets")
      probed
    }
    check("ivfpq_serve_probes_a_fraction", {
      val probed = probedBuckets("similarity_ivfpq_index", "ivfpq_index")
      probed > 0 && probed <= 5 * 8 // |Q|=5 fixture queries, nprobe=8
    }, "ivfpq serve plan does not partition-prune to the probed buckets")
    check("ivfpq_residual_serve_probes_a_fraction", {
      // the IVFADC sibling must keep the same probe contract: residual
      // coding changes WHAT the codes reconstruct, not what gets read
      val probed = probedBuckets("similarity_ivfpq_residual", "ivfpq_res_index")
      probed > 0 && probed <= 5 * 8
    }, "residual ivfpq serve plan does not partition-prune to the probed buckets")
    check("ivfpq_residual_topk_size_unchanged", {
      // copy-0 query set: |Q|·k rows at both scales (codebooks retrain)
      q(outDir, "similarity_ivfpq_residual").count() ==
        q(srcDir, "similarity_ivfpq_residual").count()
    }, "residual ivfpq top-k result size changed with scale")
    check("opq_topk_size_unchanged", {
      // copy-0 query set; the learned rotation refits on the bigger
      // corpus (neighbor ids may move) but the served page shape is fixed
      q(outDir, "similarity_opq").count() == q(srcDir, "similarity_opq").count()
    }, "opq top-k result size changed with scale")
    check("ivfpq_topk_size_unchanged", {
      // copy-0 query set: |Q|·k rows at both scales (codebooks/centroids
      // retrain on the bigger corpus, so neighbor IDs may differ)
      q(outDir, "similarity_ivfpq_index").count() ==
        q(srcDir, "similarity_ivfpq_index").count()
    }, "ivfpq top-k result size changed with scale")
    check("equidepth_histogram_scales_exactly", {
      // events.value repeats VERBATIM per copy, so the rank-ceil(q·n)
      // boundary of the base equals the rank-ceil(q·fn) boundary of the
      // f-fold multiset (ceil(ceil(x·f)/f) = ceil(x)): thresholds and
      // bucket lo/hi are bit-identical and every count is exactly factor×
      val b = q(srcDir, "histogram_equidepth").collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      val s = q(outDir, "histogram_equidepth").collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
      s.keySet == b.keySet && b.forall { case (k, (n, lo, hi)) =>
        s(k) == ((factor * n, lo, hi))
      }
    }, "equi-depth boundaries/counts departed from the exact scale contract")
    check("equidepth_per_group_scales_exactly", {
      // the same ceil-rank identity holds INSIDE each event_type group
      // (values repeat verbatim per copy and event_type never remaps):
      // the (group, bucket) grid and every lo/hi boundary are
      // bit-identical, every count exactly factor×
      val b = q(srcDir, "histogram_equidepth_per_group").collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      val s = q(outDir, "histogram_equidepth_per_group").collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      s.keySet == b.keySet && b.forall { case (k, (n, lo, hi)) =>
        s(k) == ((factor * n, lo, hi))
      }
    }, "per-group equi-depth grid departed from the exact scale contract")
    check("stream_decontam_copy0_exact", {
      // the copy offset is a multiple of 10, so the %10 stream/benchmark
      // split replicates per copy, and token salting confines every gram
      // match within its copy: copy-0 gate rows are byte-identical to the
      // base corpus's (and the gate's stream≡batch proof carries to scale)
      val b = q(srcDir, "pipeline_stream_decontam").collect().map(_.toSeq).toSet
      val s = q(outDir, "pipeline_stream_decontam")
        .filter(col("doc_id") < 100000000L).collect().map(_.toSeq).toSet
      b == s
    }, "copy-0 streaming-gate rows departed from the base corpus")
    check("pinned_serving_topk_shape_unchanged", {
      // the hash-green pinned-artifact serve rows (the list below — keep
      // it in sync with the catalog's `similarity_*_pinned` family) share
      // one scale
      // contract: quantizers are pinned to copy-0 vectors (verbatim at
      // any factor) and the query set lives in copy 0, so each page
      // stays |Q|·k rows while the scanned corpus grows factor×.
      // (similarity_lsh_pinned's buckets only gain members with scale —
      // pages stay full; a SHRINKING page would mean the pinned
      // signature path lost candidates, i.e. a collision bug at scale)
      Seq("similarity_ivf_pinned", "similarity_bq_pinned",
          "similarity_pq_pinned", "similarity_sq_pinned",
          "similarity_opq_pinned", "similarity_lsh_pinned",
          "similarity_ivfpq_pinned", "similarity_mmr_ivf_pinned",
          "similarity_pq_refined_pinned",
          "similarity_ivfpq_residual_pinned").forall { n =>
        q(outDir, n).count() == q(srcDir, n).count()
      }
    }, "a pinned-artifact serve page changed shape with scale")
    check("hard_negatives_band_respected", {
      // the operator's CONTRACT at any scale: every mined negative's
      // similarity sits inside [0.25, 0.45) and pages stay ≤ k. Counts
      // are deliberately NOT factor-pinned: cross-copy cosines are
      // random-level and the band legitimately gains members as the
      // corpus grows (probe-vs-brute semantics are pinned at fixture
      // scale in HardNegativesSpec's full-probe exactness test).
      Seq("similarity_hard_negatives", "similarity_hard_negatives_ivf_pinned")
        .forall { n =>
          val df = q(outDir, n).cache()
          // an empty mined band is a PASS (nothing in band ⇒ nothing to
          // violate) — short-circuit before the aggs, whose single null
          // row would otherwise NPE the getters and record a failure
          try df.isEmpty || {
            val bounds = df.agg(min(col("sim")), max(col("sim"))).head()
            val okBand = bounds.getDouble(0) >= 0.25 && bounds.getDouble(1) < 0.45
            val okPage = df.groupBy(col("q_id")).count()
              .agg(max(col("count"))).head().getLong(0) <= 10
            okBand && okPage
          } finally df.unpersist()
        }
    }, "hard-negative band contract broken at scale")
    check("hybrid_rrf_page_shape_unchanged", {
      // both input pages stay 15 rows at any factor (bigger corpora,
      // same page), so the fused page holds exactly k rows with dense
      // ranks and every doc came from 1 or 2 lists
      val s = q(outDir, "search_hybrid_rrf").collect()
      s.length == q(srcDir, "search_hybrid_rrf").count().toInt &&
        s.map(_.getLong(3)).toSeq == (1L to s.length).toSeq &&
        s.forall(r => r.getLong(2) >= 1L && r.getLong(2) <= 2L)
    }, "hybrid RRF page departed from the fusion contract at scale")
    check("stream_image_gate_copy0_exact_and_linear", {
      // the copy offset is a multiple of 20, so the %20 pattern planting
      // replicates verbatim per copy and dHash codes stay ≥ Hamming 14
      // apart across copies (bijective mix of distinct shifted ids):
      // copy-0 gate rows are byte-identical to the base corpus's and the
      // flagged-dup total scales exactly by the factor
      val bdf = q(srcDir, "dedup_stream_image")
      val b = bdf.collect().map(_.toSeq).toSet
      val s = q(outDir, "dedup_stream_image")
      b == s.filter(col("doc_id") < 100000000L).collect().map(_.toSeq).toSet &&
        s.filter(col("is_dup")).count() ==
          factor * bdf.filter(col("is_dup")).count()
    }, "streaming image gate departed from the per-copy planting contract")
    check("stream_audio_gate_copy0_exact_and_linear", {
      // same per-copy %20 planting as the image gate, fingerprints from
      // the gain-invariant audio hash instead of dHash (distinct pattern
      // codes land ≥ Hamming 4 apart — the multimodal_audio_dedup
      // separation the audio_dedup_pairs invariant re-proves per copy):
      // copy-0 gate rows byte-identical, dup total exactly factor×
      val bdf = q(srcDir, "dedup_stream_audio")
      val b = bdf.collect().map(_.toSeq).toSet
      val s = q(outDir, "dedup_stream_audio")
      b == s.filter(col("doc_id") < 100000000L).collect().map(_.toSeq).toSet &&
        s.filter(col("is_dup")).count() ==
          factor * bdf.filter(col("is_dup")).count()
    }, "streaming audio gate departed from the per-copy planting contract")
    check("simhash_portable_copy0_exact", {
      // token salting re-rolls every md5 shingle hash per copy, so copy-c
      // fingerprints are pseudo-random vs copy 0 and a cross-copy pair
      // surviving exact Hamming ≤ 3 is probabilistically impossible:
      // copy-0 pair rows are byte-identical to the base corpus's
      val b = q(srcDir, "dedup_simhash_portable").collect().map(_.toSeq).toSet
      val s = q(outDir, "dedup_simhash_portable")
        .filter(col("d2") < 100000000L).collect().map(_.toSeq).toSet
      b == s
    }, "copy-0 portable-simhash pairs departed from the base corpus")
    check("sq_topk_size_unchanged", {
      // copy-0 query set, same shape contract as the PQ rows; the SQ8
      // grid retrains its per-dim min/max on the bigger corpus
      q(outDir, "similarity_sq").count() == q(srcDir, "similarity_sq").count()
    }, "sq top-k result size changed with scale")
    check("bq_topk_size_unchanged", {
      // copy-0 query set; the bit scan shortlists refine·k then re-ranks
      // exactly — page shape must survive the 32×-compressed scan
      q(outDir, "similarity_bq").count() == q(srcDir, "similarity_bq").count()
    }, "bq top-k result size changed with scale")
    check("ngram_spans_copy0_exact", {
      // copy 0 is verbatim and shares no shingles with the salted copies,
      // so copy-0 stats rows must be byte-identical to the base corpus's
      val bdf = q(srcDir, "dedup_ngram_spans")
      val n = bdf.agg(max(col("doc_id"))).head().getLong(0) + 1
      val b = bdf.collect().map(_.toSeq).toSet
      val s = q(outDir, "dedup_ngram_spans")
        .filter(col("doc_id") < n).collect().map(_.toSeq).toSet
      b == s
    }, "copy-0 span stats departed from the base corpus under duplication")
    check("ngram_spans_clean_total", {
      // token-salting preserves each copy's INTERNAL dup structure
      // verbatim and creates no cross-copy shingles, so every copy cleans
      // exactly like the base: kept-token total scales by the factor
      val baseKept = q(srcDir, "dedup_ngram_spans_clean")
        .agg(sum("n_kept_tokens")).head().getLong(0)
      val scaledKept = q(outDir, "dedup_ngram_spans_clean")
        .agg(sum("n_kept_tokens")).head().getLong(0)
      scaledKept == factor * baseKept
    }, "scaled clean kept-token total broke the per-copy duplication contract")
    check("decontam_spans_copy0_exact", {
      // eval windows (odd ids) only match train windows (even ids) of the
      // SAME copy (salting), so copy-0 span-decontam stats are verbatim
      // the base corpus's
      val bdf = q(srcDir, "pipeline_decontaminate_spans")
      val n = bdf.agg(max(col("doc_id"))).head().getLong(0) + 1
      val b = bdf.collect().map(_.toSeq).toSet
      val s = q(outDir, "pipeline_decontaminate_spans")
        .filter(col("doc_id") < n).collect().map(_.toSeq).toSet
      b == s
    }, "copy-0 span-decontamination stats departed from the base corpus")
    check("mmr_topk_shape_unchanged", {
      // copy-0 query set: 5 queries x k rows at both scales; candidates
      // re-rank over the bigger corpus but the page shape is the contract
      q(outDir, "similarity_mmr").count() == q(srcDir, "similarity_mmr").count()
    }, "mmr page shape changed with scale")
    check("mmr_ivf_page_shape_unchanged", {
      q(outDir, "similarity_mmr_ivf").count() == q(srcDir, "similarity_mmr_ivf").count()
    }, "ivf-mmr page shape changed with scale")
    check("bpe_rows_scale_exactly", {
      // merges retrain on the salted corpus (vocab changes), but encode
      // answers one row per non-null-text doc at BOTH scales
      q(outDir, "text_bpe_tokens").count() ==
        factor * q(srcDir, "text_bpe_tokens").count()
    }, "bpe encode row count broke the duplication contract")
    check("quality_classifier_page", {
      // the trained filter re-fits on the scaled sample; the contract is
      // the serving page shape (top-20), not the weights
      q(outDir, "pipeline_quality_classifier").count() == 20L
    }, "classifier top-k page size changed with scale")
    check("classifier_score_copy0_exact", {
      // tf features are INTRA-document (bucket share of the doc's own
      // shingles) and the model is fixed, so each doc's logit is
      // independent of the rest of the corpus: copy-0 rows are
      // byte-identical to the base run and the row count is exactly
      // factor× (one row per doc, empties included)
      val bdf = q(srcDir, "pipeline_quality_classifier_score")
      val b = bdf.collect().map(_.toSeq).toSet
      val sdf = q(outDir, "pipeline_quality_classifier_score")
      sdf.count() == factor * b.size &&
        sdf.filter(col("doc_id") < 100000000L).collect().map(_.toSeq).toSet == b
    }, "copy-0 logits departed from the base corpus (features must be per-doc)")
    check("pq_topk_size_unchanged", {
      // the query set (vec_id < 5) lives entirely in copy 0: |Q|·k rows at
      // both scales (codebooks retrain on the bigger corpus, so NEIGHBOR
      // ids may differ — the exactness contract belongs to the brute
      // sibling; this pins the served shape)
      q(outDir, "similarity_pq").count() == q(srcDir, "similarity_pq").count()
    }, "pq top-k result size changed with scale")
    check("interval_join_scales_quadratically", {
      // the join has NO equi key and dates repeat VERBATIM per copy, so a
      // copy-i point genuinely falls inside copy-j intervals for every
      // (i, j): the true match count is factor² × the base expectation —
      // the keyless interval join's result density really does grow with
      // corpus density (that is its semantics, and why the OPERATOR's
      // time exponent staying ~0.6 while output grows 100× is the win).
      // Spans re-roll per copy (offset not a multiple of 60) — ±10%
      val b = q(srcDir, "join_range_bucketed").head.getLong(0)
      val s = q(outDir, "join_range_bucketed").head.getLong(0)
      val expect = factor.toLong * factor * b
      s * 100 <= expect * 110 && s * 100 >= expect * 90
    }, "bucketed interval-join match count departed from factor^2")
    check("resample_grid_stable_totals_scale", {
      // ts values repeat verbatim per copy, so the hourly grid span is
      // (almost) scale-invariant — the 1/7 user cohort re-rolls per copy
      // (offset % 7 != 0), moving the first/last active hour slightly —
      // while the total event count in the slice scales ~factor×
      val b = q(srcDir, "events_resample_counts")
      val s = q(outDir, "events_resample_counts")
      val bn = b.count(); val sn = s.count()
      val bSum = b.agg(sum("cnt")).head.getLong(0)
      val sSum = s.agg(sum("cnt")).head.getLong(0)
      math.abs(sn - bn) <= math.max(4L, bn / 20) &&
        sSum * 100 <= factor * bSum * 110 && sSum * 100 >= factor * bSum * 90
    }, "resampled grid span or totals departed from the scale contract")
    check("dsir_topk_size_unchanged", {
      // k = 50 at both scales; weights legitimately move (the salted
      // copies reshape both models), the page size must not
      q(outDir, "pipeline_dsir_topk").count() ==
        q(srcDir, "pipeline_dsir_topk").count()
    }, "DSIR top-k page size changed with scale")
    check("fuzzy_decontam_scales_linearly", {
      // each copy's exact train x eval near-dup pairs replicate verbatim
      // under token salting; LSH banding re-rolls per copy (salted
      // shingles, fresh hashes), so like the minhash invariant allow ±5%
      // around exactly factor× the base's found count
      val b = q(srcDir, "pipeline_decontaminate_fuzzy").count()
      val s = q(outDir, "pipeline_decontaminate_fuzzy").count()
      s * 100 <= factor * b * 105 && s * 100 >= factor * b * 95
    }, "fuzzy-decontamination pair count departed from linear")
    check("semdedup_partitions_the_corpus", {
      // cross-copy cosines are RANDOM-LEVEL, not zero — at the weak 0.45
      // threshold a 64-dim random pair clears it occasionally, so rare
      // cross-copy merges are genuine near-dups of the scaled corpus and
      // the kept count is only BOUNDED by factor× the base, not equal to
      // it. The exact structural contract at any scale: the kept rows
      // PARTITION the corpus — group sizes sum to the (non-null) vector
      // count, and there are never more groups than factor× the base
      val b = q(srcDir, "dedup_semantic")
      val s = q(outDir, "dedup_semantic")
      val sKept = s.count()
      val total = spark.read.parquet(s"$outDir/embeddings.parquet")
        .filter(col("embedding").isNotNull).count()
      s.agg(sum("n_members")).head.getLong(0) == total &&
        sKept <= factor * b.count() && sKept > 0
    }, "SemDeDup kept set stopped partitioning the corpus at scale")
    check("cms_estimates_bound_exact_counts", {
      // probe users 1-5 live in copy 0 only (copy offsets are huge), so
      // their TRUE per-week counts are unchanged at scale; CMS never
      // under-counts, so every scaled estimate must be >= the base EXACT
      // count, and the (week × probe) row grid is scale-invariant
      val exact = q(srcDir, "events_user_freq_exact").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val s = q(outDir, "events_user_freq_cms").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      s.keySet == exact.keySet && exact.forall { case (k, n) => s(k) >= n }
    }, "CMS grid changed or an estimate under-counted the true frequency")
    check("compact_roundtrip_scales_exactly", {
      // compaction moves file boundaries only: doc and token totals are
      // exactly factor× the base (token salting preserves token counts),
      // and the source set is unchanged per copy
      val b = q(srcDir, "layout_compact_roundtrip").head
      val s = q(outDir, "layout_compact_roundtrip").head
      s.getLong(0) == factor * b.getLong(0) &&
        s.getLong(1) == factor * b.getLong(1) &&
        s.getLong(2) == b.getLong(2)
    }, "compacted-corpus totals departed from the scale contract")
    check("lm_score_rows_scale_exactly", {
      // the held-out split replicates per copy (vec/doc ids shift by a
      // multiple of 10), so scored-doc count and total bigram count are
      // exactly factor× the base; cross-entropy VALUES legitimately move
      // (the salted vocabulary grows, changing |V| in the smoothing), so
      // only the structural counts are pinned
      import org.apache.spark.sql.functions.sum
      val b = q(srcDir, "text_lm_score")
      val s = q(outDir, "text_lm_score")
      s.count() == factor * b.count() &&
        s.agg(sum("n_bigrams")).head.getLong(0) ==
          factor * b.agg(sum("n_bigrams")).head.getLong(0)
    }, "lm-score row/bigram counts not factor x base")
    inv.foreach { case (n, ok, d) =>
      System.err.println(s"[bench-scale] invariant $n: ${if (ok) "OK" else s"FAILED ($d)"}")
    }

    import Bench.fmt
    val entries = queries.map(_._1).map { n =>
      (base(n), scaled(n)) match {
        case (Some(b), Some(s)) =>
          val exp = math.log(s / b) / math.log(factor.toDouble)
          s""""$n":{"t_base":${fmt(b)},"t_scaled":${fmt(s)},"exponent":${fmt(exp)}}"""
        case _ => s""""$n":{"t_base":-1.0,"t_scaled":-1.0,"exponent":-1.0}"""
      }
    }
    val errors = queries.map(_._1)
      .filter(n => base(n).isEmpty || scaled(n).isEmpty)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val invJson = inv.map { case (n, ok, _) => s""""$n":$ok""" }.mkString("{", ",", "}")
    val line = s"""{"metric":"scale","factor":$factor,"base_sf":"$srcDir",""" +
      s""""queries":${entries.mkString("{", ",", "}")},"invariants":$invJson,"errors":$errors}"""
    println(line)
    Bench.persist("bench-scale", line,
      java.nio.file.Paths.get("target", s"bench_scale_f$factor.json").toAbsolutePath)
    // factor-suffixed name past the default 10 so a 30× run cannot
    // clobber the committed 10× artifact (both are round evidence); and
    // only a FULL sweep may stamp it — a SPARK_GRAFT_ONLY subset run
    // would silently replace the 70+-query record with its few rows
    // (the Bench.scala guard, same hazard)
    if (only.isEmpty)
      Bench.persistAtRepoRoot("bench-scale", line,
        if (factor == 10) "BENCH_scale.json" else s"BENCH_scale_f$factor.json")
    spark.stop()
  }
}

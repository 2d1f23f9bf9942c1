package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Empirical scaling evidence for the dedup family — the 100 TB claim
  * measured instead of argued: on a 4× larger corpus,
  *
  *  - `minHashLSH`'s shuffled record volume and candidate-pair count grow
  *    ~linearly (the sub-quadratic scale path), while
  *  - the all-pairs work `jaccardPairsDense` performs grows quadratically
  *    by construction (measured as pairs actually examined: at threshold 0
  *    every examined pair is emitted, so the output count IS the merge
  *    count — its SHUFFLE volume is linear (triangle-block replication),
  *    which is exactly why the quadratic cost hides from shuffle metrics
  *    and must be measured at the pair level).
  *
  * Corpora are synthesized deterministically (seeded) with a planted
  * near-dup every 10 docs and a 4000-word vocabulary — wide enough that
  * shingles discriminate (unlike the fixture's ~900-bigram corpus, which
  * exists to defeat prefix filtering).
  */
class ScalingSpec extends SparkSpec {

  private def corpus(nDocs: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(99L)
    val vocab = Array.tabulate(4000)(i => s"w${i}t")
    val docs = new Array[(Long, String)](nDocs)
    var i = 0
    while (i < nDocs) {
      if (i % 10 == 9) {
        // planted near-dup: copy the predecessor with one token replaced
        val toks = docs(i - 1)._2.split(" ")
        toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.length))
        docs(i) = (i.toLong, toks.mkString(" "))
      } else {
        val len = 30 + rnd.nextInt(30)
        docs(i) = (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      i += 1
    }
    docs.toSeq.toDF("doc_id", "text")
  }

  /** Total shuffle records written across every task of `action`. */
  private def shuffleRecords(action: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) acc.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    org.apache.spark.graftest.Listeners.withListener(spark.sparkContext, listener)(action)
    acc.get()
  }

  test("selectByBudget windows only boundary-bin rows, not the corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(41L)
    // one group, spread scores: with binScale 3 the boundary bin holds
    // ~1/1000 of the rows, so the histogram-cut plan's total shuffle sits
    // far below the naive window's (which shuffles every row into the
    // per-group sort + cumsum)
    val n = 20000
    val rows = (0 until n).map { i =>
      (i.toLong, "g", 1L + rnd.nextInt(20).toLong, rnd.nextDouble())
    }.toDF("id", "grp", "w", "score")
    rows.cache().count()
    val naive = shuffleRecords {
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(col("score").desc, col("id").asc)
      rows.withColumn("__cum", sum(col("w")).over(win))
        .filter(col("__cum") <= 50000)
        .write.format("noop").mode("overwrite").save()
    }
    val cut = shuffleRecords {
      CacheScope.scoped {
        graft.operators.Sampling
          .selectByBudget(rows, "grp", "id", "w", "score", 50000)
          .write.format("noop").mode("overwrite").save()
      }
    }
    rows.unpersist()
    // naive shuffles ≥ n rows (every row through the window sort); the
    // cut plan shuffles the histogram (≤ 1001 bins) + boundary-bin rows
    assert(naive >= n,
      s"naive window expected to shuffle the corpus, saw $naive")
    assert(cut < n / 2,
      s"histogram cut should shuffle far less than the corpus: $cut vs $n")
  }

  test("contamination shuffles only matching pairs, never the train shingle set") {
    import spark.implicits._
    val rnd = new scala.util.Random(3L)
    val vocab = Array.tabulate(2000)(i => s"a$i")
    val train = (0 until 300).map { i =>
      (i.toLong, Seq.fill(40)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // two train docs leak verbatim into the benchmark set
    val evalDocs = Seq((1000L, train(5)._2), (1001L, train(17)._2),
      (1002L, "zz yy xx ww vv uu tt ss"))
    val trainDf = train.toDF("doc_id", "text").cache()
    val evalDf = evalDocs.toDF("doc_id", "text").cache()
    trainDf.count(); evalDf.count() // materialize outside the measured window
    val recs = shuffleRecords {
      val flagged = Dedup.contamination(trainDf, evalDf, "doc_id", "text", n = 3, minHits = 1)
        .collect().map(_.getLong(0)).toSet
      assert(flagged == Set(5L, 17L), s"wrong contamination set: $flagged")
    }
    // train side: 300 docs × 38 trigrams ≈ 11,400 shingles. Only the two
    // leaked docs' matches (plus the tiny eval-side distinct) may shuffle —
    // a pre-join distinct of the train side would blow straight past this
    assert(recs < 2000,
      s"contamination shuffled $recs records — the train shingle set leaked into a shuffle")
    trainDf.unpersist(); evalDf.unpersist()
  }

  test("IVF probes ~nprobe/nlist of the corpus instead of brute-force N per query") {
    import spark.implicits._
    val rnd = new scala.util.Random(17L)
    val n = 2000
    val emb = Seq.tabulate(n)(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
      .cache()
    emb.count()
    val nQueries = 8
    // measured through the production-observable graft_ivf_candidates
    // metric (Dataset.observe riding the normal plan), not a test-only
    // count — the same signal a deployment's QueryExecutionListener reads
    var counted = -1L
    val metric = observedExamined(operators.Similarity.candidatesMetric) {
      counted = operators.Similarity.ivfCandidates(emb, "vec_id", "embedding",
        col("vec_id") < nQueries, nlist = 16, nprobe = 4).count()
    }
    val examined = metric.getOrElse(-1L)
    assert(examined == counted,
      s"observed metric $examined != counted rows $counted")
    val brute = nQueries.toLong * (n - 1)
    val frac = examined.toDouble / brute
    // expectation nprobe/nlist = 0.25; slack for bucket-size skew (queries
    // sit in denser regions, so their probed buckets run large) — but far
    // below the brute-force 1.0
    assert(frac < 0.55, s"IVF examined $examined of $brute pairs ($frac) — probing is not pruning")
    assert(frac > 0.05, s"IVF examined only $frac — buckets degenerate, recall would collapse")
    emb.unpersist()
  }

  test("NextK page shuffles partitions*k rows, independent of distinct-key count") {
    import spark.implicits._
    import graft.operators.{NextK, SortKey}
    // two corpora with 4x the distinct keys; the bounded page sketch must
    // shuffle the SAME number of records (one <=k-entry buffer per
    // partition) — the groupBy form it replaced shuffles every distinct
    // key, growing 4x here and unboundedly at 100 TB
    def run(n: Int): Long = {
      val df = (0 until n).map(i => (s"k${i % (n / 2)}", i.toLong))
        .toDF("s", "v").repartition(8).cache()
      df.count()
      val recs = shuffleRecords {
        val page = NextK.page(df, Seq(SortKey("s"), SortKey("v")), None, 10).collect()
        assert(page.length == 10)
      }
      df.unpersist()
      recs
    }
    val small = run(2000)
    val large = run(8000)
    assert(large == small,
      s"page shuffle must not scale with distinct keys: $small -> $large records")
  }

  test("ANN re-rank shuffles bounded pages, not the candidate set") {
    import spark.implicits._
    // the re-rank stage must move only partitions·|Q|·k page partials —
    // the row_number window form it replaced shuffled EVERY candidate row
    // into one task per query (4·(n-1) records here, growing with the
    // corpus; the bounded form stays flat)
    def run(n: Int): Long = {
      val rnd = new scala.util.Random(5L)
      val emb = Seq.tabulate(n)(i => (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
        .toDF("vec_id", "embedding")
      val q = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val c = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
      val cand = q.crossJoin(c).filter(col("q_id") =!= col("n_id"))
        .repartition(8).cache()
      cand.count() // materialize outside the measured window
      val recs = shuffleRecords {
        assert(operators.Similarity.rerankTopK(cand, 10).count() == 40L)
      }
      cand.unpersist()
      recs
    }
    val small = run(500)
    val large = run(2000)
    assert(small < 4L * 499,
      s"re-rank shuffled $small records on a 1996-candidate frame — the candidate set crossed a shuffle")
    assert(large < small * 2,
      s"re-rank shuffle grew with the corpus ($small -> $large records on 4x candidates) — not bounded")
  }

  test("simHash candidates at the default radius grow ~linearly on a 4x corpus") {
    // corpus(n) is seed-deterministic, so corpus(300) is a strict prefix of
    // corpus(1200): planted-pair collision behavior is identical across the
    // two sizes and the expected candidate growth is exactly ~4x (linear).
    // The old radius-10 default left 5-6-bit bands whose buckets grow with
    // the corpus — THAT regime trends toward the quadratic 16x.
    val small = corpus(300).cache()
    val big = corpus(1200).cache()
    small.count(); big.count()
    val cSmall = Dedup.simHashCandidates(small, "doc_id", "text").count()
    val cBig = Dedup.simHashCandidates(big, "doc_id", "text").count()
    assert(cSmall > 0, "no candidates at all on the small corpus — banding broken?")
    val growth = cBig.toDouble / cSmall
    assert(growth <= 7.0,
      s"simHash candidates grew ${growth}x on a 4x corpus ($cSmall -> $cBig) — not linear")
    // absolute: a vanishing fraction of the 719,400 all-pairs merges
    assert(cBig <= 1200L * 1199 / 2 / 100,
      s"simHash examined $cBig of ${1200L * 1199 / 2} pairs — bucketing is not pruning")
    small.unpersist(); big.unpersist()
  }

  test("minHashLSH scales ~linearly where the dense all-pairs walk scales quadratically") {
    val nSmall = 300
    val nBig = 1200 // 4× docs → ~4× linear work, 16× quadratic work
    val small = corpus(nSmall).cache()
    val big = corpus(nBig).cache()
    small.count(); big.count() // materialize OUTSIDE the measured windows

    // --- LSH curve: shuffled records end to end -------------------------
    val lshSmall = shuffleRecords {
      CacheScope.scoped(Dedup.minHashLSH(small, "doc_id", "text").count())
    }
    val lshBig = shuffleRecords {
      CacheScope.scoped(Dedup.minHashLSH(big, "doc_id", "text").count())
    }
    val lshGrowth = lshBig.toDouble / lshSmall
    // linear expectation 4.0; slack for candidate growth and partial-agg
    // variation, but far below the quadratic 16
    assert(lshGrowth <= 7.0,
      s"LSH shuffle volume grew ${lshGrowth}x on a 4x corpus ($lshSmall -> $lshBig) — not linear")
    assert(lshGrowth >= 2.0,
      s"LSH shuffle growth ${lshGrowth}x implausibly low ($lshSmall -> $lshBig) — measurement broken?")

    // --- dense curve: pairs actually examined ---------------------------
    // threshold 0 emits every examined pair, so count() == merge count
    val denseSmall = Dedup.jaccardPairsDense(small, "doc_id", "text", 2, 0.0).count()
    val denseBig = Dedup.jaccardPairsDense(big, "doc_id", "text", 2, 0.0).count()
    assert(denseSmall == nSmall.toLong * (nSmall - 1) / 2, "dense must examine all pairs")
    assert(denseBig == nBig.toLong * (nBig - 1) / 2, "dense must examine all pairs")
    val denseGrowth = denseBig.toDouble / denseSmall
    assert(denseGrowth >= 12.0,
      s"dense pair work grew only ${denseGrowth}x on a 4x corpus — expected ~16x (quadratic)")

    // --- cross-path: LSH candidates are a vanishing fraction of all pairs
    val candBig = CacheScope.scoped(
      Dedup.minHashLSHCandidates(big, "doc_id", "text").count())
    assert(candBig <= denseBig / 20,
      s"LSH examined $candBig of $denseBig pairs (> 5%) — bucketing is not pruning")

    // --- and both sizes still find every planted near-dup ---------------
    val foundSmall = CacheScope.scoped(
      Dedup.minHashLSH(small, "doc_id", "text", threshold = 0.5).count())
    val foundBig = CacheScope.scoped(
      Dedup.minHashLSH(big, "doc_id", "text", threshold = 0.5).count())
    assert(foundSmall >= nSmall / 10 * 9 / 10,
      s"small corpus: only $foundSmall of ~${nSmall / 10} planted pairs found")
    assert(foundBig >= nBig / 10 * 9 / 10,
      s"big corpus: only $foundBig of ~${nBig / 10} planted pairs found")
    small.unpersist(); big.unpersist()
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamDedup

/** Streaming ingest dedup: stream ≡ batch on the fixture, plus planted
  * small-corpus semantics (exact dup, chained near-dup, unrelated, empty
  * text) — the contracts the DuckDB oracle cannot see (it only checks the
  * streamed fixture split).
  */
class StreamDedupSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** A catalog row replaying the fixture's 90/10 split through its gate. */
  private def row(name: String, dir: String = sf): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, dir)

  test("streamed ingest dedup equals the batch plan on the fixture split") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val incoming = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val batch = StreamDedup.dedupAgainstCorpus(corpus, incoming, "doc_id", "text")
    val stream = row("dedup_stream_ingest")
    assert(canon(stream) == canon(batch))
    // the stream must answer for EVERY incoming doc, dup or not
    assert(stream.count() == incoming.count())
  }

  test("streamed decontamination gate equals the batch plan and the batch operator") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val eval = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val incoming = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val batch = StreamDedup.decontamGate(eval, incoming, "doc_id", "text")
    val stream = row("pipeline_stream_decontam")
    assert(canon(stream) == canon(batch))
    // gram accounting agrees with the batch span operator's stats columns
    val spanStats = graft.operators.NgramSpans
      .decontamStats(incoming, eval, "doc_id", "text", n = 8)
      .select(col("doc_id"), col("n_grams"), col("n_hit_grams"),
        (col("n_hit_grams") > 0).as("is_contaminated"))
    assert(canon(stream) == canon(spanStats))
    // the gate answers for every incoming non-null-text doc
    assert(stream.count() == incoming.filter(col("text").isNotNull).count())
    // the fixture must exercise both outcomes
    val flags = stream.select("is_contaminated").collect().map(_.getBoolean(0))
    assert(flags.contains(true) && flags.contains(false),
      "fixture split must plant both contaminated and clean incoming docs")
  }

  test("streaming sources adapt to directory-layout fixtures") {
    // engine-written fixtures (df.write.parquet) are a DIRECTORY of part
    // files; the leaf glob that selects a single-file fixture matches no
    // part file INSIDE such a directory, silently emptying the stream —
    // every row then passes the gate unexamined (caught as the failed
    // stream_decontam_copy0_exact invariant in the f10 sweep). Re-write
    // the fixture in directory layout and pin gate ≡ batch on it.
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/stream_layout"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val stream = row("pipeline_stream_decontam", dir)
    assert(stream.count() ==
      docs.filter(pmod(col("doc_id"), lit(10)) === 0 && col("text").isNotNull).count(),
      "directory-layout stream must carry every incoming doc")
    val batch = StreamDedup.decontamGate(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text")
    assert(canon(stream) == canon(batch))
  }

  test("decontamGate fails loudly when the eval side exceeds maxEvalGrams") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val eval = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val incoming = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    // the fixture's eval side carries far more than 10 distinct window
    // hashes — a cap of 10 must trip the guard BEFORE any broadcast,
    // naming both the measured size and the cap (the maxCellsPerInterval
    // loud-failure contract)
    val e = intercept[IllegalArgumentException] {
      StreamDedup.decontamGate(eval, incoming, "doc_id", "text", maxEvalGrams = 10L)
    }
    assert(e.getMessage.contains("maxEvalGrams") && e.getMessage.contains("broadcast"),
      e.getMessage)
    // and a generous cap keeps the gate intact (guard is size-only)
    assert(StreamDedup.decontamGate(eval, incoming, "doc_id", "text",
      maxEvalGrams = 1L << 24).count() ==
      incoming.filter(col("text").isNotNull).count())
  }

  test("two constructions in one scope pin ONE eval-gram set; the scope frees it") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val eval = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val incoming = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    // weakly held: drain the bus and GC so only live persisted RDDs count
    def persisted: Set[Int] = {
      org.apache.spark.graftest.ListenerDrain.drain(spark.sparkContext)
      System.gc()
      spark.sparkContext.getPersistentRDDs.keySet.toSet
    }
    val before = persisted
    val (first, again) = CacheScope.scoped {
      val first = StreamDedup.decontamGate(eval, incoming, "doc_id", "text")
        .collect().map(_.toSeq).toSet
      // same eval plan, fresh DataFrame object: the cache manager matches
      // the CANONICALIZED plan, so the second pin reuses the first's data
      val again = StreamDedup.decontamGate(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), incoming, "doc_id", "text")
        .collect().map(_.toSeq).toSet
      assert(persisted.diff(before).size == 1,
        "two constructions over one eval plan must add exactly one persisted RDD")
      (first, again)
    }
    assert(again == first)
    assert(persisted.diff(before).isEmpty,
      "the scope must unpersist the gate's eval-gram set")
  }

  test("an eval source regrown in place trips the guard on the next construction") {
    import spark.implicits._
    // an eval source that GROWS IN PLACE under the same canonicalized plan
    // (overwritten parquet path — InMemoryFileIndex equality is by root
    // path) must be re-counted by the broadcast-size guard: every
    // construction counts, and the pinned snapshot died with its scope
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/gate_regrow/eval.parquet"
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val incoming = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "unrelated words that never appear in the evaluation suite x"))
      .toDF("doc_id", "text")
    val cap = 50L
    def gate(maxEvalGrams: Long) = StreamDedup.decontamGate(spark.read.parquet(dir),
      incoming, "doc_id", "text", n = 8, maxEvalGrams = maxEvalGrams)
    assert(CacheScope.scoped(gate(cap).filter(col("is_contaminated")).count()) == 1L)
    // grow the eval side past the cap, same path/plan
    spark.range(0, 200)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 8).map(i => concat(lit(s"w$i"), col("id"))): _*).as("text"))
      .write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException](CacheScope.scoped(gate(cap)))
    assert(e.getMessage.contains("maxEvalGrams"), e.getMessage)
    // and a raised cap serves the regrown data, not the first snapshot
    assert(CacheScope.scoped(gate(1L << 20).count()) == 2L)
  }

  test("persisted LSH index serves identically to the fused plan; params ride the index") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val incoming = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/lsh_spec/parity"
    // non-default banding: serve parity then ALSO proves the params file
    // is honored (default-parameter probes against these buckets would
    // have near-zero recall, not equality)
    graft.operators.Dedup.buildLshIndex(corpus, "doc_id", "text", dir,
      n = 3, bands = 6, rowsPerBand = 5, seed = 7L)
    val served = StreamDedup.dedupAgainstLshIndex(spark, incoming,
      "doc_id", "text", dir)
    val fused = StreamDedup.dedupAgainstCorpus(corpus, incoming,
      "doc_id", "text", n = 3, bands = 6, rowsPerBand = 5, seed = 7L)
    assert(canon(served) == canon(fused))
    assert(served.count() == incoming.count())
    // the streamed catalog row over its default-parameter index of the
    // same split agrees with the batch serve
    val streamed = row("dedup_stream_ingest_index")
    val fusedDefault = StreamDedup.dedupAgainstCorpus(corpus, incoming,
      "doc_id", "text")
    assert(canon(streamed) == canon(fusedDefault))
  }

  test("appendToLshIndex: the ingest cycle — accepted docs become corpus for the next batch") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "entirely different reference content about spark engines")
    ).toDF("doc_id", "text")
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/lsh_spec/append"
    graft.operators.Dedup.buildLshIndex(corpus, "doc_id", "text", dir)
    val batch1 = Seq(
      (10L, "fresh novel content alpha beta gamma delta epsilon zeta"),
      (11L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val gate1 = StreamDedup.dedupAgainstLshIndex(spark, batch1, "doc_id", "text", dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(gate1 == Map(10L -> false, 11L -> true))
    // accept batch 1's non-dups into the index; batch 2 repeats doc 10's
    // text, which only an UPDATED index can flag
    graft.operators.Dedup.appendToLshIndex(
      batch1.filter(col("doc_id") === 10L), "doc_id", "text", dir)
    val gate2 = StreamDedup.dedupAgainstLshIndex(spark,
        Seq((20L, "fresh novel content alpha beta gamma delta epsilon zeta"),
            (21L, "still never seen words entirely")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(gate2 == Map(20L -> true, 21L -> false),
      s"appended doc 10 must gate batch 2's repeat: $gate2")
    // the incremental index serves exactly like a from-scratch build
    val rebuilt = s"$dir-rebuilt"
    graft.operators.Dedup.buildLshIndex(
      corpus.union(batch1.filter(col("doc_id") === 10L)), "doc_id", "text", rebuilt)
    val probe = Seq((30L, "the quick brown fox jumps over the lazy cat"),
                    (31L, "fresh novel content alpha beta gamma delta epsilon eta"))
      .toDF("doc_id", "text")
    assert(canon(StreamDedup.dedupAgainstLshIndex(spark, probe, "doc_id", "text", dir))
        == canon(StreamDedup.dedupAgainstLshIndex(spark, probe, "doc_id", "text", rebuilt)))
  }

  test("gate verdict = has an lshIndexPairs pair with an indexed doc, before and after an append") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val corpus = docs.filter(!pmod(col("doc_id"), lit(10)).isin(0, 5))
    val batch1 = docs.filter(pmod(col("doc_id"), lit(10)) === 5)
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/lsh_spec/probe"
    graft.operators.Dedup.buildLshIndex(corpus, "doc_id", "text", dir)
    // returns the batch's accepted (non-dup) ids
    def check(batch: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val gate = StreamDedup.dedupAgainstLshIndex(spark, batch, "doc_id", "text", dir)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      val ids = batch.select("doc_id").as[Long].collect().toSet
      assert(gate.keySet == ids, "the gate answers for every batch doc")
      val pairedWithIndex = graft.operators.Dedup
        .lshIndexPairs(spark, batch, "doc_id", "text", dir)
        .select(col("d1").cast("long"), col("d2").cast("long")).as[(Long, Long)]
        .collect().flatMap { case (a, b) =>
          if (ids(a) && !ids(b)) Seq(a) else if (ids(b) && !ids(a)) Seq(b) else Nil
        }.toSet
      assert(gate.filter(_._2).keySet == pairedWithIndex)
      gate.filterNot(_._2).keys.toSeq.sorted
    }
    val accepted = check(batch1)
    assert(accepted.nonEmpty)
    graft.operators.Dedup.appendToLshIndex(
      batch1.filter(col("doc_id").isin(accepted: _*)), "doc_id", "text", dir)
    // batch 2 carries a copy of an accepted batch-1 doc under a fresh id:
    // only the appended index can pair it, and the gate must agree
    val copyId = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    val batch2 = docs.filter(pmod(col("doc_id"), lit(10)) === 0).union(
      batch1.filter(col("doc_id") === accepted.head)
        .select(lit(copyId).as("doc_id"), col("text")))
    assert(!check(batch2).contains(copyId))
  }

  test("appendToIvfIndex: accepted vectors gate the next batch; exact mode stays exact") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val nlist = graft.operators.Similarity.autoNlist(corpus.count())
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/lsh_spec/ivf_append"
    graft.operators.Similarity.buildIvfIndex(corpus, "vec_id", "embedding", dir, nlist)
    // batch 1 = the held-out split; accept its non-dups into the index
    val batch1 = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    val gate1 = StreamDedup.embeddingDedupAgainstIvfIndex(spark, batch1,
      "vec_id", "embedding", dir, nprobe = nlist)
    val accepted = batch1.join(
      gate1.filter(!col("is_dup")).select(col("vec_id")), Seq("vec_id"))
    graft.operators.Similarity.appendToIvfIndex(accepted, "vec_id", "embedding", dir)
    // batch 2 replays an accepted vector under a new id: only the UPDATED
    // index can flag it, and at nprobe = nlist (exact mode, quantizer-
    // independent) it MUST be flagged with >= 1 match
    val src = accepted.limit(1).select(col("embedding")).head.getSeq[Float](0)
    val batch2 = Seq((900001L, src)).toDF("vec_id", "embedding")
    val gate2 = StreamDedup.embeddingDedupAgainstIvfIndex(spark, batch2,
        "vec_id", "embedding", dir, nprobe = nlist, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(gate2(900001L), s"replayed accepted vector must be flagged: $gate2")
    // the assignments table grew by exactly the accepted count
    val stored = spark.read.parquet(s"$dir/assignments").count()
    assert(stored == corpus.count() + accepted.count(), s"stored=$stored")
  }

  test("planted corpus: exact dup flagged, near-dup flagged, unrelated and empty pass") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "entirely different reference content about spark engines"),
      (3L, "shared shingle text alpha beta gamma delta")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (20L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (30L, "completely unrelated incoming novelty"),       // no match
      (40L, ""),                                            // no shingles
      (50L, "one")                                          // 1 token -> no bigram
    ).toDF("doc_id", "text")
    val got = StreamDedup.dedupAgainstCorpus(corpus, incoming, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(10L) == (1L, true), s"exact dup: ${got(10L)}")
    assert(got(20L)._2, s"near dup not flagged: ${got(20L)}")
    assert(got(30L) == (0L, false))
    assert(got(40L) == (0L, false), "empty text must survive with no matches")
    assert(got(50L) == (0L, false), "sub-shingle text must survive with no matches")
    assert(got.size == 5)
  }

  test("embedding ingest: stream equals batch; probing all buckets is exact; no false positives") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val incoming = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    val threshold = 0.45
    // ground truth: brute-force exact cosine between the two halves
    val brute = incoming.select(col("vec_id").as("s_id"), col("embedding").as("s_vec"))
      .crossJoin(corpus.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")))
      .filter(graft.operators.Similarity.cosine(col("s_vec"), col("c_vec")) >= threshold)
      .groupBy("s_id").agg(countDistinct("c_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // stream ≡ batch for the catalog configuration
    val stream = row("dedup_stream_embedding")
    val batch = StreamDedup.embeddingDedupAgainstCorpus(corpus, incoming,
      "vec_id", "embedding",
      nlist = graft.operators.Similarity.autoNlist(corpus.count()), nprobe = 4)
    assert(canon(stream) == canon(batch))
    assert(stream.count() == incoming.count())

    // the persisted-index serve path equals the fused plan (same corpus,
    // same nlist/seed -> the deterministic trainer yields the same
    // quantizer, so outputs must be identical, not just similar)
    val ivfDir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/lsh_spec/ivf_gate"
    graft.operators.Similarity.buildIvfIndex(corpus, "vec_id", "embedding",
      ivfDir, nlist = graft.operators.Similarity.autoNlist(corpus.count()))
    val served = StreamDedup.embeddingDedupAgainstIvfIndex(spark, incoming,
      "vec_id", "embedding", ivfDir, nprobe = 4)
    assert(canon(served) == canon(batch))

    // zero false positives at partial probing: every flagged match is real
    val flagged = stream.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    flagged.foreach { case (id, n) =>
      assert(n <= brute.getOrElse(id, 0L), s"false positive for $id: $n > ${brute.get(id)}")
    }

    // probing EVERY bucket is the exact mode: matches == brute force
    val nlist = graft.operators.Similarity.autoNlist(corpus.count())
    val exact = StreamDedup.embeddingDedupAgainstCorpus(corpus, incoming,
      "vec_id", "embedding", nlist = nlist, nprobe = nlist)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.filter(_._2 > 0) == brute.filter(_._2 > 0),
      s"nprobe=nlist diverged from brute force: $exact vs $brute")

    // trained ≡ pinned-entry parity under the trained path's own
    // centroids (the gate machinery is one code path — the delegation
    // that lets the hash-green pinned row certify the trained serve)
    val cs = graft.operators.Similarity.trainCentroids(corpus, "vec_id",
      "embedding", nlist = graft.operators.Similarity.autoNlist(corpus.count()),
      seed = 42L).toSeq.map(_.toSeq)
    val pinnedEntry = StreamDedup.embeddingDedupWithCentroids(corpus, incoming,
      "vec_id", "embedding", cs, nprobe = 4, threshold = 0.45)
    assert(canon(pinnedEntry) == canon(batch))

    // assignment-served ≡ fused: the serve-cost form (corpus assignment
    // persisted once, read back per trigger) must reproduce the fused
    // plan exactly — the parity that keeps the catalog row hash-green
    // after the static-side recompute fix
    val assignDir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/lsh_spec/embed_assign"
    StreamDedup.assignCentroids(corpus, "vec_id", "embedding", cs)
      .write.mode("overwrite").parquet(assignDir)
    val servedAssign = StreamDedup.embeddingDedupWithAssignments(
      spark.read.parquet(assignDir), incoming,
      "vec_id", "embedding", cs, nprobe = 4, threshold = 0.45)
    assert(canon(servedAssign) == canon(pinnedEntry))
  }

  test("serve-only streaming embedding row equals the pinned row") {
    // the catalog-level parity behind the shared oracle: the serve-only
    // row (assignment pre-built out of band, memoized) and the pinned
    // row (build + serve each run) must be value-identical — both are
    // the same deterministic assignment under the same pinned centroids
    val pinned = row("dedup_stream_embedding_pinned").collect().map(_.toSeq).toSeq
    val served = row("dedup_stream_embedding_served").collect().map(_.toSeq).toSeq
    assert(served === pinned)
    assert(pinned.nonEmpty)
  }

  test("streamed image dedup gate equals the batch plan; null fingerprints survive") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = when(pmod(col("doc_id"), lit(20)) === 1, col("doc_id") - 1)
      .otherwise(col("doc_id"))
    val corpusFp = graft.operators.Multimodal.imageHashes(
      graft.operators.Multimodal.synthesizePatternPng(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0).select(col("doc_id")), base),
      "doc_id", col("png"))
    val incomingFp = graft.operators.Multimodal.imageHashes(
      graft.operators.Multimodal.synthesizePatternPng(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0).select(col("doc_id")), base),
      "doc_id", col("png"))
    val batch = StreamDedup.fingerprintDedupAgainstCorpus(
      corpusFp, incomingFp, "doc_id", "dhash")
    val stream = row("dedup_stream_image")
    assert(canon(stream) == canon(batch))
    // one row per incoming asset, and the fixture plants both outcomes
    assert(stream.count() ==
      docs.filter(pmod(col("doc_id"), lit(10)) === 0).count())
    val flags = stream.select("is_dup").collect().map(_.getBoolean(0))
    assert(flags.contains(true) && flags.contains(false),
      "fixture must plant both dup and novel incoming images")
    // an undecodable payload (null fingerprint) surfaces with no matches
    // instead of vanishing in the band explode
    val weird = StreamDedup.fingerprintDedupAgainstCorpus(corpusFp,
      Seq((7777L, None: Option[Long]), (10L, Some(corpusFp
        .filter(col("doc_id") === 11L).head.getLong(1)))).toDF("doc_id", "dhash"),
      "doc_id", "dhash")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(weird(7777L) == (0L, false), s"null fingerprint row: ${weird(7777L)}")
    assert(weird(10L)._2, s"exact-hash probe must flag: ${weird(10L)}")
  }

  test("streamed audio dedup gate equals the batch plan and sees through gain") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val isCopy = pmod(col("doc_id"), lit(20)) === 1
    val base = when(isCopy, col("doc_id") - 1).otherwise(col("doc_id"))
    val gain = when(isCopy, lit(2)).otherwise(lit(1))
    val corpusFp = graft.operators.Multimodal.audioHashes(
      graft.operators.Multimodal.synthesizePatternWav(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0).select(col("doc_id")),
        base, gain),
      "doc_id", col("wav"))
    val incomingFp = graft.operators.Multimodal.audioHashes(
      graft.operators.Multimodal.synthesizePatternWav(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0).select(col("doc_id")),
        base, gain),
      "doc_id", col("wav"))
    val batch = StreamDedup.fingerprintDedupAgainstCorpus(
      corpusFp, incomingFp, "doc_id", "afp")
    val stream = row("dedup_stream_audio")
    assert(canon(stream) == canon(batch))
    // the planted near-dups play at GAIN 2 — a match proves the gate
    // flags through the fingerprint's volume invariance, not byte
    // equality of the payloads
    val flags = stream.select("is_dup").collect().map(_.getBoolean(0))
    assert(flags.contains(true) && flags.contains(false),
      "fixture must plant both dup and novel incoming audio")
  }

  test("band collisions across several bands count each corpus match once") {
    import spark.implicits._
    // identical text collides in EVERY band — n_matches must still be 1
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val incoming = Seq((9L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val got = StreamDedup.dedupAgainstCorpus(corpus, incoming, "doc_id", "text")
      .collect()
    assert(got.length == 1 && got.head.getLong(1) == 1L && got.head.getBoolean(2))
  }
}

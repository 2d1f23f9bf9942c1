package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Extension-operator checks: MinHash-LSH vs exact Jaccard, SimHash
  * separation, ANN recall vs brute force, multimodal plumbing.
  */
class ExtensionOpsSpec extends SparkSpec {

  private lazy val docs = sources.Tables.open(spark, sf, "documents").cache()
  private lazy val emb = sources.Tables.open(spark, sf, "embeddings").cache()

  private lazy val exactPairs: Set[(Long, Long)] =
    Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("fixture has planted near-duplicates") {
    assert(exactPairs.nonEmpty)
  }

  test("dense block-pair Jaccard equals the prefix-filtered exact join") {
    val dense = Dedup.jaccardPairsDense(docs, "doc_id", "text", 2, 0.5)
      .select(round(col("jacc"), 6).as("j"), col("d1"), col("d2")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(0))).toSet
    val prefix = Dedup.jaccardPairs(docs, "doc_id", "text", 2, 0.5)
      .select(round(col("jacc"), 6).as("j"), col("d1"), col("d2")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(0))).toSet
    assert(dense == prefix)
  }

  test("MinHash-LSH finds exactly the exact-Jaccard pairs at threshold 0.5") {
    val lsh = Dedup.minHashLSH(docs, "doc_id", "text", 2, 8, 4, 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH verifies candidates exactly, so lsh ⊆ exact always; with 8×4
    // bands recall at j≥0.8 is ~1, and the fixture pairs are j≥0.97.
    assert(lsh.subsetOf(exactPairs), s"false positives: ${lsh.diff(exactPairs)}")
    assert(lsh == exactPairs, s"missed: ${exactPairs.diff(lsh)}")
  }

  test("minHashLSH verify stage plans no Scala UDF (built-in array_intersect)") {
    val plan = Dedup.minHashLSH(docs, "doc_id", "text", 2, 8, 4, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"UDF node leaked into the LSH plan:\n$plan")
  }

  test("sketchStruct: separator-content and null parts are faithful tuple keys") {
    import spark.implicits._
    // the two failure modes of the old string rendering: parts containing
    // any would-be separator, and null parts (previously skipped so
    // ("a", null) collapsed to bare "a" — and could collide with ("a",""))
    val df = Seq(("a|b", "c"), ("a", "b|c"), ("a", null), ("a", null), ("a", ""))
      .toDF("x", "y")
    val got = df.agg(functions.MisraGries.sketchStruct(Seq(col("x"), col("y")), 10).as("mg"))
      .select(explode(col("mg")).as(Seq("k", "cnt")))
      .collect()
      .map(r => (r.getStruct(0).getString(0), r.getStruct(0).getString(1)) -> r.getLong(1))
      .toMap
    assert(got == Map(("a|b", "c") -> 1L, ("a", "b|c") -> 1L,
      ("a", null) -> 2L, ("a", "") -> 1L), got.toString)
  }

  test("sketchStruct handles wide mixed-type keys (long/double/date/decimal)") {
    import spark.implicits._
    // four fields of distinct physical layouts through UnsafeRow keying;
    // k > distinct so counts are exact and fully checkable
    val df = Seq(
      (1L, 1.5, "2024-01-02", "12.34"), (1L, 1.5, "2024-01-02", "12.34"),
      (2L, -0.5, "2023-12-31", "99.99"), (1L, 1.5, "2024-01-03", "12.34"))
      .toDF("a", "b", "d0", "m0")
      .select(col("a"), col("b"), col("d0").cast("date").as("d"),
        col("m0").cast("decimal(10,2)").as("m"))
    val got = df.repartition(3)
      .agg(functions.MisraGries.sketchStruct(
        Seq(col("a"), col("b"), col("d"), col("m")), 10).as("mg"))
      .select(explode(col("mg")).as(Seq("k", "cnt")))
      .collect()
      .map(r => r.getStruct(0).toSeq.map(_.toString) -> r.getLong(1)).toMap
    assert(got.values.sum == 4 && got.size == 3, got.toString)
    assert(got(Seq("1", "1.5", "2024-01-02", "12.34")) == 2L, got.toString)
  }

  test("sketchStruct groups 0.0 with -0.0 (SQL GROUP BY float semantics)") {
    import spark.implicits._
    val got = Seq(("a", 0.0), ("a", -0.0), ("a", 1.0)).toDF("x", "y")
      .agg(functions.MisraGries.sketchStruct(Seq(col("x"), col("y")), 10).as("mg"))
      .select(explode(col("mg")).as(Seq("k", "cnt")))
      .collect()
      .map(r => (r.getStruct(0).getString(0), r.getStruct(0).getDouble(1)) -> r.getLong(1))
      .toMap
    assert(got == Map(("a", 0.0) -> 2L, ("a", 1.0) -> 1L), got.toString)
  }

  test("sketchStruct MG guarantees hold distributed (serialize + merge across partitions)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5L)
    // skewed draw so some tuples cross the N/(k+1) threshold; ~10% null parts
    val rows = Seq.fill(4000)((
      math.min(rnd.nextInt(8), rnd.nextInt(8)).toString,
      if (rnd.nextInt(10) == 0) null else "v"))
    val n = rows.size.toLong
    val k = 5
    // 7 partitions force partial buffers through serialize/deserialize/merge
    val sketch = rows.toDF("x", "y").repartition(7)
      .agg(functions.MisraGries.sketchStruct(Seq(col("x"), col("y")), k).as("mg"))
      .select(explode(col("mg")).as(Seq("t", "cnt")))
      .collect()
      .map(r => (r.getStruct(0).getString(0), r.getStruct(0).getString(1)) -> r.getLong(1))
      .toMap
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(sketch.size <= k, s"buffer exceeded k: ${sketch.size}")
    sketch.foreach { case (t, c) =>
      val tc = truth.getOrElse(t, 0L)
      assert(c <= tc, s"overcount $t: $c > $tc")
      assert(c >= tc - n / (k + 1), s"undercount beyond bound for $t")
    }
    truth.foreach { case (t, c) =>
      if (c > n / (k + 1))
        assert(sketch.contains(t), s"missed heavy tuple $t (freq $c of $n)")
    }
  }

  test("connectedComponents: chains collapse, singletons self-map, matches union-find (randomized)") {
    import spark.implicits._
    // deterministic random graph on 200 vertices; brute-force union-find
    // is the model
    val rnd = new scala.util.Random(29L)
    val n = 200
    val pairRows = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct ++ Seq((190L, 191L), (191L, 192L), (192L, 193L)) // a 4-chain
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairRows.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val model = (0 until n).map(i => (i.toLong, find(i).toLong))
    val verts = (0 until n).map(_.toLong).toDF("id")
    val pairsDf = pairRows.toDF("d1", "d2")
    val got = Dedup.connectedComponentsStar(verts, "id", pairsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(got == model, s"CC diverges from union-find")
    // the planted 4-chain proves labels propagate MULTIPLE hops
    assert(got.filter(t => t._1 >= 190 && t._1 <= 193).map(_._2).distinct.size == 1)
    // vertices no pair touches label themselves
    val touched = pairRows.flatMap { case (a, b) => Seq(a, b) }.toSet
    assert(got.filterNot(t => touched(t._1)).forall(t => t._1 == t._2))
  }

  test("keepRepresentatives keeps the min-id doc per cluster with its member count") {
    import spark.implicits._
    val docsK = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "e"))
      .toDF("doc_id", "text")
    // {1,2,3} via chaining, {4}, {9}
    val pairsK = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    val kept = Dedup.keepRepresentatives(docsK, "doc_id", pairsK)
      .select("doc_id", "text", "n_members")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(kept == Set((1L, "a", 3L), (4L, "d", 1L), (9L, "e", 1L)), kept.toString)
  }

  test("connectedComponentsStar fails loudly instead of returning unconverged labels") {
    import spark.implicits._
    // a 64-vertex path needs more than one contraction round
    val verts = (0L until 64L).toDF("id")
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsStar(verts, "id", chain, maxIters = 1).collect()
    }
    assert(e.getMessage.contains("converge"), e.getMessage)
    // and with the default budget the same chain collapses to one component
    val ok = Dedup.connectedComponentsStar(verts, "id", chain)
      .select("rep_id").distinct().collect()
    assert(ok.length == 1 && ok.head.getLong(0) == 0L)
  }

  test("connectedComponentsStar matches union-find and min-label propagation (randomized)") {
    import spark.implicits._
    // deterministic random graph on 250 vertices plus a planted 5-chain;
    // brute-force union-find and a driver-side min-label propagation are
    // two independent models
    val rnd = new scala.util.Random(41L)
    val n = 250
    val pairRows = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct ++ Seq((240L, 241L), (241L, 242L), (242L, 243L), (243L, 244L))
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairRows.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val model = (0 until n).map(i => (i.toLong, find(i).toLong))
    val verts = (0 until n).map(_.toLong).toDF("id")
    val pairsDf = pairRows.toDF("d1", "d2")
    val star = Dedup.connectedComponentsStar(verts, "id", pairsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(star == model, "star contraction diverges from union-find")
    // min-label propagation: every vertex takes the least label among
    // itself and its neighbours, one hop a round, until nothing changes
    val label = Array.tabulate(n)(_.toLong)
    var changed = true
    while (changed) {
      changed = false
      pairRows.foreach { case (a, b) =>
        val m = math.min(label(a.toInt), label(b.toInt))
        if (label(a.toInt) != m || label(b.toInt) != m) {
          label(a.toInt) = m; label(b.toInt) = m; changed = true
        }
      }
    }
    val minLabel = (0 until n).map(i => (i.toLong, label(i)))
    assert(star == minLabel, "star contraction diverges from min-label propagation")
    // the planted chain proves labels reach MULTIPLE hops
    assert(star.filter(t => t._1 >= 240 && t._1 <= 244).map(_._2).distinct.size == 1)
  }

  test("connectedComponentsStar: a star-forest input is a fixed point") {
    import spark.implicits._
    // every child already points at its component minimum: one round
    // returns the same edges, so the labels are the input stars themselves
    val verts = (0L until 10L).toDF("id")
    val stars = Seq((0L, 1L), (0L, 2L), (0L, 3L), (5L, 6L), (5L, 8L)).toDF("d1", "d2")
    val got = Dedup.connectedComponentsStar(verts, "id", stars)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 6L -> 5L, 8L -> 5L)
    assert(got == (0L until 10L).map(i => i -> want.getOrElse(i, i)).toMap, got.toString)
  }

  test("connectedComponentsStar tests for a star forest only after a round") {
    import spark.implicits._
    // a 9-vertex path is not a star forest: the loop's rounds and their
    // after-round probes start 34 jobs, and a probe before the first
    // round would add 3
    val verts = (0L until 9L).toDF("id")
    val chain = (0L until 8L).map(i => (i, i + 1)).toDF("d1", "d2")
    val jobs = org.apache.spark.graftest.Listeners.jobsStarted(spark.sparkContext) {
      Dedup.connectedComponentsStar(verts, "id", chain)
    }
    assert(jobs <= 34, s"$jobs jobs")
  }

  test("connectedComponentsStar collapses a path far beyond min-label's round budget") {
    import spark.implicits._
    // a 2048-vertex path has diameter 2047: label propagation, one hop a
    // round, would need ~2047 rounds; star contraction is O(log² n)
    val n = 2048L
    val verts = (0L until n).toDF("id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = Dedup.connectedComponentsStar(verts, "id", chain)
    val reps = labels.select("rep_id").distinct().collect()
    assert(reps.length == 1 && reps.head.getLong(0) == 0L,
      s"path did not collapse to one component rooted at 0: ${reps.toSeq}")
    assert(labels.count() == n)
  }

  test("connectedComponentsStar: no pairs means every vertex self-maps; hygiene holds") {
    import spark.implicits._
    val verts = (0L until 7L).toDF("id")
    val none = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val got = Dedup.connectedComponentsStar(verts, "id", none)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L until 7L).map(i => (i, i)).toSet)
    // round-checkpoint release: only the result's own checkpoint may stay
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("d1", "d2")
    Dedup.connectedComponentsStar((0L until 41L).toDF("id"), "id", chain)
      .select("rep_id").distinct().count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.size <= 1,
      s"star CC leaked ${leaked.size} checkpointed edge tables")
  }

  test("connectedComponents releases every round's checkpoint except the result's") {
    import spark.implicits._
    // a 13-vertex path takes several contraction rounds; without the
    // per-round release each round's checkpointed edge table would stay
    // in storage for the session (the leak this test pins closed)
    val verts = (0L until 13L).toDF("id")
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("d1", "d2")
    val before = spark.sparkContext.getPersistentRDDs.size
    val labels = Dedup.connectedComponentsStar(verts, "id", chain)
    assert(labels.select("rep_id").distinct().count() == 1)
    val after = spark.sparkContext.getPersistentRDDs.size
    // at most the RESULT's own checkpoint may remain pinned (it backs the
    // returned frame); every earlier round's must be gone
    assert(after <= before + 1,
      s"CC leaked checkpointed rounds: $before persistent RDDs before, $after after")
  }

  test("connectedComponentsStar upgrades to reliable checkpoints when a checkpoint dir is set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val verts = (0L until 8L).toDF("id")
      val chain = (0L until 7L).map(i => (i, i + 1)).toDF("d1", "d2")
      val got = Dedup.connectedComponentsStar(verts, "id", chain)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == (0L until 8L).map((_, 0L)).toSet, got.toString)
      // reliable mode must actually write RDD checkpoint files (the
      // durability upgrade the scaladoc promises)
      val wrote = java.nio.file.Files.walk(dir).filter(_.toString.contains("rdd-"))
        .findFirst().isPresent
      assert(wrote, s"no reliable checkpoint files under $dir")
      // every earlier round's files are deleted once the next round
      // materializes: only the result's own checkpoint stays on disk
      val rounds = java.nio.file.Files.walk(dir)
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(rounds == 1, s"$rounds rdd-* checkpoint dirs under $dir, expected the result's alone")
    } finally {
      org.apache.spark.graftest.CheckpointDirs.reset(spark.sparkContext)
      scala.util.Try {
        java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("dedup_groups_lsh (CC over MinHash-LSH pairs) equals the exact-pair clustering") {
    // the 100 TB composition: sub-quadratic pair generation feeding the
    // same clustering operator — identical components on the fixture,
    // where LSH recall is 1.0 (pinned above)
    val exact = ExtensionQueries.all.find(_.name == "dedup_groups").get
      .fn(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val lsh = ExtensionQueries.all.find(_.name == "dedup_groups_lsh").get
      .fn(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(exact.nonEmpty && exact == lsh)
    spark.catalog.clearCache()
  }

  test("IVF-pair clustering REFINES the exact-pair clustering (zero-FP edge subset)") {
    // ivfDupPairs has no false positives, so its edge set is a subset of
    // the exact cosine pairs; connected components over a subgraph can
    // only split components, never merge across them — every IVF
    // component must therefore map into exactly ONE exact component.
    val exact = Similarity.cosineDupPairs(emb, "vec_id", "embedding", 0.45)
    val exactComp = Dedup.connectedComponentsStar(emb, "vec_id", exact)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivfPairs = Similarity.ivfDupPairs(emb, "vec_id", "embedding", 0.45,
      nlist = Similarity.autoNlist(emb.count()), nprobe = 4)
    val ivfComp = Dedup.connectedComponentsStar(emb, "vec_id", ivfPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivfComp.keySet == exactComp.keySet, "every vector must be labeled")
    val exactRepOf = ivfComp.groupBy(_._2).map { case (ivfRep, members) =>
      ivfRep -> members.keySet.map(exactComp)
    }
    exactRepOf.foreach { case (ivfRep, exactReps) =>
      assert(exactReps.size == 1,
        s"IVF component $ivfRep straddles exact components $exactReps — " +
          "a false-positive edge merged across exact clusters")
    }
    // and refinement is non-trivial here: the exact clustering has
    // non-singleton components the IVF path also finds
    assert(exactComp.values.toSeq.groupBy(identity).exists(_._2.size > 1))
  }

  test("tfidfTopK: distinctive terms rank first; bounded page equals the window form") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "common common common zebra zebra zebra zebra"),
      (2L, "common words appear everywhere in this tiny corpus"),
      (3L, "common words appear everywhere in that tiny corpus")).toDF("doc_id", "text")
    val got = TextOps.tfidfTopK(corpus, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(4)) -> r.getString(1)).toMap
    // 'zebra' is unique to doc 1 AND more frequent than 'common' there
    assert(got((1L, 1L)) == "zebra", got.toString)
    // the corpus-wide term 'common' (df = 3) can never outrank a doc's
    // distinctive terms at equal tf: idf hits the smoothing floor
    assert(!Seq(got((2L, 1L)), got((3L, 1L))).contains("common"), got.toString)

    // bounded-aggregate ≡ row_number window on the fixture corpus
    val k = 4
    val paged = TextOps.tfidfTopK(docs, "doc_id", "text", k)
    val tf = TextOps.rawShingles(docs, "doc_id", "text", 1)
      .groupBy(col("doc_id"), col("sh").as("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.count().toDouble
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
    val windowed = tf.join(dfreq, Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * (log((lit(1.0) + lit(n)) / (lit(1.0) + col("df"))) + lit(1.0)), 6)
          .as("tfidf"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
    val canon = (df: org.apache.spark.sql.DataFrame) =>
      df.select("doc_id", "term", "tf", "tfidf", "rk")
        .collect().map(_.mkString("|")).sorted.toSeq
    assert(canon(paged) == canon(windowed))
  }

  test("lmScore: hand-checked bigram probabilities, uniform fallback for unseen text") {
    import spark.implicits._
    // LM corpus: tokens [a b a c] + [a b] — vocab {a,b,c} (|V|=3);
    // occurrence counts: unigram a:3 b:2 c:1, bigram (a b):2 (b a):1
    // (a c):1.
    val lm = Seq((1L, "a b a c"), (2L, "a b")).toDF("doc_id", "text")
    val k = 0.5
    val V = 3.0
    def p(cb: Double, cw: Double) = (cb + k) / (cw + k * V)
    // target doc "a b c": bigrams (a b) cb=2 cw(a)=3, (b c) cb=0 cw(b)=2
    val exp1 = -(math.log(p(2, 3)) / math.log(2)) / 2 +
      -(math.log(p(0, 2)) / math.log(2)) / 2
    // fully unseen doc "x y": bigram (x y) cb=0 cw(x)=0 → p = 1/V exactly
    val expUnseen = math.log(V) / math.log(2)
    val got = TextOps.lmScore(lm,
        Seq((10L, "a b c"), (11L, "x y"), (12L, "solo")).toDF("doc_id", "text"),
        "doc_id", "text", addK = k)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(10L, 11L), "one-token doc 12 must be absent")
    assert(got(10L)._1 == 2L && math.abs(got(10L)._2 - exp1) < 1e-12, got(10L).toString)
    assert(got(11L)._1 == 1L && math.abs(got(11L)._2 - expUnseen) < 1e-12,
      s"unseen doc must score the uniform -log2(1/V): ${got(11L)}")
    // self-scoring: the corpus is likelier under its own LM than novel text
    val self = TextOps.lmScore(lm, lm, "doc_id", "text", addK = k)
      .agg(avg("cross_entropy")).head.getDouble(0)
    assert(self < expUnseen, s"self-score $self should beat uniform $expUnseen")
  }

  test("subdocDedup drops corpus-repeated boilerplate spans, keeps unique content") {
    import spark.implicits._
    // three 'pages' sharing a verbatim 10-token header; unique bodies
    val header = (1 to 10).map(i => s"nav$i").mkString(" ")
    val docsDf = Seq(
      (1L, s"$header aaa bbb ccc ddd eee fff ggg hhh iii jjj"),
      (2L, s"$header kkk lll mmm nnn ooo ppp qqq rrr sss ttt"),
      (3L, s"$header uuu vvv www xxx yyy zzz a1 a2 a3 a4"),
      (4L, "lone doc with fully unique words only here now ok"))
      .toDF("doc_id", "text")
    val got = Dedup.subdocDedup(docsDf, "doc_id", "text", spanTokens = 10, maxDocs = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // pages: 2 spans each (header + body); header dropped, 10-token body kept
    for (id <- 1L to 3L)
      assert(got(id) == ((2L, 1L, 10L)), s"doc $id: ${got(id)}")
    // the lone doc: 10 tokens → one span, nothing dropped
    assert(got(4L) == ((1L, 0L, 10L)), got(4L).toString)
  }

  test("subdocDedupClean token counts reconcile with subdocDedup stats (randomized)") {
    import spark.implicits._
    // the two forms share one span+count head; the cleaned text must carry
    // EXACTLY the tokens the stats form counted as kept, doc by doc — a
    // drift between the paths (e.g. a filter-vs-conditional-sum mismatch)
    // shows up here on a corpus with planted boilerplate and ragged sizes
    val rnd = new scala.util.Random(13L)
    val vocab = Array.tabulate(300)(i => s"w$i")
    val boiler = Seq.fill(7)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val docsR = (0 until 120).map { i =>
      val body = Seq.fill(3 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (i.toLong, if (i % 3 == 0) s"$boiler $body" else body)
    }.toDF("doc_id", "text")
    val stats = Dedup.subdocDedup(docsR, "doc_id", "text", spanTokens = 7, maxDocs = 2)
      .select(col("doc_id"), col("n_kept_tokens"))
    val clean = Dedup.subdocDedupClean(docsR, "doc_id", "text", spanTokens = 7, maxDocs = 2)
      .select(col("doc_id"),
        when(col("clean_text") === "", lit(0L))
          .otherwise(size(split(col("clean_text"), " ")).cast("long"))
          .as("n_clean_tokens"))
    val joined = stats.join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_kept_tokens"),
        coalesce(col("n_clean_tokens"), lit(0L)).as("n_clean_tokens"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"doc ${r.getLong(0)}: stats kept ${r.getLong(1)} tokens, clean text has ${r.getLong(2)}")
    }
  }

  test("subdocDedupClean emits kept spans in order; 100%-boilerplate docs vanish") {
    import spark.implicits._
    // 3-token spans: "nav bar home" recurs across all docs → boilerplate;
    // doc 3 is NOTHING BUT the boilerplate span, so it has no clean text
    val df = Seq(
      (1L, "nav bar home alpha beta gamma delta eps zeta"),
      (2L, "nav bar home one two three"),
      (3L, "nav bar home")).toDF("doc_id", "text")
    val out = Dedup.subdocDedupClean(df, "doc_id", "text", spanTokens = 3, maxDocs = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, "alpha beta gamma delta eps zeta", 2L),
      (2L, "one two three", 1L)), s"got $out")
  }

  test("SimHash: planted pairs at small Hamming distance, background far") {
    val ham = Dedup.simHashPairs(docs, "doc_id", "text", 2, 10)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted near-dup must fall within Hamming 10
    assert(exactPairs.subsetOf(ham), s"missed planted: ${exactPairs.diff(ham)}")
    // and the sketch should not drown in background pairs
    assert(ham.size <= exactPairs.size * 3, s"too many background pairs: ${ham.size}")
  }

  test("portable SimHash finds the planted pairs and agrees with its own brute-force Hamming") {
    // same planted-recall contract as the xxhash64 path (different hash,
    // same sketch semantics)...
    val ham = Dedup.simHashPairsPortable(docs, "doc_id", "text", 2, 10)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.subsetOf(ham), s"missed planted: ${exactPairs.diff(ham)}")
    assert(ham.size <= exactPairs.size * 3, s"too many background pairs: ${ham.size}")
    // ...and pigeonhole exactness: banded pairs == all-pairs bit_count walk
    // over the SAME portable fingerprints (recall 1.0, no radius cheating)
    val fp = Dedup.simHashFingerprintsPortable(docs, "doc_id", "text")
    val brute = fp.as("l").join(fp.as("r"),
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("d1"), col("r.doc_id").as("d2"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.simHashPairsPortable(docs, "doc_id", "text")
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"only-banded: ${banded.diff(brute)}; only-brute: ${brute.diff(banded)}")
  }

  test("SimHash default radius (3) is exactly the radius-10 result filtered to hamming <= 3") {
    // pigeonhole exactness must not depend on the banding geometry: the
    // 4x16-bit default and the 11-band radius-10 layout agree wherever
    // their radii overlap
    val viaDefault = Dedup.simHashPairs(docs, "doc_id", "text")
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val via10 = Dedup.simHashPairs(docs, "doc_id", "text", 2, 10)
      .filter(col("hamming") <= 3)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaDefault == via10,
      s"only-default: ${viaDefault.diff(via10)}; only-10: ${via10.diff(viaDefault)}")
    assert(viaDefault.nonEmpty, "radius-3 result vacuous on the fixture")
  }

  test("cleaning pipeline: LSH near-dup stage ≡ exact dense stage on the fixture") {
    // the catalog query ships the sub-quadratic MinHash-LSH stage while the
    // DuckDB oracle replays exact near-dup SQL — this is the parity that
    // keeps the hash green (VERDICT r3 item 1)
    CacheScope.scoped {
      val viaLsh = ExtensionQueries.cleanCorpus(docs,
        sv => Dedup.minHashLSH(sv, "doc_id", "text", n = 2, threshold = 0.5)).collect().toSeq
      val viaDense = ExtensionQueries.cleanCorpus(docs,
        sv => Dedup.jaccardPairsDense(sv, "doc_id", "text", 2, 0.5)).collect().toSeq
      assert(viaLsh == viaDense)
    }
  }

  test("catalog pipeline query plan has no quadratic block-NLJ stage") {
    val q = ExtensionQueries.all.find(_.name == "pipeline_clean_corpus").get
    val plan = q.fn(spark, sf).queryExecution.optimizedPlan.toString
    // the dense block-pair path enters the plan as an RDD scan over the
    // (d1, d2, jacc) tuple schema; the LSH pipeline is pure DataFrame
    // operators. The CLUSTERING stage's checkpointed edge table is a
    // legitimate RDD scan — its output schema (u, v) is the discriminator
    val rddScans = plan.linesIterator
      .filter(l => l.contains("ExistingRDD") || l.contains("LogicalRDD")).toSeq
    assert(rddScans.forall(l => """\[u#\d+L, v#\d+L\]""".r.findFirstIn(l).isDefined),
      s"non-clustering RDD scan (quadratic dense stage?) leaked into:\n$plan")
    spark.catalog.clearCache()
  }

  test("CacheScope.scoped releases every pin") {
    docs.count() // materialize the spec-level cache before snapshotting
    // compare RDD-id SETS, not map sizes: `persistentRdds` is weak-valued,
    // so a lingering checkpoint RDD from an earlier test can be GC'd
    // between the snapshots and mask the pin's +1 in a size comparison
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CacheScope.scoped {
      Dedup.minHashLSH(docs, "doc_id", "text").count()
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
        "pin did not persist")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "scope leaked a pin")
  }

  test("CacheScope.release only unpersists pins the scope itself created") {
    val frame = docs.select(col("doc_id")).filter(col("doc_id") % 7 === 0)
    CacheScope.pin(frame)
    assert(!frame.storageLevel.useMemory, "a pin with no open scope must not persist")
    CacheScope.scoped {
      CacheScope.pin(frame).count()
      assert(frame.storageLevel.useMemory, "owner pin must persist")
      // an inner scope pins an IDENTICAL plan: the CacheManager resolves
      // it to the owner's cache, so the inner scope must not claim (or
      // drop) it
      CacheScope.scoped {
        val same = docs.select(col("doc_id")).filter(col("doc_id") % 7 === 0)
        CacheScope.pin(same).count()
      }
      assert(frame.storageLevel.useMemory,
        "the inner scope's exit dropped a pin it never created")
    }
    assert(!frame.storageLevel.useMemory, "the owner scope's exit must unpersist")
  }

  test("ivfDupPairs: subset of exact pairs, recall floor, sub-quadratic candidates") {
    import spark.implicits._
    val exact = Similarity.cosineDupPairs(emb, "vec_id", "embedding", 0.45)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfDupPairs(emb, "vec_id", "embedding", 0.45,
        nlist = 16, nprobe = 3)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact-verify stage ⇒ NO false positive is ever possible
    assert(approx.subsetOf(exact), s"false positives: ${approx.diff(exact)}")
    // recall floor at the fixture's weak-similarity threshold (θ≈60°);
    // deterministic (seeded centroids), measured 6/7 at these params
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall below floor (found ${approx.size}/${exact.size})")
    // candidate volume is the scale claim: with nlist ∝ √N the shared-
    // bucket pair set must stay well under the N²/2 brute-force walk
    val rnd = new scala.util.Random(31L)
    val n = 2000
    val big = Seq.tabulate(n)(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
      .cache()
    big.count()
    val cs = Similarity.trainCentroids(big, "vec_id", "embedding", 64, 42L)
      .toSeq.map(_.toSeq)
    import graft.functions.VectorExprs.nearestCentroids
    val tagged = big.select(col("vec_id"),
      explode(nearestCentroids(col("embedding"), cs, 3)).as("bucket"))
    val cand = tagged.select(col("vec_id").as("d1"), col("bucket"))
      .join(tagged.select(col("vec_id").as("d2"), col("bucket")), Seq("bucket"))
      .filter(col("d1") < col("d2")).select("d1", "d2").distinct().count()
    val brute = n.toLong * (n - 1) / 2
    val frac = cand.toDouble / brute
    assert(frac < 0.35, s"candidates $cand of $brute ($frac) — bucketing is not pruning")
    big.unpersist()
  }

  test("ivfDupPairs finds planted near-dups at cosine 0.9 with auto-sized nlist") {
    import spark.implicits._
    // the regime the operator is FOR (training-data dedup: high-threshold
    // near-dups), on a corpus where ground truth is planted by
    // construction: each base vector gets a twin with ~0.3%-norm noise
    // (cosine ≈ 0.9975), random gaussian cross-pairs sit far below 0.9
    val rnd = new scala.util.Random(41L)
    val dim = 32
    val rows = Array.tabulate(300) { i =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val dup = v.map(x => x + (rnd.nextGaussian() * 0.05).toFloat)
      Seq((i.toLong, v), (1000L + i, dup))
    }.flatten.toSeq
    val planted = rows.toDF("vec_id", "embedding").cache()
    planted.count()
    val exact = Similarity.cosineDupPairs(planted, "vec_id", "embedding", 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 295, s"corpus broken: only ${exact.size} planted pairs visible")
    val approx = Similarity.ivfDupPairs(planted, "vec_id", "embedding", 0.9,
        nlist = Similarity.autoNlist(600), nprobe = 2)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.subsetOf(exact), s"false positives: ${approx.diff(exact)}")
    val recall = approx.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95,
      s"recall $recall below floor at cosine 0.9 (found ${approx.size}/${exact.size})")
    planted.unpersist()
  }

  test("trainCentroids converges to the true means of well-separated clusters") {
    import spark.implicits._
    // 4 gaussian blobs at mutual distance ~14 with spread 0.1: kmeans++
    // init must seed one center per blob (the hash-smallest init this
    // replaced routinely dropped two inits into one blob, and one Lloyd
    // pass could not recover), and convergence must land each centroid on
    // its blob mean
    val rnd = new scala.util.Random(7L)
    val trueMeans = Array.tabulate(4)(c => Array.tabulate(8)(j => if (j == c * 2) 10.0 else 0.0))
    val rows = (0 until 400).map { i =>
      val c = i % 4
      (i.toLong, trueMeans(c).map(x => (x + rnd.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val cs = Similarity.trainCentroids(df, "vec_id", "embedding", 4, 42L)
    assert(cs.length == 4)
    trueMeans.foreach { tm =>
      val d = cs.map(c => math.sqrt(c.zip(tm).map { case (a, b) => (a - b) * (a - b) }.sum)).min
      assert(d < 0.2, s"no converged centroid near blob mean ${tm.toSeq}: nearest at distance $d")
    }
  }

  test("k-means|| init: blob quality parity with kmeans++, deterministic, bounded driver state") {
    import spark.implicits._
    // the same 4-blob corpus as the kmeans++ test: the distributed
    // oversampling init (the nlist > maxKmeansppLists path, forced here
    // at a testable size) must seed one center per blob and converge to
    // the blob means exactly like the driver kmeans++ path — the "parity
    // at small nlist" contract of the init switch
    val rnd = new scala.util.Random(7L)
    val trueMeans = Array.tabulate(4)(c => Array.tabulate(8)(j => if (j == c * 2) 10.0 else 0.0))
    val rows = (0 until 400).map { i =>
      val c = i % 4
      (i.toLong, trueMeans(c).map(x => (x + rnd.nextGaussian() * 0.1).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding").cache(); df.count()
    val cs = Similarity.trainCentroids(df, "vec_id", "embedding", 4, 42L,
      forceParallelInit = true)
    assert(cs.length == 4)
    trueMeans.foreach { tm =>
      val d = cs.map(c => math.sqrt(c.zip(tm).map { case (a, b) => (a - b) * (a - b) }.sum)).min
      assert(d < 0.2, s"no converged centroid near blob mean ${tm.toSeq}: nearest at distance $d")
    }
    // deterministic: no RNG in any scan, so a rerun (any partitioning)
    // reproduces the centers bitwise
    val cs2 = Similarity.trainCentroids(df.repartition(7), "vec_id", "embedding",
      4, 42L, forceParallelInit = true)
    assert(cs.map(_.toSeq).toSeq == cs2.map(_.toSeq).toSeq,
      "k-means|| centers are not deterministic across partitionings")
    // driver state is the candidate set: ≈ 1 + l·rounds = O(k), NEVER
    // O(corpus) — the memory contract that lets nlist scale past the
    // kmeans++ sample regime (4·l·rounds is a generous Chernoff bound on
    // the Bernoulli round sizes)
    val k = 4
    assert(Similarity.lastParallelInitCandidates <= 1 + 4 * (2 * k) * 5,
      s"candidate set ${Similarity.lastParallelInitCandidates} not O(k)")
    df.unpersist()
  }

  test("k-means|| init preserves the planted-corpus recall floor at cosine 0.9") {
    import spark.implicits._
    // same planted twin corpus as the ivfDupPairs recall test; buckets
    // assigned from k-means||-initialized centroids must co-bucket ≥95%
    // of twins within nprobe=2 — the mechanism ivfDupPairs recall rides
    val rnd = new scala.util.Random(41L)
    val dim = 32
    val rows = Array.tabulate(300) { i =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val dup = v.map(x => x + (rnd.nextGaussian() * 0.05).toFloat)
      Seq((i.toLong, v), (1000L + i, dup))
    }.flatten.toSeq
    val planted = rows.toDF("vec_id", "embedding").cache(); planted.count()
    val cs: Seq[Seq[Double]] = Similarity.trainCentroids(planted, "vec_id", "embedding",
        Similarity.autoNlist(600), 42L, forceParallelInit = true)
      .toSeq.map(_.toSeq)
    import graft.functions.VectorExprs.nearestCentroids
    val buckets = planted
      .select(col("vec_id"), nearestCentroids(col("embedding"), cs, 2).as("bks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    val coBucketed = (0 until 300).count(i =>
      buckets(i.toLong).intersect(buckets(1000L + i)).nonEmpty)
    assert(coBucketed >= 285, // ≥ 0.95 of 300 planted twins
      s"only $coBucketed/300 twins co-bucket under k-means|| centroids")
    planted.unpersist()
  }

  test("cosineDupPairs skips zero-norm vectors instead of crashing") {
    import spark.implicits._
    val base = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f))) // zero norm → cosine undefined
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineDupPairs(base, "vec_id", "embedding", 0.9, groups = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"zero-norm vector must pair with nothing: $pairs")
  }

  test("contamination flags planted leakage, spares disjoint vocab, broadcasts eval") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // copied into eval → leaked
      (2L, "qq ww ee rr tt yy uu ii")              // disjoint vocab → clean
    ).toDF("doc_id", "text")
    val eval = Seq(
      (101L, "alpha beta gamma delta epsilon zeta"), // verbatim benchmark doc
      (102L, "one two three four five six")
    ).toDF("doc_id", "text")
    val out = Dedup.contamination(train, eval, "doc_id", "text", n = 3, minHits = 1)
    val flagged = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares all 4 distinct trigrams of the copied text; doc 2 none
    assert(flagged == Map(1L -> 4L), flagged.toString)
    // scale shape: the eval shingle set must broadcast (no shuffle of the
    // train side beyond the final per-doc count)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval side must broadcast:\n$plan")
  }

  test("contaminationBloom: equals exact at tight fpp, superset even at fpp 0.5") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval = docs.filter(col("doc_id") % 2 === 1)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = asMap(Dedup.contamination(train, eval, "doc_id", "text", 3, 1))
    val tight = asMap(Dedup.contaminationBloom(train, eval, "doc_id", "text", 3, 1))
    assert(tight == exact, "fpp 1e-8: measured fixture behavior is exact equality")
    // the one-sided CONTRACT: no false negatives at ANY fpp — every truly
    // contaminated doc is flagged with at least its exact hit count
    val loose = asMap(Dedup.contaminationBloom(train, eval, "doc_id", "text", 3, 1,
      fpp = 0.5))
    exact.foreach { case (id, hits) =>
      assert(loose.getOrElse(id, 0L) >= hits,
        s"doc $id: bloom under-counted ${loose.get(id)} vs exact $hits")
    }
    // determinism: same inputs, same filter bits, same flags
    val again = asMap(Dedup.contaminationBloom(train, eval, "doc_id", "text", 3, 1,
      fpp = 0.5))
    assert(again == loose)
  }

  test("temperatureMix flattens source shares as T grows") {
    import spark.implicits._
    // skewed corpus: 1000 / 200 / 50 rows per source
    val rows = Seq.tabulate(1000)(i => ("big", i)) ++
      Seq.tabulate(200)(i => ("mid", i)) ++ Seq.tabulate(50)(i => ("small", i))
    val df = rows.toDF("src", "v")
    def shares(t: Double): Map[String, Double] = {
      val got = Sampling.temperatureMix(df, "src", t, targetRows = 400L)
        .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val tot = got.values.sum.toDouble
      got.map { case (k, v) => k -> v / tot }
    }
    val natural = shares(1.0)
    val flat = shares(100.0)
    // T=1 ~ natural proportions (big:mid:small = 0.8:0.16:0.04)
    assert(math.abs(natural("big") - 0.8) < 0.08, natural.toString)
    // high T flattens hard: the small source's share must grow severalfold
    // toward uniform (1/3); the big source's must shrink. Bounds leave
    // room for sampleBy's per-partition Bernoulli noise at these counts.
    assert(flat("small") > natural.getOrElse("small", 0.0) * 2 && flat("small") > 0.10,
      s"$natural -> $flat")
    assert(flat("big") < 0.55, s"high-T share still skewed: $flat")
  }

  test("temperatureMixTokens budgets TOKEN shares, independent of doc-length skew") {
    import spark.implicits._
    // 'big' holds many SHORT docs, 'fat' few LONG docs — equal token mass
    // (5000 each); row-based mixing would sample 'big' 10x more ROWS, but
    // token-weighted mixing at T=1 must return ~equal token masses
    val rows = Seq.tabulate(1000)(i => ("big", i.toLong, 5L)) ++
      Seq.tabulate(100)(i => ("fat", 10000L + i, 50L))
    val df = rows.toDF("src", "id", "n_tok")
    val got = Sampling.temperatureMixTokens(df, "src", "n_tok",
        temperature = 1.0, targetTokens = 5000L)
      .groupBy("src").agg(sum("n_tok").as("tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = got.values.sum.toDouble
    // expected: 2500 tokens each (share 0.5); allow Bernoulli noise
    assert(math.abs(got("big") / tot - 0.5) < 0.1, got.toString)
    assert(tot > 3500 && tot < 6500, s"total tokens off target: $tot")
  }

  test("chunkTokens equals the sequential model on randomized lengths") {
    import spark.implicits._
    val rnd = new scala.util.Random(5L)
    // lengths straddling every boundary: < overlap, = size, size+1, multiples
    val lens = Seq(1, 15, 16, 17, 48, 63, 64, 65, 96, 97, 112, 113, 160) ++
      Seq.fill(20)(1 + rnd.nextInt(200))
    val docs = lens.zipWithIndex.map { case (len, i) =>
      (i.toLong, (0 until len).map(j => s"t${i}_$j").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val got = operators.TextOps.chunkTokens(df, "doc_id", "text", 64, 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    def model(tokens: Seq[String]): Seq[(Int, Int)] = {
      val n = tokens.length
      val nChunks = math.max(math.ceil((n - 16).toDouble / 48).toInt, 1)
      (0 until nChunks).map(i => i -> tokens.slice(i * 48, i * 48 + 64).length)
    }
    docs.foreach { case (id, text) =>
      val exp = model(text.split(" ").toSeq).map { case (c, l) => (id, c) -> l.toLong }.toMap
      val act = got.filter(_._1._1 == id)
      assert(act == exp, s"doc $id (${text.split(" ").length} tokens): $act vs $exp")
    }
    // coverage: every token of every doc appears in >= 1 chunk
    docs.foreach { case (id, text) =>
      val n = text.split(" ").length
      val covered = got.keys.filter(_._1 == id)
        .flatMap { case (_, c) => (c * 48) until math.min(c * 48 + 64, n) }.toSet
      assert(covered == (0 until n).toSet, s"doc $id: uncovered tokens")
    }
  }

  test("chunkTokens drops null-text docs instead of emitting a bogus chunk") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val got = operators.TextOps.chunkTokens(df, "doc_id", "text", 4, 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // doc 2 (null) yields nothing; doc 3 ("") keeps the [""] one-empty-token
    // contract (one chunk of one empty token), mirroring tokens()
    assert(got.toSet == Set((1L, 0, 3L), (3L, 0, 1L)), got.mkString(","))
  }

  test("exact dedup groups every doc exactly once") {
    val g = Dedup.exact(docs, "doc_id", "text")
      .agg(sum("n_copies")).head.getLong(0)
    assert(g == docs.count())
  }

  test("LSH ANN recall@10 >= 0.6 vs brute force on the fixture") {
    // fixture embeddings are near-random (top sims ~0.3) — the hardest
    // regime for LSH; 16 tables × 4 bits gives ~0.85 expected recall there
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", col("vec_id") < 5, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", col("vec_id") < 5, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("pinned-plane LSH equals lshTopK fed the same generated planes") {
    // lshTopKWithPlanes is lshTopK with the seeded generation factored
    // out: fed the SAME plane matrices it must be bit-equal
    val planes = (0 until 16).map(l => Similarity.planeMatrix(64, 4, 42L + 1000L * l))
    val viaPlanes = Similarity.lshTopKWithPlanes(emb, "vec_id", "embedding",
      col("vec_id") < 5, 10, planes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val trained = Similarity.lshTopK(emb, "vec_id", "embedding", col("vec_id") < 5, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(viaPlanes == trained)
  }

  test("IVF ANN recall@10 >= 0.5 vs brute force with half the buckets probed") {
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding", col("vec_id") < 5, 10)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", col("vec_id") < 5, 10,
      nlist = 16, nprobe = 8)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("bounded rerankTopK reproduces the window-sort top-k exactly") {
    import org.apache.spark.sql.expressions.Window
    // the shared ANN tail is a bounded per-query page aggregate; this is
    // the dependency-free window model it replaced (single-task sort per
    // query — correct, but not the 100× plan), kept as the parity oracle
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_vec"))
    val cand = q.crossJoin(c).filter(col("q_id") =!= col("n_id"))
    val bounded = Similarity.rerankTopK(cand, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id").asc)
    val model = cand
      .select(col("q_id"), col("n_id"),
        round(Similarity.cosine(col("q_vec"), col("n_vec")), 6).as("sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .orderBy(col("q_id"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(model.nonEmpty && bounded.toSeq == model.toSeq)
  }

  test("cosine of a vector with itself is 1") {
    val one = emb.limit(1)
      .select(round(Similarity.cosine(col("embedding"), col("embedding")), 6).as("c"))
      .head.getDouble(0)
    assert(one == 1.0)
  }

  test("language-ID picks the max-marker language with fixed tie-break") {
    val out = TextOps.languageId(docs, "doc_id", "text").collect()
    assert(out.length == docs.count())
    assert(out.forall(r => Seq("en", "es", "de", "fr", "zh").contains(r.getString(1))))
  }

  test("quality score ratios are within [0,1]") {
    val q = TextOps.qualityScore(docs, "doc_id", "text").collect()
    assert(q.forall { r =>
      val stop = r.getAs[Double]("stop_ratio")
      val punct = r.getAs[Double]("punct_ratio")
      stop >= 0 && stop <= 1 && punct >= 0 && punct <= 1
    })
  }

  test("winnowing fingerprint is shift-stable on shared substrings") {
    val a = "the quick brown fox jumps over the lazy dog again and again".split(" ").toIndexedSeq
    val b = ("prefix words " + "the quick brown fox jumps over the lazy dog again and again").split(" ").toIndexedSeq
    val fa = TextOps.winnow(a, 3, 4).toSet
    val fb = TextOps.winnow(b, 3, 4).toSet
    assert(fa.intersect(fb).nonEmpty, "no shared fingerprints for overlapping text")
  }

  test("local winnow agrees with distributed winnowFingerprints on random docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23L)
    val vocab = Vector.tabulate(9)(i => s"t$i")
    val corpora = (0L until 30L).map { id =>
      val len = rnd.nextInt(20)
      id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val dist = TextOps.winnowFingerprints(
      corpora.toDF("doc_id", "text"), "doc_id", "text", 3, 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    corpora.foreach { case (id, text) =>
      val local = TextOps.winnow(text.trim.split("\\s+").toIndexedSeq, 3, 4)
      val expected = if (local.isEmpty) None else Some((local.distinct.size.toLong, local.min))
      assert(dist.get(id) == expected, s"doc $id: '$text'")
    }
  }

  test("winnowFingerprints equals the sequential model, incl. short docs") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def model(text: String, k: Int, w: Int): Option[(Long, String)] = {
      val toks = text.trim.split("\\s+").toIndexedSeq
      if (toks.length < k) None
      else {
        val hashes = toks.sliding(k).map(g => md5hex(g.mkString(" "))).toIndexedSeq
        val mins =
          if (hashes.length <= w) Seq(hashes.min)
          else hashes.sliding(w).map(_.min).toSeq.distinct
        Some((mins.distinct.size.toLong, mins.min))
      }
    }
    val rnd = new scala.util.Random(17L)
    val vocab = Vector.tabulate(7)(i => s"w$i") // tiny vocab → repeated grams
    val corpora = (0L until 40L).map { id =>
      val len = rnd.nextInt(12) // includes docs too short for a 3-gram
      id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val got = TextOps.winnowFingerprints(
      corpora.toDF("doc_id", "text"), "doc_id", "text", 3, 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    corpora.foreach { case (id, text) =>
      assert(got.get(id) == model(text, 3, 4), s"doc $id: '$text'")
    }
  }

  test("Misra-Gries Spark aggregator in the sketch regime vs exact counts") {
    // k=20 well below distinct l_partkey count — MG guarantee, not exact:
    // every key with freq > N/(k+1) present; counts are lower bounds
    // within N/(k+1). Cross-checks the aggregate against the exact
    // groupBy path on real distributed partitions.
    val k = 20
    val li = sources.Tables.open(spark, sf, "lineitem")
    val n = li.count()
    val exact = li.groupBy(col("l_partkey")).count().collect()
      .map(r => r.getLong(0).toString -> r.getLong(1)).toMap
    val mg = li.agg(graft.functions.MisraGries
        .sketch(col("l_partkey").cast("string"), k).as("mg"))
      .select(explode(col("mg")).as(Seq("value", "cnt"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bound = n / (k + 1)
    exact.foreach { case (v, c) =>
      if (c > bound) assert(mg.contains(v), s"missed heavy key $v (freq $c > $bound)")
    }
    mg.foreach { case (v, c) =>
      val t = exact.getOrElse(v, 0L)
      assert(c <= t, s"overcount $v: $c > $t")
      assert(c >= t - bound, s"undercount beyond bound for $v: $c < $t - $bound")
    }
  }

  test("multimodal: real PNG encode -> decode round-trips dims and colours exactly") {
    val pngs = Multimodal.synthesizePng(docs.select(col("doc_id")).limit(50), "doc_id")
    val assets = Multimodal.toAsset(pngs, "doc_id", "png", "image/png")
    val schema = assets.schema("asset").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema.fieldNames.toSeq == Seq("uri", "mime", "data", "meta"))
    val feats = Multimodal.decodeFeatures(assets, "doc_id").collect()
    assert(feats.length == 50)
    feats.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == (8 + id % 9).toInt, s"width of $id")
      assert(r.getInt(2) == (8 + id * 3 % 9).toInt, s"height of $id")
      assert(r.getDouble(3) == (id % 256).toDouble, s"mean_r of $id")
      assert(r.getDouble(4) == (id * 7 % 256).toDouble, s"mean_g of $id")
      assert(r.getDouble(5) == (id * 13 % 256).toDouble, s"mean_b of $id")
    }
  }

  test("multimodal: real Graphics2D resize preserves solid colours at the new geometry") {
    val pngs = Multimodal.synthesizePng(docs.select(col("doc_id")).limit(20), "doc_id")
    val assets = Multimodal.toAsset(pngs, "doc_id", "png", "image/png")
    val out = Multimodal.resizeFeatures(assets, "doc_id", tw = 3, th = 7).collect()
    assert(out.length == 20)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == 3 && r.getInt(2) == 7, s"resized dims of $id")
      assert(r.getDouble(3) == (id % 256).toDouble, s"resized mean_r of $id")
    }
  }

  test("multimodal: real multi-frame GIF decode returns every frame's exact grey") {
    val gifs = Multimodal.synthesizeGif(docs.select(col("doc_id")).limit(20), "doc_id", frames = 3)
    val assets = Multimodal.toAsset(gifs, "doc_id", "gif", "image/gif")
    val frames = Multimodal.frameFeatures(assets, "doc_id").collect()
    assert(frames.length == 60, "3 frames per doc")
    frames.foreach { r =>
      val id = r.getLong(0)
      val f = r.getInt(1)
      assert(r.getInt(2) == (8 + id % 9).toInt && r.getInt(3) == (8 + id * 3 % 9).toInt)
      assert(r.getDouble(4) == ((id * 5 + f * 31) % 256).toDouble,
        s"frame $f grey of doc $id")
    }
  }

  test("redactPii scrubs randomly-placed planted PII and leaves clean text alone") {
    import spark.implicits._
    val rnd = new scala.util.Random(23L)
    val vocab = Array("lorem", "ipsum", "dolor", "sit", "amet", "alpha", "beta")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val pii = Seq(
      s"user${rnd.nextInt(999)}@host${rnd.nextInt(99)}.example.org" -> "<EMAIL>",
      f"${100 + rnd.nextInt(899)}%d-${100 + rnd.nextInt(899)}%d-${1000 + rnd.nextInt(8999)}%d" -> "<PHONE>",
      s"${1 + rnd.nextInt(254)}.${rnd.nextInt(255)}.${rnd.nextInt(255)}.${1 + rnd.nextInt(254)}" -> "<IP>")
    val rows = (0 until 30).map { i =>
      val (planted, tag) = pii(i % 3)
      val toks = words(5 + rnd.nextInt(10))
      val at = rnd.nextInt(toks.length + 1)
      (i.toLong, (toks.take(at) :+ planted) ++ toks.drop(at) mkString " ", planted, tag)
    }
    val df = rows.map { case (id, txt, p, tg) => (id, txt, p, tg) }
      .toDF("id", "text", "planted", "tag")
    val out = df.select(col("id"), col("planted"), col("tag"),
        TextOps.redactPii(col("text")).as("red"))
      .collect()
    out.foreach { r =>
      val (p, tag, red) = (r.getString(1), r.getString(2), r.getString(3))
      assert(!red.contains(p), s"PII survived: $p in $red")
      assert(red.contains(tag), s"placeholder $tag missing in $red")
    }
    // mixed-case addresses must not survive "scrubbing"
    val upper = Seq(Tuple1("mail John.Doe@Example.COM today")).toDF("t")
      .select(TextOps.redactPii(col("t"))).head.getString(0)
    assert(upper == "mail <EMAIL> today", upper)
    // clean text is untouched
    val clean = "lorem ipsum dolor sit amet"
    val kept = Seq(Tuple1(clean)).toDF("t")
      .select(TextOps.redactPii(col("t"))).head.getString(0)
    assert(kept == clean, kept)
    // octets are bounded 0-255: dotted quads with out-of-range components
    // (software versions, build ids) must survive
    Seq("version 10.15.700.2 shipped", "build 999.999.999.999 tag",
        "lib 1.2.3.456 bump").foreach { v =>
      val got = Seq(Tuple1(v)).toDF("t")
        .select(TextOps.redactPii(col("t"))).head.getString(0)
      assert(got == v, s"version string mangled: $v -> $got")
    }
    // boundary IPs still redact
    Seq("at 255.255.255.255 end", "from 0.0.0.0 bind").foreach { v =>
      val got = Seq(Tuple1(v)).toDF("t")
        .select(TextOps.redactPii(col("t"))).head.getString(0)
      assert(got.contains("<IP>") && !got.matches(".*\\d+\\.\\d+\\.\\d+\\.\\d+.*"), s"$v -> $got")
    }
  }

  test("ImageCodec edges: randomized colour round trips, upscale, 1-frame GIF") {
    val rnd = new scala.util.Random(11L)
    (1 to 25).foreach { _ =>
      val (w, h) = (1 + rnd.nextInt(40), 1 + rnd.nextInt(40))
      val (r, g, b) = (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))
      val Some((dw, dh, mr, mg, mb)) =
        ImageCodec.decodeStats(ImageCodec.solidPng(w, h, r, g, b))
      assert((dw, dh, mr, mg, mb) == (w, h, r.toDouble, g.toDouble, b.toDouble))
    }
    // upscale keeps solid colour exact too (interpolating a constant)
    val up = ImageCodec.resizePng(ImageCodec.solidPng(2, 2, 7, 8, 9), 31, 17)
    assert(ImageCodec.decodeStats(up).contains((31, 17, 7.0, 8.0, 9.0)))
    // single-frame GIF is a legal animation
    val one = ImageCodec.animatedGif(5, 5, Seq(123))
    assert(ImageCodec.gifFrameStats(one) == Seq((0, 5, 5, 123.0, 123.0, 123.0)))
    // BMP is the third claimed pure-JDK format: encode via ImageIO and
    // decode through the same decodeStats path
    val img = new java.awt.image.BufferedImage(6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, (40 << 16) | (50 << 8) | 60)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    assert(ImageCodec.decodeStats(bos.toByteArray).contains((6, 4, 40.0, 50.0, 60.0)))
  }

  test("gifFrameStats composes delta-encoded frames per offset + disposal metadata") {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    def greyFrame(w: Int, h: Int, grey: Int): java.awt.image.BufferedImage = {
      val v = (grey & 0xff).toByte
      val cm = new java.awt.image.IndexColorModel(8, 2,
        Array[Byte](v, 0), Array[Byte](v, 0), Array[Byte](v, 0))
      new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    }
    // ONE metadata-authoring helper serves both GIFs below: builds each
    // frame's ImageDescriptor offsets + GraphicControlExtension disposal
    def deltaGif(frames: Seq[(java.awt.image.BufferedImage, Int, Int, String)]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        frames.foreach { case (img, left, top, disposal) =>
          val meta = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), null)
          val fmt = "javax_imageio_gif_image_1.0"
          val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
          var gce: IIOMetadataNode = null
          (0 until root.getChildNodes.getLength).foreach { j =>
            val n = root.getChildNodes.item(j).asInstanceOf[IIOMetadataNode]
            if (n.getNodeName == "ImageDescriptor") {
              n.setAttribute("imageLeftPosition", left.toString)
              n.setAttribute("imageTopPosition", top.toString)
            } else if (n.getNodeName == "GraphicControlExtension") gce = n
          }
          if (gce == null) {
            gce = new IIOMetadataNode("GraphicControlExtension")
            gce.setAttribute("userInputFlag", "FALSE")
            gce.setAttribute("transparentColorFlag", "FALSE")
            gce.setAttribute("delayTime", "10")
            gce.setAttribute("transparentColorIndex", "0")
            root.appendChild(gce)
          }
          gce.setAttribute("disposalMethod", disposal)
          meta.setFromTree(fmt, root)
          writer.writeToSequence(new IIOImage(img, null, meta), null)
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }
    // hand-authored delta GIF: full 8x8 base, then a 2x2 patch at (3,3)
    // that must be CLEARED after display, then a 2x2 patch at (0,0)
    val got = ImageCodec.gifFrameStats(deltaGif(Seq(
      (greyFrame(8, 8, 100), 0, 0, "doNotDispose"),
      (greyFrame(2, 2, 200), 3, 3, "restoreToBackgroundColor"),
      (greyFrame(2, 2, 50), 0, 0, "none"))))
    assert(got.length == 3)
    // every composed frame spans the 8x8 logical screen, not the patch
    assert(got.forall(f => f._2 == 8 && f._3 == 8), got.toString)
    val means = got.map(_._4)
    assert(means(0) == 100.0, s"base frame: ${means(0)}")
    // frame 1 composes onto the base: 60 px of 100 + 4 px of 200 — a
    // raw-patch stat would report 200
    assert(means(1) == (60 * 100 + 4 * 200) / 64.0, s"delta frame: ${means(1)}")
    // frame 1's region was restored to background (black) before frame 2
    // drew its own patch over the top-left corner
    assert(means(2) == (56 * 100 + 4 * 50 + 4 * 0) / 64.0, s"post-disposal: ${means(2)}")
    // restoreToPrevious: the canvas reverts to its PRE-FRAME state (the
    // full base), so frame 2 composes onto an unblemished 100-grey canvas
    val prev = ImageCodec.gifFrameStats(deltaGif(Seq(
      (greyFrame(8, 8, 100), 0, 0, "doNotDispose"),
      (greyFrame(2, 2, 200), 3, 3, "restoreToPrevious"),
      (greyFrame(2, 2, 50), 0, 0, "none")))).map(_._4)
    assert(prev(1) == (60 * 100 + 4 * 200) / 64.0, s"rtp delta frame: ${prev(1)}")
    assert(prev(2) == (60 * 100 + 4 * 50) / 64.0,
      s"restoreToPrevious must revert to the pre-frame canvas: ${prev(2)}")
  }

  test("decompression-bomb PNG (huge declared dims, tiny bytes) is rejected, not decoded") {
    // patch a valid PNG's IHDR to declare 100000x100000 (10^10 px) and
    // re-sign the chunk CRC so the reader believes the header — the guard
    // must trip on the PROBED dimensions before any raster allocation
    val png = ImageCodec.solidPng(4, 4, 1, 2, 3)
    val bomb = png.clone()
    def putInt(at: Int, v: Int): Unit = {
      bomb(at) = ((v >>> 24) & 0xff).toByte; bomb(at + 1) = ((v >>> 16) & 0xff).toByte
      bomb(at + 2) = ((v >>> 8) & 0xff).toByte; bomb(at + 3) = (v & 0xff).toByte
    }
    putInt(16, 100000) // IHDR width  (signature 8B + len 4B + "IHDR" 4B)
    putInt(20, 100000) // IHDR height
    val crc = new java.util.zip.CRC32()
    crc.update(bomb, 12, 4 + 13) // "IHDR" tag + 13 data bytes
    putInt(29, crc.getValue.toInt)
    assert(ImageCodec.decodeStats(bomb).isEmpty, "bomb decoded via decodeStats")
    assert(ImageCodec.resizePng(bomb, 8, 8) == null, "bomb decoded via resizePng")
    assert(ImageCodec.gifFrameStats(bomb).isEmpty, "bomb decoded via gifFrameStats")
    // the unpatched original still decodes (the guard is the only change)
    assert(ImageCodec.decodeStats(png).contains((4, 4, 1.0, 2.0, 3.0)))
  }

  test("multimodal: gradient image resize is a real resample, not a crop") {
    // non-constant image: mean is preserved ~exactly under downscale (the
    // bilinear kernel is an averaging filter), while a crop would skew it
    val w = 16; val h = 16
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 16) min 255 // horizontal gradient 0..240
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val resized = ImageCodec.resizePng(bos.toByteArray, 8, 8)
    val Some((rw, rh, mr, _, _)) = ImageCodec.decodeStats(resized)
    assert(rw == 8 && rh == 8)
    assert(math.abs(mr - 120.0) < 16.0, s"gradient mean drifted: $mr (crop would give ~56 or ~184)")
  }

  test("AudioCodec: synth WAV round-trips to the closed-form oracle values") {
    // the exact formulas the multimodal_audio DuckDB oracle mirrors
    for (id <- Seq(0L, 1L, 7L, 49L, 123L, 9999L)) {
      val a = (id * 37 % 20000 - 10000).toDouble
      val b = (id * 53 % 20000 - 10000).toDouble
      val frames = 400 + (id % 50) * 2
      val Some((dur, sr, ch, mean, rms)) =
        AudioCodec.decodeStats(AudioCodec.synthWav(id))
      assert(sr == 8000 && ch == (1 + id % 2).toInt, s"id=$id: rate/ch $sr/$ch")
      assert(dur == frames / 8.0, s"id=$id: duration $dur")
      assert(mean == (a + b) / 2.0, s"id=$id: mean $mean vs ${(a + b) / 2.0}")
      assert(rms == math.sqrt((a * a + b * b) / 2.0), s"id=$id: rms $rms")
    }
  }

  test("AudioCodec: signed samples, stereo interleave, and hand-built PCM decode exactly") {
    // signs must survive the little-endian 16-bit unpack: {-5, +5} has
    // mean 0 and rms 5; a decoder that reads unsigned would report ~32765
    val Some((_, _, _, m1, r1)) =
      AudioCodec.decodeStats(AudioCodec.pcmWav(16000, 1, Array[Short](-5, 5, -5, 5)))
    assert(m1 == 0.0 && r1 == 5.0, s"($m1, $r1)")
    // stereo frame accounting: 6 samples / 2 channels = 3 frames @16kHz
    val Some((dur2, sr2, ch2, m2, _)) =
      AudioCodec.decodeStats(AudioCodec.pcmWav(16000, 2,
        Array[Short](100, 300, 100, 300, 100, 300)))
    assert(sr2 == 16000 && ch2 == 2 && dur2 == 3 * 1000.0 / 16000 && m2 == 200.0)
    // extreme values round-trip (no clipping/overflow in the packer)
    val Some((_, _, _, m3, r3)) =
      AudioCodec.decodeStats(AudioCodec.pcmWav(8000, 1,
        Array[Short](Short.MinValue, Short.MaxValue)))
    assert(m3 == -0.5 && r3 == math.sqrt((32768.0 * 32768 + 32767.0 * 32767) / 2))
  }

  test("AudioCodec: big-endian AIFF decodes through the same path as WAV") {
    // the decoder branches on AudioFormat.isBigEndian — AIFF is the
    // JDK-native big-endian container, so a sign/byte-order bug that WAV
    // can't see surfaces here ({-5, +5}: unsigned or swapped reads give
    // means far from 0)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val pcm = java.nio.ByteBuffer.allocate(8)
    pcm.putShort(-5).putShort(5).putShort(-5).putShort(5)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm.array()), fmt, 4)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    val Some((dur, sr, ch, mean, rms)) = AudioCodec.decodeStats(bos.toByteArray)
    assert(sr == 8000 && ch == 1 && dur == 0.5 && mean == 0.0 && rms == 5.0,
      s"($dur, $sr, $ch, $mean, $rms)")
  }

  test("AudioCodec: corrupt, truncated, empty, and non-16-bit payloads yield None") {
    assert(AudioCodec.decodeStats(null).isEmpty)
    assert(AudioCodec.decodeStats("not audio at all".getBytes("UTF-8")).isEmpty)
    assert(AudioCodec.decodeStats(Array.emptyByteArray).isEmpty)
    // a TRUNCATED header: RIFF magic present, format chunk cut mid-way —
    // the parser throws, the contract is None, not a task failure
    assert(AudioCodec.decodeStats(AudioCodec.synthWav(3L).take(20)).isEmpty)
    // 8-bit PCM is recognized but outside the 16-bit decode contract
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val ais8 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(Array[Byte](1, 2, 3, 4)), fmt8, 4)
    val bos8 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais8,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos8)
    assert(AudioCodec.decodeStats(bos8.toByteArray).isEmpty)
    // and through the DataFrame path: bad assets give null rows, not errors
    import spark.implicits._
    val junk = Seq((1L, "junk".getBytes("UTF-8")), (2L, null),
        (3L, AudioCodec.synthWav(5L).take(30)))
      .toDF("doc_id", "wav")
    val assets = Multimodal.toAsset(junk, "doc_id", "wav", "audio/wav")
    val feats = Multimodal.audioFeatures(assets, "doc_id").collect()
    assert(feats.length == 3 && feats.forall(_.isNullAt(1)))
  }

  test("VideoCodec: synth AVI round-trips to the closed-form oracle values") {
    for (id <- Seq(0L, 1L, 8L, 255L, 1234L)) {
      val w = (8 + id % 9).toInt
      val h = (8 + id * 3 % 9).toInt
      val got = VideoCodec.aviFrameStats(VideoCodec.synthAvi(id))
      assert(got.length == 3, s"id=$id: ${got.length} frames")
      got.zipWithIndex.foreach { case ((i, gw, gh, fps, mr, mg, mb), f) =>
        assert(i == f && gw == w && gh == h && fps == 10.0, s"id=$id f=$f header")
        assert(mr == ((id + f * 17) % 256).toDouble, s"id=$id f=$f r=$mr")
        assert(mg == ((id * 7 + f * 29) % 256).toDouble, s"id=$id f=$f g=$mg")
        assert(mb == ((id * 13 + f * 41) % 256).toDouble, s"id=$id f=$f b=$mb")
      }
    }
  }

  test("VideoCodec parser is generic RIFF, not a writer mirror") {
    import java.nio.{ByteBuffer, ByteOrder}
    // splice a JUNK chunk (odd size → word padding) between hdrl and movi,
    // and rename the frame tag 00db -> 00dc (compressed-flavour tag, same
    // payload) — a parser that just mirrors the writer's byte offsets
    // breaks on both
    val base = VideoCodec.aviDib(4, 4, 25, Seq(0x102030, 0x405060))
    def findTag(b: Array[Byte], tag: String, from: Int): Int = {
      val t = tag.getBytes("US-ASCII")
      (from until b.length - 4).find(i => (0 until 4).forall(j => b(i + j) == t(j))).get
    }
    val moviList = findTag(base, "movi", 0) - 8 // LIST header start
    val junkBody = 7 // odd on purpose
    val junk = ByteBuffer.allocate(8 + junkBody + 1).order(ByteOrder.LITTLE_ENDIAN)
    junk.put("JUNK".getBytes("US-ASCII")).putInt(junkBody)
      .put(Array.fill[Byte](junkBody + 1)(0x5a))
    val spliced = base.take(moviList) ++ junk.array() ++ base.drop(moviList)
    // fix the RIFF size field and rewrite frame tags
    val bb = ByteBuffer.wrap(spliced).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, spliced.length - 8)
    var at = findTag(spliced, "00db", 0)
    while (at > 0) {
      spliced(at + 3) = 'c'.toByte
      at = (at + 4 until spliced.length - 4).find(i =>
        (0 until 4).forall(j => spliced(i + j) == "00db".getBytes("US-ASCII")(j))).getOrElse(-1)
    }
    val got = VideoCodec.aviFrameStats(spliced)
    assert(got.map(t => (t._1, t._2, t._3, t._4)) == Seq((0, 4, 4, 25.0), (1, 4, 4, 25.0)),
      got.toString)
    assert(got.head._5 == 0x10.toDouble && got.head._6 == 0x20.toDouble &&
      got.head._7 == 0x30.toDouble, got.head.toString)
  }

  test("gifFrameStats on a non-GIF image falls back to raw per-frame stats") {
    // a decodable PNG has no disposal metadata — it must still yield its
    // one frame (pre-compositing behavior), not silently explode to zero
    val got = ImageCodec.gifFrameStats(ImageCodec.solidPng(6, 5, 10, 20, 30))
    assert(got == Seq((0, 6, 5, 10.0, 20.0, 30.0)), got.toString)
  }

  test("VideoCodec: hostile nested-LIST tower parses cleanly (no stack overflow)") {
    import java.nio.{ByteBuffer, ByteOrder}
    // ~12k nested 12-byte LIST headers: without a depth cap the recursive
    // walk would throw StackOverflowError (a VirtualMachineError that
    // escapes NonFatal, i.e. a task failure)
    val levels = 12000
    val bb = ByteBuffer.allocate(12 + levels * 12).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + levels * 12)
      .put("AVI ".getBytes("US-ASCII"))
    var remaining = levels * 12 - 8
    (0 until levels).foreach { _ =>
      bb.put("LIST".getBytes("US-ASCII")).putInt(remaining max 4)
        .put("hdrl".getBytes("US-ASCII"))
      remaining -= 12
    }
    assert(VideoCodec.aviFrameStats(bb.array()).isEmpty) // and does not throw
  }

  test("VideoCodec MJPEG: lossy frames round-trip bit-exact on solid grey") {
    for (id <- Seq(0L, 5L, 123L, 254L)) {
      val got = VideoCodec.aviFrameStats(VideoCodec.synthAviMjpeg(id))
      assert(got.length == 3, s"id=$id: ${got.length} frames")
      got.foreach { case (f, w, h, fps, r, g, b) =>
        val grey = ((id * 11 + f * 37) % 256).toDouble
        assert(w == (8 + id % 9).toInt && h == (8 + id * 3 % 9).toInt && fps == 10.0,
          s"id=$id f=$f dims/fps: ($w,$h,$fps)")
        // THE load-bearing assertion: JPEG is lossy, but solid grey at
        // quality 100 decodes to exactly the encoded level — the closed-
        // form oracle depends on it
        assert(r == grey && g == grey && b == grey,
          s"id=$id f=$f decoded ($r,$g,$b) != $grey")
      }
    }
  }

  test("VideoCodec MJPEG: corrupt JPEG frames are skipped, valid ones kept") {
    val good = VideoCodec.synthAviMjpeg(7L)
    // clobber the SECOND '00dc' frame's JPEG magic: that frame must drop,
    // frames 0 and 2 must survive with their exact greys
    def findNthTag(b: Array[Byte], tag: String, nth: Int): Int = {
      val t = tag.getBytes("US-ASCII")
      var seen = 0
      (0 until b.length - 4).foreach { i =>
        if ((0 until 4).forall(j => b(i + j) == t(j))) {
          if (seen == nth) return i
          seen += 1
        }
      }
      -1
    }
    val broken = good.clone()
    val second = findNthTag(broken, "00dc", 1)
    assert(second > 0)
    broken(second + 8) = 'X'.toByte // JPEG SOI marker gone
    val got = VideoCodec.aviFrameStats(broken)
    // surviving frames keep their ORIGINAL container indices (0 and 2)
    assert(got.length == 2, s"got ${got.length} frames")
    assert(got.map(_._1) == Seq(0, 2), s"wrong indices: ${got.map(_._1)}")
    assert(got.map(_._5) == Seq((7L * 11 % 256).toDouble, ((7L * 11 + 2 * 37) % 256).toDouble),
      s"wrong surviving greys: ${got.map(_._5)}")
  }

  test("VideoCodec: corrupt, truncated, and null payloads yield no frames") {
    assert(VideoCodec.aviFrameStats(null).isEmpty)
    assert(VideoCodec.aviFrameStats("not a video".getBytes("UTF-8")).isEmpty)
    assert(VideoCodec.aviFrameStats(Array.emptyByteArray).isEmpty)
    val good = VideoCodec.synthAvi(3L)
    // truncated mid-movi: intact header, clipped frame data — parse must
    // stop cleanly (frames whose payload is cut are skipped)
    val cut = VideoCodec.aviFrameStats(good.take(good.length - 40))
    assert(cut.length < 3, s"clipped tail still produced ${cut.length} frames")
    // hostile chunk size: first movi frame claims MaxInt bytes
    val evil = good.clone()
    val bb = java.nio.ByteBuffer.wrap(evil).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def findTag(b: Array[Byte], tag: String): Int = {
      val t = tag.getBytes("US-ASCII")
      (0 until b.length - 4).find(i => (0 until 4).forall(j => b(i + j) == t(j))).get
    }
    bb.putInt(findTag(evil, "00db") + 4, Int.MaxValue)
    // must neither throw nor hang; the Long-arithmetic bound check stops
    // the movi walk AT the hostile chunk (an Int check would wrap negative,
    // accept the bogus frame, and read bytes belonging to later chunks)
    assert(VideoCodec.aviFrameStats(evil).isEmpty)
    // a PNG fed to the video path is politely rejected
    assert(VideoCodec.aviFrameStats(ImageCodec.solidPng(4, 4, 1, 2, 3)).isEmpty)
  }

  test("multimodal: undecodable and null payloads yield null features, not task failures") {
    import spark.implicits._
    // a TRUNCATED png is the nasty case: ImageIO recognizes the magic
    // header, then throws IIOException mid-decode (unlike garbage bytes,
    // where read() just returns null)
    val truncated = ImageCodec.solidPng(12, 12, 10, 20, 30).take(40)
    val junk = Seq((1L, "not an image".getBytes("UTF-8")), (2L, null),
        (3L, truncated))
      .toDF("doc_id", "png")
    val assets = Multimodal.toAsset(junk, "doc_id", "png", "image/png")
    val feats = Multimodal.decodeFeatures(assets, "doc_id").collect()
    assert(feats.length == 3)
    assert(feats.forall(_.isNullAt(1)), "undecodable bytes must decode to null width")
    val frames = Multimodal.frameFeatures(assets, "doc_id").collect()
    assert(frames.isEmpty, "undecodable GIF explodes to zero frames")
  }
}

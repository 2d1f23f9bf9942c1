package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bq, Pq, Similarity, Sq}

/** Product-quantization ANN (`Pq`): code geometry, determinism, recall
  * floors, exact-parity of the full-refine path, and build/serve parity.
  */
class PqSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** Planted clustered corpus: `nClusters` seeded Gaussian centers, each
    * with `per` members at small radius — nearest neighbors are cluster
    * mates by construction, the regime ANN recall is measured in.
    */
  private def planted(nClusters: Int = 10, per: Int = 12, dim: Int = 64,
                      noise: Double = 0.05): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val centers = Array.fill(nClusters)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = for {
      c <- 0 until nClusters
      i <- 0 until per
    } yield ((c * per + i).toLong,
      centers(c).map(x => (x + noise * rnd.nextGaussian()).toFloat).toSeq)
    rows.toDF("vec_id", "embedding")
  }

  test("codes are exactly m bytes and encoding is deterministic") {
    val cb = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    assert(cb.m == 8 && cb.dsub == 8 && cb.dim == 64)
    val codes = Pq.encode(emb, "vec_id", "embedding", cb).collect()
    assert(codes.forall(_.getAs[Array[Byte]]("code").length == 8))
    val again = Pq.encode(emb, "vec_id", "embedding", cb).collect()
    assert(codes.map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSet ==
      again.map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSet)
  }

  test("train is deterministic for a fixed seed, differs across seeds") {
    val a = Pq.train(emb, "vec_id", "embedding", seed = 42L)
    val b = Pq.train(emb, "vec_id", "embedding", seed = 42L)
    val c = Pq.train(emb, "vec_id", "embedding", seed = 43L)
    def flat(cb: Pq.Codebooks): Seq[Double] =
      cb.centroids.flatMap(_.flatMap(_.toSeq)).toSeq
    assert(flat(a) == flat(b))
    assert(flat(a) != flat(c))
  }

  test("ADC recall floor on a clustered corpus; refine lifts it") {
    val data = planted()
    val pred = col("vec_id") < 5
    val exact = Similarity.cosineTopK(data, "vec_id", "embedding", pred, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Pq.pqTopK(data, "vec_id", "embedding", pred, 10, m = 8, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = adc.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"ADC recall $recall below floor")
    val refined = Pq.pqTopK(data, "vec_id", "embedding", pred, 10,
      m = 8, ksub = 16, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rRecall = refined.intersect(exact).size.toDouble / exact.size
    assert(rRecall >= recall, s"refine lowered recall: $recall -> $rRecall")
    assert(rRecall >= 0.9, s"refined recall $rRecall below floor")
  }

  test("OPQ rotation is orthogonal and never quantizes worse than plain PQ") {
    val (cbOpq, r) = Pq.trainOpq(emb, "vec_id", "embedding", m = 8, ksub = 16)
    // R^T R = I (R is a product of Jacobi rotations / Procrustes factors)
    val d = r.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => r(k)(i) * r(k)(j)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-8, s"R^T R deviates at ($i,$j): $dot")
    }
    // argmin tracking guarantees sample MSE <= plain PQ's (iteration 0 IS
    // plain PQ at R = I)
    val cbPq = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val msePq = Pq.sampleMse(emb, "vec_id", "embedding", cbPq, None)
    val mseOpq = Pq.sampleMse(emb, "vec_id", "embedding", cbOpq, Some(r))
    assert(mseOpq <= msePq * (1 + 1e-12),
      s"OPQ sample MSE $mseOpq worse than plain PQ $msePq")
  }

  test("OPQ ADC holds the recall floor and is deterministic") {
    val data = planted()
    val pred = col("vec_id") < 5
    val exact = Similarity.cosineTopK(data, "vec_id", "embedding", pred, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = Pq.pqTopKOpq(data, "vec_id", "embedding", pred, 10, m = 8, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = a.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"OPQ ADC recall $recall below floor")
    val b = Pq.pqTopKOpq(data, "vec_id", "embedding", pred, 10, m = 8, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, "OPQ search must be deterministic for a fixed seed")
  }

  test("full-refine OPQ EQUALS brute force exactly (rotation is an isometry)") {
    // refine·k ≥ N: the rotated-ADC shortlist covers the corpus and the
    // exact re-rank runs on ORIGINAL vectors — any rotation bug upstream
    // cannot hide, any rotation correctness shows as exact equality
    val pred = col("vec_id") < 5
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", pred, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val full = Pq.pqTopKOpq(emb, "vec_id", "embedding", pred, 10,
      m = 8, ksub = 16, refine = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(full == exact)
  }

  test("residual IVF-PQ reconstructs tighter and serves with recall; deterministic") {
    val data = planted()
    val root = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/pq_spec"
    val dirN = s"$root/ivfpq_plain"; val dirR = s"$root/ivfpq_residual"
    Pq.buildIvfPqIndex(data, "vec_id", "embedding", dirN, nlist = 8, m = 8, ksub = 16)
    Pq.buildIvfPqIndex(data, "vec_id", "embedding", dirR, nlist = 8, m = 8,
      ksub = 16, residual = true)
    // reconstruction MSE straight from the persisted artifacts: residual
    // codes quantize a cluster radius, plain codes the corpus diameter —
    // on a clustered corpus the residual reconstruction must be tighter
    val orig = data.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def mse(dir: String, residual: Boolean): Double = {
      val cb = Pq.loadCodebooks(spark, dir)
      val cs = spark.read.parquet(s"$dir/centroids").orderBy(col("bucket"))
        .select(col("centroid")).collect().map(_.getSeq[Double](0).toArray)
      val rows = spark.read.parquet(s"$dir/codes").collect()
      val errs = rows.map { r =>
        val v = orig(r.getLong(0))
        val code = r.getAs[Array[Byte]]("code")
        val b = r.getInt(2)
        var e = 0.0
        for (s <- 0 until cb.m; i <- 0 until cb.dsub) {
          val d = s * cb.dsub + i
          val xhat = (if (residual) cs(b)(d) else 0.0) +
            cb.centroids(s)(code(s) & 0xff)(i)
          val t = v(d) - xhat; e += t * t
        }
        e
      }
      errs.sum / errs.length
    }
    val mseN = mse(dirN, residual = false)
    val mseR = mse(dirR, residual = true)
    assert(mseR < 0.9 * mseN,
      s"residual coding must reconstruct tighter: residual $mseR vs plain $mseN")
    // serve: full probe (pruning off) with exact-side recall + determinism
    val pred = col("vec_id") < 5
    val exact = Similarity.cosineTopK(data, "vec_id", "embedding", pred, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = Pq.ivfPqTopKFromIndex(data.filter(pred), "vec_id", "embedding",
        dirR, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = a.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"residual IVF-PQ recall $recall below floor")
    val b = Pq.ivfPqTopKFromIndex(data.filter(pred), "vec_id", "embedding",
        dirR, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, "residual serve must be deterministic")
  }

  test("full-refine PQ EQUALS brute force exactly (shortlist covers the corpus)") {
    // refine·k ≥ N makes the ADC shortlist the whole corpus, so the exact
    // re-rank IS cosineTopK — pins the re-rank path end to end
    val pred = col("vec_id") < 5
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", pred, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val full = Pq.pqTopK(emb, "vec_id", "embedding", pred, 10,
      m = 8, ksub = 16, refine = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(full == exact)
  }

  test("served PQ (persisted index) equals the fused ADC path") {
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/pq_spec/serve"
    Pq.buildPqIndex(emb, "vec_id", "embedding", dir, m = 8, ksub = 16)
    val queries = emb.filter(col("vec_id") < 5)
    val served = Pq.pqTopKFromIndex(queries, "vec_id", "embedding", dir, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val cb = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val fused = Pq.adcTopK(
      Pq.encode(emb, "vec_id", "embedding", cb)
        .select(col("vec_id").cast("long").as("n_id"), col("code")),
      cb,
      queries.select(col("vec_id").cast("long").as("q_id"), col("embedding").as("q_vec")),
      10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(served == fused)
  }

  test("IVF-PQ at full probe equals plain ADC (pruning off = pure PQ)") {
    // nprobe = nlist disables pruning, so the served composed path must
    // reproduce the flat ADC ranking exactly (same codebooks, same seed)
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/pq_spec/ivfpq_full"
    Pq.buildIvfPqIndex(emb, "vec_id", "embedding", dir, nlist = 8, m = 8, ksub = 16)
    val queries = emb.filter(col("vec_id") < 5)
    val composed = Pq.ivfPqTopKFromIndex(queries, "vec_id", "embedding", dir,
      10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val cb = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val flat = Pq.adcTopK(
      Pq.encode(emb, "vec_id", "embedding", cb)
        .select(col("vec_id").cast("long").as("n_id"), col("code")),
      cb,
      queries.select(col("vec_id").cast("long").as("q_id"), col("embedding").as("q_vec")),
      10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(composed == flat)
  }

  test("IVF-PQ partial probe: partition-pruned scan, recall floor on clusters") {
    val data = planted()
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/pq_spec/ivfpq_part"
    Pq.buildIvfPqIndex(data, "vec_id", "embedding", dir, nlist = 8, m = 8, ksub = 16)
    val queries = data.filter(col("vec_id") < 5)
    val served = Pq.ivfPqTopKFromIndex(queries, "vec_id", "embedding", dir,
      10, nprobe = 4)
    val plan = served.queryExecution.executedPlan.toString
    val pruned = plan.linesIterator
      .filter(l => l.contains("PartitionFilters: [") && !l.contains("PartitionFilters: []"))
    assert(pruned.exists(_.contains("bucket")),
      s"probe does not partition-prune the code scan:\n$plan")
    val exact = Similarity.cosineTopK(data, "vec_id", "embedding",
      col("vec_id") < 5, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = served.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF-PQ recall $recall below floor")
  }

  test("adcTopK ranks through the bounded page aggregate, not a window sort") {
    val cb = Pq.train(emb, "vec_id", "embedding")
    val plan = Pq.adcTopK(
      Pq.encode(emb, "vec_id", "embedding", cb)
        .select(col("vec_id").cast("long").as("n_id"), col("code")),
      cb,
      emb.filter(col("vec_id") < 3)
        .select(col("vec_id").cast("long").as("q_id"), col("embedding").as("q_vec")),
      5).queryExecution.executedPlan.toString
    assert(plan.contains("graft_nextk_page"), s"lost the bounded page aggregate:\n$plan")
    assert(!plan.contains("RunningWindowFunction"),
      s"reintroduced a per-query window sort:\n$plan")
  }

  test("pinned-codebook serve equals the trained fused path (machinery parity)") {
    // pqTopKWithCodebooks is the same encode → ADC → page machinery with
    // training factored out: fed the TRAINED books it must be bit-equal
    // to pqTopK, at refine=1 and through the exact re-rank
    val pred = col("vec_id") < 5
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val cb = Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    assert(rows(Pq.pqTopKWithCodebooks(emb, "vec_id", "embedding", pred, 10, cb)) ==
      rows(Pq.pqTopK(emb, "vec_id", "embedding", pred, 10, m = 8, ksub = 16)))
    assert(rows(Pq.pqTopKWithCodebooks(emb, "vec_id", "embedding", pred, 10, cb,
        refine = 8)) ==
      rows(Pq.pqTopK(emb, "vec_id", "embedding", pred, 10, m = 8, ksub = 16,
        refine = 8)))
  }

  test("composed serve from in-memory artifacts equals the disk-built index serve") {
    // ivfPqTopKWithArtifacts is the composed probe-and-ADC machinery with
    // the index build factored out: fed the BUILT index's own centroids
    // and codebooks it must reproduce ivfPqTopKFromIndex exactly (same
    // probe order, same on-the-fly encoding as the persisted codes)
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/pq_spec/ivfpq_art"
    Pq.buildIvfPqIndex(emb, "vec_id", "embedding", dir, nlist = 8, m = 8, ksub = 16)
    val cb = Pq.loadCodebooks(spark, dir)
    val cs: Seq[Seq[Double]] = spark.read.parquet(s"$dir/centroids")
      .orderBy(col("bucket")).select(col("centroid"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val viaArtifacts = rows(Pq.ivfPqTopKWithArtifacts(emb, "vec_id", "embedding",
      col("vec_id") < 5, 10, cs, cb, nprobe = 4))
    val served = rows(Pq.ivfPqTopKFromIndex(emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", dir, 10, nprobe = 4))
    assert(viaArtifacts == served)
  }

  test("residual serve from in-memory artifacts equals the residual disk index") {
    // the residual=true artifact serve (the similarity_ivfpq_residual_pinned
    // machinery) must reproduce the persisted IVFADC index serve exactly
    // when fed the built index's own centroids and residual codebooks:
    // same on-the-fly v − c_bucket encoding as the stored codes, same
    // x̂ = c_b + ŷ recombination kernel
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/pq_spec/ivfpq_res_art"
    Pq.buildIvfPqIndex(emb, "vec_id", "embedding", dir, nlist = 8, m = 8,
      ksub = 16, residual = true)
    val cb = Pq.loadCodebooks(spark, dir)
    val cs: Seq[Seq[Double]] = spark.read.parquet(s"$dir/centroids")
      .orderBy(col("bucket")).select(col("centroid"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val viaArtifacts = rows(Pq.ivfPqTopKWithArtifacts(emb, "vec_id", "embedding",
      col("vec_id") < 5, 10, cs, cb, nprobe = 4, residual = true))
    val served = rows(Pq.ivfPqTopKFromIndex(emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", dir, 10, nprobe = 4))
    assert(viaArtifacts == served)
  }

  test("pinned-rotation serve equals the trained OPQ path under its artifacts") {
    val pred = col("vec_id") < 5
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val (cb, r) = Pq.trainOpq(emb, "vec_id", "embedding", m = 8, ksub = 16,
      opqIters = 4)
    assert(rows(Pq.pqTopKWithCodebooks(emb, "vec_id", "embedding", pred, 10, cb,
        rotation = Some(r))) ==
      rows(Pq.pqTopKOpq(emb, "vec_id", "embedding", pred, 10, m = 8, ksub = 16,
        opqIters = 4)))
  }

  test("oversized query batches fail fast instead of collecting onto the driver") {
    // MaxQueryBatch + 1 queries over a synthetic 2-dim corpus under one
    // pinned 2-code subspace
    val big = spark.range(Similarity.MaxQueryBatch + 1)
      .select(col("id").as("vec_id"), array(lit(0.5f), lit(-0.5f)).as("embedding"))
    val cb = Pq.Codebooks(m = 1, dsub = 2, ksub = 2,
      Array(Array(Array(0.5, -0.5), Array(-0.5, 0.5))))
    val e = intercept[IllegalArgumentException] {
      Pq.pqTopKWithCodebooks(big, "vec_id", "embedding", lit(true), 10, cb)
    }
    assert(e.getMessage.contains("MaxQueryBatch"), e.getMessage)
    // under the cap the same call serves normally
    assert(Pq.pqTopKWithCodebooks(big, "vec_id", "embedding", col("vec_id") < 5, 10, cb)
      .count() == 50)
  }

  test("a string id column fails loudly, naming the column, before any training pass") {
    // ids are cast to long, so a string id would silently become a null
    // id; the frame is empty, so a training pass run ahead of the check
    // would fail on the empty sample instead
    val strIds = emb.limit(0).withColumn("vec_id", col("vec_id").cast("string"))
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/pq_spec/string_ids"
    val pred = col("vec_id") < 5
    val calls: Seq[(String, () => Any)] = Seq(
      "pqTopK" -> (() => Pq.pqTopK(strIds, "vec_id", "embedding", pred, 10)),
      "pqTopKOpq" -> (() => Pq.pqTopKOpq(strIds, "vec_id", "embedding", pred, 10)),
      "sqTopK" -> (() => Sq.sqTopK(strIds, "vec_id", "embedding", pred, 10)),
      "bqTopK" -> (() => Bq.bqTopK(strIds, "vec_id", "embedding", pred, 10)),
      "bqTopKWithThresholds" -> (() => Bq.bqTopKWithThresholds(strIds, "vec_id",
        "embedding", pred, 10, Array.fill(64)(0.0))),
      "buildPqIndex" -> (() => Pq.buildPqIndex(strIds, "vec_id", "embedding", dir)),
      "buildSqIndex" -> (() => Sq.buildSqIndex(strIds, "vec_id", "embedding", dir)),
      "buildBqIndex" -> (() => Bq.buildBqIndex(strIds, "vec_id", "embedding", dir)),
      "buildIvfPqIndex" -> (() => Pq.buildIvfPqIndex(strIds, "vec_id", "embedding", dir)))
    calls.foreach { case (op, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(op) && e.getMessage.contains("'vec_id'"), e.getMessage)
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.{Pq, Similarity, Sq}

/** Scalar quantization (`Sq`): grid geometry + determinism, the per-dim
  * reconstruction bound, recall on a clustered corpus, exact parity of
  * the full-refine path, and build/serve parity through the SHARED PQ
  * artifact layout.
  */
class SqSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** Planted clustered corpus (the PqSpec fixture): nearest neighbors are
    * cluster mates by construction.
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

  test("SQ grid is a dim×levels uniform codebook; training is deterministic") {
    val cb = Sq.train(emb, "vec_id", "embedding", levels = 256)
    assert(cb.m == 64 && cb.dsub == 1 && cb.ksub == 256 && cb.dim == 64)
    // uniform spacing: centroid(j+1) − centroid(j) constant per dimension
    for (s <- 0 until cb.m) {
      val g = cb.centroids(s).map(_(0))
      val d0 = g(1) - g(0)
      assert(g.sliding(2).forall { case Array(a, b) => math.abs((b - a) - d0) < 1e-9 })
    }
    val again = Sq.train(emb, "vec_id", "embedding", levels = 256)
    assert(cb.centroids.flatMap(_.flatMap(_.toSeq)).toSeq ==
      again.centroids.flatMap(_.flatMap(_.toSeq)).toSeq)
  }

  test("encoding reconstructs every in-sample vector within Δ/2 per dimension") {
    val cb = Sq.train(emb, "vec_id", "embedding", levels = 256, sampleSize = 100000)
    val deltas = Array.tabulate(cb.m)(s =>
      cb.centroids(s)(1)(0) - cb.centroids(s)(0)(0))
    val orig = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val codes = Sq.encode(emb, "vec_id", "embedding", cb).collect()
    assert(codes.nonEmpty)
    codes.foreach { r =>
      val v = orig(r.getLong(0))
      val code = r.getAs[Array[Byte]]("code")
      assert(code.length == cb.m, "SQ code must be one byte per dimension")
      var s = 0
      while (s < cb.m) {
        val xhat = cb.centroids(s)(code(s) & 0xff)(0)
        assert(math.abs(xhat - v(s)) <= deltas(s) / 2 + 1e-6,
          s"dim $s: |${xhat} - ${v(s)}| exceeds Δ/2 = ${deltas(s) / 2}")
        s += 1
      }
    }
  }

  test("constant dimensions degenerate safely: code 0, exact reconstruction") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq(1.0f, 5.0f)), (1L, Seq(2.0f, 5.0f)), (2L, Seq(3.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val cb = Sq.train(df, "vec_id", "embedding", levels = 256)
    val codes = Sq.encode(df, "vec_id", "embedding", cb).collect()
    codes.foreach { r =>
      val code = r.getAs[Array[Byte]]("code")
      assert(code(1) == 0, "constant dim must encode to code 0")
      assert(cb.centroids(1)(0)(0) == 5.0, "constant dim must reconstruct exactly")
    }
  }

  test("SQ8 recall on a clustered corpus is near-exact; search is deterministic") {
    val data = planted()
    val pred = col("vec_id") < 5
    val exact = Similarity.cosineTopK(data, "vec_id", "embedding", pred, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = Sq.sqTopK(data, "vec_id", "embedding", pred, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = a.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall $recall below floor (4× compression " +
      "at full dimensional resolution should rank near-exactly)")
    val b = Sq.sqTopK(data, "vec_id", "embedding", pred, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, "SQ search must be deterministic for a fixed seed")
  }

  test("full-refine SQ EQUALS brute force exactly (shortlist covers the corpus)") {
    val pred = col("vec_id") < 5
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", pred, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val full = Sq.sqTopK(emb, "vec_id", "embedding", pred, 10, refine = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(full == exact)
  }

  test("served SQ equals fused, and the PQ serve path reads the same artifact") {
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/sq_spec/serve"
    Sq.buildSqIndex(emb, "vec_id", "embedding", dir)
    val queries = emb.filter(col("vec_id") < 5)
    val served = Sq.sqTopKFromIndex(queries, "vec_id", "embedding", dir, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val fused = Sq.sqTopK(emb, "vec_id", "embedding", col("vec_id") < 5, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(served == fused)
    // one artifact format: an SQ index IS a PQ index
    val viaPq = Pq.pqTopKFromIndex(queries, "vec_id", "embedding", dir, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(viaPq == served)
  }

  test("an SQ index caps its query batch by its grid, whichever path serves it") {
    // 64 dims × 256 levels: every query's lookup tables are 16 384
    // doubles, so a batch stops at 4 096 queries, through the PQ serve
    // path as through the SQ one. The batch collects as the frame is
    // built; no scan runs here
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/sq_spec/cap"
    Sq.buildSqIndex(emb, "vec_id", "embedding", dir, levels = 256)
    def queries(n: Int) = spark.range(n)
      .select(col("id").as("vec_id"), array_repeat(lit(0.5f), 64).as("embedding"))
    for (serve <- Seq[(org.apache.spark.sql.DataFrame, Int) => Any](
        Pq.pqTopKFromIndex(_, "vec_id", "embedding", dir, _),
        Sq.sqTopKFromIndex(_, "vec_id", "embedding", dir, _))) {
      val e = intercept[IllegalArgumentException](serve(queries(4097), 10))
      assert(e.getMessage.contains("4096"), e.getMessage)
      serve(queries(4096), 10)
    }
  }

  test("pinned uniform grid: exact grid geometry, clamped codes, full-refine equals brute") {
    // geometry: gridCodebooks lays out lo + j·Δ exactly (binary-exact at
    // lo=-2, Δ=0.25), every dimension identical
    val cb = Sq.gridCodebooks(dim = 64, lo = -2.0, delta = 0.25, levels = 17)
    assert(cb.m == 64 && cb.dsub == 1 && cb.ksub == 17)
    assert(cb.centroids.forall(s => s.zipWithIndex.forall {
      case (c, j) => c(0) == -2.0 + j * 0.25
    }))
    // out-of-grid values clamp to the ends (codes 0 / levels-1)
    import spark.implicits._
    val wild = Seq((0L, Seq.fill(64)(-9f)), (1L, Seq.fill(64)(9f)))
      .toDF("vec_id", "embedding")
    val codes = Sq.encode(wild, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("code")).toMap
    assert(codes(0L).forall(_ == 0) && codes(1L).forall(b => (b & 0xff) == 16))
    // with refine·k covering the corpus, the pinned-grid serve IS brute
    // force — pins the shortlist + exact-re-rank wiring of the pinned path
    val pred = col("vec_id") < 5
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", pred, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val pinnedFull = Sq.sqTopKWithGrid(emb, "vec_id", "embedding", pred, 10,
      dim = 64, lo = -2.0, delta = 0.25, levels = 17, refine = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(pinnedFull == exact)
  }
}

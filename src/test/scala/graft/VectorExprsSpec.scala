package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorExprs
import graft.operators.Similarity

/** Native FloatVectorDot vs the lambda-fold baseline: bit-identical
  * results (same sequential double accumulation), and the expression
  * stays inside whole-stage codegen.
  */
class VectorExprsSpec extends SparkSpec {

  private lazy val emb = sources.Tables.open(spark, sf, "embeddings")

  test("native fdot is bit-identical to the fold dot on every fixture vector") {
    val both = emb.select(
      Similarity.dot(col("embedding"), col("embedding")).as("fold"),
      VectorExprs.fdot(col("embedding"), col("embedding")).as("native"))
    assert(both.filter(col("fold") =!= col("native")).count() == 0)
    // and against a distinct vector (self-join a shifted copy)
    val a = emb.select(col("vec_id"), col("embedding").as("va"))
    val b = emb.select((col("vec_id") + 1).as("vec_id"), col("embedding").as("vb"))
    val cross = a.join(b, "vec_id")
    assert(cross.filter(
      Similarity.dot(col("va"), col("vb")) =!= VectorExprs.fdot(col("va"), col("vb"))
    ).count() == 0)
  }

  test("fdot participates in whole-stage codegen") {
    val plan = emb.select(VectorExprs.fdot(col("embedding"), col("embedding")).as("d"))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators inside a WholeStageCodegen span
    assert(plan.contains("*(1) Project [graft_fdot"), s"no codegen span:\n$plan")
  }

  test("fdot returns null on length mismatch, matching the fold") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"), col("b").cast("array<float>").as("b"))
    val r = df.select(
      VectorExprs.fdot(col("a"), col("b")).as("native"),
      Similarity.dot(col("a"), col("b")).as("fold")).head()
    assert(r.isNullAt(0), "native must refuse a ragged pair")
    assert(r.isNullAt(1), "fold baseline also yields null")
  }

  test("fdot is null-safe") {
    val row = emb.limit(1)
      .select(VectorExprs.fdot(lit(null).cast("array<float>"), col("embedding")).as("d"))
      .head()
    assert(row.isNullAt(0))
  }

  test("native hyperplane signature equals the fold construction on every fixture vector") {
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val planes = Similarity.planeMatrix(dim, 6, seed = 99L)
    val both = emb.select(
      Similarity.hyperplaneSignature(col("embedding"), dim, 6, 99L).as("fold"),
      VectorExprs.hyperplaneSig(col("embedding"), planes).as("native"))
    assert(both.filter(col("fold") =!= col("native")).count() == 0)
    assert(both.filter(col("native") =!= 0L).count() > 0, "signatures must be non-trivial")
    // degenerate vectors: NaN projection sets the bit (Spark NaN >= 0 is
    // true); a null vector, null element, or length-mismatched vector
    // collapses to signature 0 on both paths
    import spark.implicits._
    val planes8 = Similarity.planeMatrix(8, 6, seed = 99L)
    val weird = Seq(
      (1, Some(Array(Float.NaN, 1f, 1f, 1f, 1f, 1f, 1f, 1f))),
      (2, Option.empty[Array[Float]]),
      (3, Some(Array(1f, 2f)))).toDF("id", "v") // shorter than the planes
      .select(col("id"), col("v").cast("array<float>").as("v"))
    val rows = weird.select(col("id"),
      Similarity.hyperplaneSignature(col("v"), 8, 6, 99L).as("fold"),
      VectorExprs.hyperplaneSig(col("v"), planes8).as("native"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(1)._1 == rows(1)._2, s"NaN vector diverged: ${rows(1)}")
    assert(rows(2) == ((0L, 0L)), s"null vector must sign to 0 on both paths: ${rows(2)}")
    assert(rows(3) == ((0L, 0L)), s"length mismatch must sign to 0 on both paths: ${rows(3)}")
  }

  test("hyperplane signature rejects more than 64 planes (bit-pack bound)") {
    val tooMany = Seq.fill(65)(Seq(1.0))
    val e = intercept[Exception] {
      emb.limit(1).select(VectorExprs.hyperplaneSig(col("embedding"), tooMany)).collect()
    }
    assert(e.getMessage.contains("64"), s"expected the 64-plane bound, got: ${e.getMessage}")
  }

  test("native function builders report arity instead of crashing the resolver") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_fdot(array(CAST(1.0 AS FLOAT)))").collect()
    }
    assert(e.getMessage.contains("2 arguments"),
      s"expected an arity message, got: ${e.getMessage}")
  }

  test("nearestCentroids matches a scala model on random vectors (incl. ties)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val dim = 8
    val centroids: Seq[Seq[Double]] =
      Seq.tabulate(5)(j => Seq.tabulate(dim)(d => (j + d).toDouble)) :+
        Seq.tabulate(dim)(d => (0 + d).toDouble) // duplicate of centroid 0 → tie
    def model(v: Seq[Float], k: Int): Seq[Int] = {
      def l2(c: Seq[Double]) = v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
      centroids.indices.sortBy(i => l2(centroids(i))).take(k) // stable: ties → low index
    }
    val vecs = Seq.fill(50)(Array.fill(dim)(rnd.nextFloat() * 6)) :+
      centroids.head.map(_.toFloat).toArray // exactly ON the tied centroid pair
    val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
    for (k <- Seq(1, 3, 6, 99)) {
      val got = df.select(col("id"),
        VectorExprs.nearestCentroids(col("v"), centroids, k).as("p"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
      vecs.zipWithIndex.foreach { case (v, i) =>
        assert(got(i) == model(v.toSeq, math.min(k, centroids.size)),
          s"k=$k vec=$i: ${got(i)} vs ${model(v.toSeq, k)}")
      }
    }
  }

  test("nearestCentroids survives NaN/Inf vector elements (corrupt embeddings rank last)") {
    import spark.implicits._
    val cs = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(2.0, 2.0))
    val df = Seq(
      (1, Array(Float.NaN, 0.5f)),
      (2, Array(Float.PositiveInfinity, 0.5f)),
      (3, Array(0.1f, 0.1f))).toDF("id", "v")
    val got = df.select(col("id"), VectorExprs.nearestCentroids(col("v"), cs, 2).as("p"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    assert(got(1) == Seq(0, 1), "all-NaN distances: deterministic index order, no crash")
    assert(got(2) == Seq(0, 1), "all-Inf distances: deterministic index order, no crash")
    assert(got(3) == Seq(0, 1), "finite vector unaffected")
  }

  test("validation failures name the function: negative nprobe, NULL matrices, oversized vector") {
    import spark.implicits._
    val one = Seq(Tuple1(Array(0.5f, 0.5f))).toDF("v")
    // nprobe < 0 → typed analysis failure, not NegativeArraySizeException
    val eNeg = intercept[Exception] {
      one.select(VectorExprs.nearestCentroids(col("v"), Seq(Seq(0.0, 0.0)), -1)).collect()
    }
    assert(eNeg.getMessage.contains("nprobe must be >= 0"), eNeg.getMessage)
    // foldable-but-NULL matrix → typed failure naming the function, not NPE
    val eNullC = intercept[Exception] {
      one.selectExpr("graft_nearest_centroids(v, CAST(NULL AS ARRAY<ARRAY<DOUBLE>>), 1)").collect()
    }
    assert(eNullC.getMessage.contains("centroid matrix must not be NULL"), eNullC.getMessage)
    val eNullP = intercept[Exception] {
      one.selectExpr("graft_hyperplane_sig(v, CAST(NULL AS ARRAY<ARRAY<DOUBLE>>))").collect()
    }
    assert(eNullP.getMessage.contains("plane matrix must not be NULL"), eNullP.getMessage)
    // vector longer than the centroid dim → named error, not raw AIOOBE
    val eLong = intercept[Exception] {
      one.select(VectorExprs.nearestCentroids(col("v"), Seq(Seq(0.0)), 1)).collect()
    }
    assert(eLong.getMessage.contains("exceeds centroid dimension"), eLong.getMessage)
  }

  test("nearestCentroids participates in whole-stage codegen and is null-safe") {
    import spark.implicits._
    val cs = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0))
    val plan = emb.select(VectorExprs.nearestCentroids(col("embedding"), cs, 1).as("b"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_nearest_centroids"), s"no codegen span:\n$plan")
    val df = Seq(Tuple1(Option.empty[Array[Float]])).toDF("v")
      .select(col("v").cast("array<float>").as("v"))
    assert(df.select(VectorExprs.nearestCentroids(col("v"), cs, 1)).head.isNullAt(0))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The IVF build/serve split: a real ANN deployment builds the index once
  * (batch job) and serves many query batches against it. These tests pin
  * the three claims that make the split real:
  *   1. served results ≡ the fused (train-per-call) path for the same
  *      (data, nlist, seed, nprobe) — the split changes WHEN training
  *      happens, never WHAT the query returns;
  *   2. the serve-time plan contains no training stage and reads the
  *      assignment parquet PARTITION-PRUNED to the probed buckets;
  *   3. probe selectivity is observable via the `graft_ivf_candidates`
  *      metric that rides both candidate paths.
  */
class IvfIndexSpec extends SparkSpec {

  private def embeddings(n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(17L)
    Seq.tabulate(n)(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
  }

  test("pinned-quantizer serve at full probe equals brute force exactly") {
    // ivfTopKWithCentroids partitions the corpus under ANY fixed
    // quantizer; probing every list must therefore reproduce the brute
    // ranking bit-for-bit — the same exactness lever the trained paths
    // pin, here for the oracle-replayable pinned form
    val emb = embeddings(300).cache(); emb.count()
    val cs: Seq[Seq[Double]] = emb.filter(col("vec_id") < 4)
      .orderBy(col("vec_id")).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding",
      col("vec_id") < 6, 10).collect().toSeq
    val pinned = Similarity.ivfTopKWithCentroids(emb, "vec_id", "embedding",
      col("vec_id") < 6, 10, cs, nprobe = cs.length).collect().toSeq
    assert(pinned == brute, s"full-probe pinned serve diverged from brute")
    // and a partial probe returns the page shape with a strict candidate
    // subset (observable via the shared metric)
    val partial = observedExamined(Similarity.candidatesMetric) {
      Similarity.ivfTopKWithCentroids(emb, "vec_id", "embedding",
        col("vec_id") < 6, 10, cs, nprobe = 1).collect()
    }
    assert(partial.exists(n => n > 0 && n < 6L * 299), s"probe not partial: $partial")
    emb.unpersist()
  }

  test("served top-k from a persisted index equals the fused train-per-call path") {
    val emb = embeddings(500).cache(); emb.count()
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/ivf_spec/parity"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nlist = 16, seed = 42L)
    val fused = Similarity.ivfTopK(emb, "vec_id", "embedding",
      col("vec_id") < 6, 10, nlist = 16, nprobe = 4, seed = 42L).collect().toSeq
    val served = Similarity.ivfTopKFromIndex(emb.filter(col("vec_id") < 6),
      "vec_id", "embedding", dir, 10, nprobe = 4).collect().toSeq
    assert(served == fused,
      s"build/serve split changed results: served=${served.take(3)} fused=${fused.take(3)}")
    emb.unpersist()
  }

  test("serve-time plan has no training stage and partition-prunes the assignment scan") {
    val emb = embeddings(400).cache(); emb.count()
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/ivf_spec/plan"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nlist = 16, seed = 42L)
    val served = Similarity.ivfTopKFromIndex(emb.filter(col("vec_id") < 4),
      "vec_id", "embedding", dir, 10, nprobe = 4)
    val plan = served.queryExecution.executedPlan.toString
    // the Lloyd pass runs through Dataset.groupByKey, whose physical
    // signature is AppendColumns — absent means no training at serve time
    assert(!plan.contains("AppendColumns"), s"training stage in serve plan:\n$plan")
    // the assignment read must carry a static bucket predicate into the
    // scan's partition filters — only the probed buckets' files are read
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"assignment scan not partition-pruned:\n$plan")
    val pruned = plan.linesIterator
      .filter(l => l.contains("PartitionFilters: [") && !l.contains("PartitionFilters: []"))
    assert(pruned.exists(_.contains("bucket")),
      s"no non-empty PartitionFilters on bucket:\n$plan")
    emb.unpersist()
  }

  test("dup pairs served from a persisted index equal the fused form") {
    import org.apache.spark.sql.functions.col
    val emb = embeddings(600).cache(); emb.count()
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/ivf_spec/dup"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nlist = 16, seed = 42L)
    val fused = Similarity.ivfDupPairs(emb, "vec_id", "embedding", 0.7,
        nlist = 16, nprobe = 2)
      .orderBy(col("d1"), col("d2")).collect().toSeq
    val served = Similarity.ivfDupPairsFromIndex(spark, dir, 0.7, nprobe = 2)
      .orderBy(col("d1"), col("d2")).collect().toSeq
    assert(served == fused,
      s"index-served dup pairs diverge: served=${served.take(3)} fused=${fused.take(3)}")
    val plan = Similarity.ivfDupPairsFromIndex(spark, dir, 0.7, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("AppendColumns"), s"training stage in serve plan:\n$plan")
    emb.unpersist()
  }

  test("dup-pair serve at nprobe=1 reuses stored buckets with no centroid scan") {
    import org.apache.spark.sql.functions.col
    val emb = embeddings(400).cache(); emb.count()
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/ivf_spec/dup1"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nlist = 16, seed = 42L)
    val served = Similarity.ivfDupPairsFromIndex(spark, dir, 0.7, nprobe = 1)
    // probe 1 is the stored partition column: the candidate stage must not
    // re-derive assignments (a full redundant NearestCentroids pass over
    // the corpus) — and the fused nprobe=1 form must agree exactly
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("graft_nearest_centroids"),
      s"serve plan recomputes bucket assignments from centroids:\n$plan")
    val fused = Similarity.ivfDupPairs(emb, "vec_id", "embedding", 0.7,
        nlist = 16, nprobe = 1)
      .orderBy(col("d1"), col("d2")).collect().toSeq
    assert(served.orderBy(col("d1"), col("d2")).collect().toSeq == fused)
    emb.unpersist()
  }

  test("oversized query batches fail fast instead of collecting onto the driver") {
    val emb = embeddings(300).cache(); emb.count()
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/ivf_spec/cap"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nlist = 16, seed = 42L)
    // MaxQueryBatch + 1 synthetic queries: the cap fires on the limited
    // collect, before any query vector is read
    val big = spark.range(Similarity.MaxQueryBatch + 1)
      .select(col("id").as("vec_id"), array(lit(0.5f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromIndex(big, "vec_id", "embedding", dir, 10, nprobe = 2)
    }
    assert(e.getMessage.contains("MaxQueryBatch"), e.getMessage)
    // under the cap the same call serves normally
    assert(Similarity.ivfTopKFromIndex(emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", dir, 10, nprobe = 2)
      .count() > 0)
    emb.unpersist()
  }

  test("probed-fraction is observable via the graft_ivf_candidates metric on both paths") {
    val emb = embeddings(1000).cache(); emb.count()
    val nQueries = 5
    // fused path
    val fusedExamined = observedExamined(Similarity.candidatesMetric) {
      Similarity.ivfTopK(emb, "vec_id", "embedding",
        col("vec_id") < nQueries, 10, nlist = 16, nprobe = 4).collect()
    }
    // served path
    val dir = s"/tmp/graft_io/p${ProcessHandle.current().pid()}/ivf_spec/metric"
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, nlist = 16, seed = 42L)
    val servedExamined = observedExamined(Similarity.candidatesMetric) {
      Similarity.ivfTopKFromIndex(emb.filter(col("vec_id") < nQueries),
        "vec_id", "embedding", dir, 10, nprobe = 4).collect()
    }
    val brute = nQueries.toLong * (1000 - 1)
    for ((label, ex) <- Seq("fused" -> fusedExamined, "served" -> servedExamined)) {
      assert(ex.isDefined, s"$label path emitted no $label candidates metric")
      val frac = ex.get.toDouble / brute
      assert(frac < 0.55, s"$label examined ${ex.get} of $brute ($frac) — probing is not pruning")
      assert(frac > 0.05, s"$label examined only $frac — buckets degenerate")
    }
    // identical training (same data, nlist, seed) ⇒ identical probe sets
    assert(fusedExamined == servedExamined,
      s"fused ($fusedExamined) and served ($servedExamined) probe sets differ")
    emb.unpersist()
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators.Export

/** Export operators: split stability/determinism and shard layout
  * contracts the aggregate/row oracles can't see directly.
  */
class ExportSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("splitByHash: fractions land within quantization, assignment is growth-stable") {
    val split = Export.splitByHash(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val n = docs.count().toDouble
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1/256 quantization + finite-sample noise: generous ±10pp window —
    // this guards gross mis-bucketing, the oracle row pins exact counts
    assert(math.abs(counts("train") / n - 0.8) < 0.1, counts.toString)
    // growth stability: the assignment of an existing doc cannot depend
    // on which other docs are present
    val half = Export.splitByHash(docs.filter(col("doc_id") < 100), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = split.filter(col("doc_id") < 100)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(half == full, "split assignment changed when the corpus grew")
    // different seed produces a different (but valid) assignment
    val reseeded = Export.splitByHash(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 7L)
      .filter(col("split") === "train").count()
    assert(reseeded != counts("train") || true) // counts may coincide; just exercise the path
    intercept[IllegalArgumentException] {
      Export.splitByHash(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("shuffleShards: positions are contiguous per shard, layout is deterministic") {
    val n = 8
    val out = Export.shuffleShards(docs, "doc_id", n)
    // every doc exactly once
    assert(out.count() == docs.count())
    // pos is 1..size(shard) with no gaps: max(pos) == count per shard
    val perShard = out.groupBy("shard")
      .agg(count(lit(1)).as("c"), max("pos").as("m"), min("pos").as("lo"))
      .collect()
    assert(perShard.forall(r => r.getLong(1) == r.getLong(2) && r.getLong(3) == 1L),
      perShard.mkString(", "))
    assert(perShard.map(_.getLong(0)).toSet.subsetOf((0L until n).toSet))
    // deterministic: a second evaluation yields the identical layout
    val a = out.select("doc_id", "shard", "pos").collect().map(_.toString).sorted
    val b = Export.shuffleShards(docs, "doc_id", n)
      .select("doc_id", "shard", "pos").collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // the layout is shuffled w.r.t. id order: within a shard, consecutive
    // positions are not consecutive ids (holds overwhelmingly for any
    // non-trivial corpus under a hash order; deterministic fixture)
    val pairs = out.filter(col("shard") === 0).orderBy("pos")
      .select("doc_id").collect().map(_.getLong(0))
    val monotoneRuns = pairs.sliding(2).count(w => w.length == 2 && w(1) == w(0) + 1)
    assert(monotoneRuns < pairs.length / 4,
      s"shard 0 looks id-ordered: $monotoneRuns consecutive-id adjacencies of ${pairs.length}")
  }

  test("writeJsonlShards: one file per shard, round trip restores the exact layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val n = 4
    Export.writeJsonlShards(docs.select("doc_id", "text"), "doc_id", n, dir)
    // Hive layout: shard=K directories, each holding exactly ONE data file
    // (the one-task-per-shard write contract)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length == n, shardDirs.mkString(", "))
    shardDirs.foreach { sd =>
      val data = sd.listFiles().filter(f => f.getName.startsWith("part-") &&
        !f.getName.endsWith(".crc"))
      assert(data.length == 1, s"${sd.getName}: ${data.mkString(", ")}")
    }
    // re-read restores every row with its layout slot
    val back = spark.read.json(dir)
      .select(col("doc_id"), col("shard").cast("long"), col("pos"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val want = Export.shuffleShards(docs.select("doc_id", "text"), "doc_id", n)
      .select(col("doc_id"), col("shard"), col("pos"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(back == want)
  }

  test("splitByComponents: near-dup clusters never straddle a split boundary") {
    import graft.operators.Dedup
    val pairs = Dedup.jaccardPairsDense(docs, "doc_id", "text", 2, 0.5)
    val split = Export.splitByComponents(docs, "doc_id", pairs,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).cache()
    try {
      val byId = split.select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // every row keeps an assignment
      assert(byId.size == docs.count())
      // THE leakage contract: both members of every near-dup pair share
      // a split (the fixture plants real near-dup pairs)
      val ps = pairs.select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(ps.nonEmpty, "fixture must plant near-dup pairs")
      ps.foreach { case (a, b) =>
        assert(byId(a) == byId(b), s"pair ($a, $b) straddles splits")
      }
      // singletons (docs in no pair) get EXACTLY their plain hash split
      val inPair = ps.flatMap(p => Seq(p._1, p._2)).toSet
      val plain = Export.splitByHash(docs, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      byId.filterNot { case (id, _) => inPair(id) }.foreach { case (id, sp) =>
        assert(sp == plain(id), s"singleton $id moved: $sp vs ${plain(id)}")
      }
    } finally { split.unpersist(); () }
  }

  test("splitByComponents keeps a 40-hop near-dup chain in one split") {
    import spark.implicits._
    // a paginated crawl: each page near-dups only its neighbors, so the
    // component's diameter is 40 — label propagation, one hop a round,
    // would need 40 rounds
    val pages = (0L to 40L).map(i => (i, s"page $i")).toDF("doc_id", "text")
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("d1", "d2")
    val split = Export.splitByComponents(pages, "doc_id", chain,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("split").distinct().collect()
    assert(split.length == 1, split.toSeq.toString)
  }

  test("splitByComponents rejects a string id column loudly") {
    import graft.operators.Dedup
    import spark.implicits._
    // a string-keyed corpus would null-cast at the component join and
    // silently drop every row — the guard must fail before any job runs
    val strDocs = Seq(("a", "x y z"), ("b", "x y z")).toDF("doc_id", "text")
    val pairs = Seq(("a", "b")).toDF("d1", "d2")
    val e = intercept[IllegalArgumentException] {
      Export.splitByComponents(strDocs, "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    }
    assert(e.getMessage.contains("splitByComponents"))
  }

  test("clusterBalancedSample: exactly-k caps per cluster, partition invariance") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cs = emb.filter(col("vec_id") >= 100 && col("vec_id") <= 103)
      .select("vec_id", "embedding").collect().sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val k = 8
    val got = Similarity.clusterBalancedSample(emb, "vec_id", "embedding", cs, k)
    val sizes = got.groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // every kept size is min(k, cluster size); total ≤ nlist·k
    assert(sizes.values.forall(_ <= k), sizes.toString)
    assert(sizes.values.sum <= 4L * k)
    // a cluster with ≥ k members keeps exactly k (the fixture's four
    // clusters each hold ~125 vectors, so all four cap)
    assert(sizes.values.forall(_ == k), s"all clusters should cap at $k: $sizes")
    // pure hash rank: identical selection under any partitioning
    val re = Similarity.clusterBalancedSample(
      emb.repartition(13, col("label")), "vec_id", "embedding", cs, k)
    assert(re.select("bucket", "vec_id").collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      got.select("bucket", "vec_id").collect().map(r => (r.getInt(0), r.getLong(1))).toSet)
  }
}

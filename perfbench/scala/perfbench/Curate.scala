package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Classifier, Dedup, Similarity}
import graft.sources.Tables

/** Batch curation passes, one after another, each over its own seeded
  * sample of the documents and embeddings: classifier train and score,
  * MinHash-LSH pairs, star connected components, keep representatives,
  * and semantic dedup. Every stage is one request, materialized and
  * checked; an operation is one whole pass.
  */
final class Curate(val ctx: Ctx, scratchDirs: Seq[String]) extends Workload {
  import Workload._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val life = new Lifecycle(ctx, scratchDirs)
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var pass = 0
  private var passEnd = 0L

  def setup(rep: Int): Unit = {
    val d = s"${ctx.dir}/curate-$rep"
    tr.span("bench.generate", group = true)(Inputs.curation(spark, d, ctx.seed))
    val t0 = System.nanoTime()
    tr.span("sources.open", group = true) {
      docs = Tables.open(spark, d, "documents")
      emb = Tables.open(spark, d, "embeddings")
    }
    ctx.sample("sources.open_ms", (System.nanoTime() - t0) / 2e6)
    if (rep > 1) deleteTree(s"${ctx.dir}/curate-${rep - 1}")
  }

  private def sampled(df: DataFrame, id: String): DataFrame =
    df.filter(pmod(xxhash64(col(id), lit(ctx.seed), lit(pass)), lit(100L)) < Inputs.CurateSharePct)

  /** One stage: its own request, lifecycle counters around it, its
    * latency recorded under `name`.
    */
  private def stage[T](name: String)(f: => T): T = tr.request("op.stage") {
    life.around {
      val t0 = System.nanoTime()
      val r = tr.span(s"operators.$name", group = true)(f)
      ctx.sample(s"operators.${name}_s", (System.nanoTime() - t0) / 1e9)
      r
    }
  }

  private val pairSchema = StructType(Seq(StructField("d1", LongType), StructField("d2", LongType)))
  private val labelSchema = StructType(Seq(StructField("id", LongType), StructField("rep_id", LongType)))
  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def onePass(): Option[String] = {
    val sample = sampled(docs, "doc_id")
    val embSample = sampled(emb, "vec_id")
    val model = stage("classifier_train") {
      Classifier.trainLogistic(sample.filter(col("lang") === "en"), sample.filter(col("lang") =!= "en"),
        "doc_id", "text", n = 2, buckets = 512, iters = 6)
    }
    val scores = stage("classifier_score") {
      Classifier.scoreLogistic(sample, "doc_id", "text", model, n = 2).collect()
    }
    val ids = scores.map(_.getLong(0))
    val nDocs = ids.length
    ctx.items += nDocs
    val pairs = stage("lsh_pairs") {
      Dedup.minHashLSH(sample, "doc_id", "text", n = 2, threshold = 0.5)
        .select(col("d1").cast("long"), col("d2").cast("long")).collect()
    }
    val labels = stage("cc_star") {
      Dedup.connectedComponentsStar(sample.select(col("doc_id")), "doc_id", local(pairs.toSeq, pairSchema))
        .collect()
    }
    val kept = stage("keep_reps") {
      Dedup.keepRepresentativesOf(sample, "doc_id", local(labels.toSeq, labelSchema))
        .select(col("doc_id"), col("n_members")).collect()
    }
    val sem = stage("semdedup") {
      val n = embSample.count()
      (n, Similarity.semDedup(embSample, "vec_id", "embedding", 0.9, Similarity.autoNlist(n)).collect())
    }
    passEnd = System.nanoTime()
    tr.request("bench.check")(tr.span("bench.check")(check(ids, scores, pairs, labels, kept, sem)))
  }

  private def check(ids: Array[Long], scores: Array[Row], pairs: Array[Row], labels: Array[Row],
                    kept: Array[Row], sem: (Long, Array[Row])): Option[String] = {
    val rep = labels.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reps = rep.values.toSet
    val (nEmb, semRows) = sem
    if (ids.distinct.length != ids.length) Some("classifier scored a document twice")
    else if (!scores.forall(r => r.getDouble(1) > 0 && r.getDouble(1) < 1)) Some("score outside (0, 1)")
    else if (labels.length != ids.length || rep.keySet != ids.toSet) Some("not every curated doc has exactly one rep")
    else if (!reps.forall(r => rep.get(r).contains(r))) Some("a rep is not its own rep")
    else if (!rep.forall { case (d, r) => r <= d }) Some("a rep is not its component minimum")
    else if (!pairs.forall(p => rep(p.getLong(0)) == rep(p.getLong(1)))) Some("a near-dup pair spans two components")
    else if (kept.map(_.getLong(0)).toSet != reps || kept.length != reps.size) Some("kept docs are not the reps")
    else if (kept.map(_.getLong(1)).sum != ids.length) Some("kept member counts do not sum to the sample")
    else if (semRows.map(_.getLong(1)).distinct.length != semRows.length) Some("semDedup kept two members of a group")
    else if (semRows.map(_.getLong(2)).sum != nEmb) Some("semDedup member counts do not sum to the sample")
    else None
  }

  /** Whole passes, about 17 s each. */
  def run(seconds: Int): Unit =
    for (_ <- 0 until opCount(seconds, 17.0)) {
      val t0 = System.nanoTime()
      passEnd = 0L
      ctx.op(s"curation pass $pass")(onePass())
      val dt = (if (passEnd > 0) passEnd else System.nanoTime()) - t0
      ctx.busyNs += dt
      ctx.opMs += dt / 1e6
      pass += 1
    }

  def report(): Seq[(String, Double, String)] = Seq(
    ("curate_s", median(ctx.opMs.toSeq) / 1e3, "s"),
    ("curate_docs_per_s", ctx.items / (ctx.busyNs / 1e9), "1/s"))
}

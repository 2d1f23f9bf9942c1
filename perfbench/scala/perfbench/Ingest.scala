package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.sources.Tables
import graft.streaming.StreamDedup

/** Nightly ingest: set-up indexes a seeded half of the documents
  * (`buildLshIndex`) and writes their star-CC labels; the run then folds
  * one batch after another: the LSH gate, the batch's near-dup pairs, the
  * incremental components fold, a labels write, and the append of the
  * accepted documents to the index. The only workload that writes.
  */
final class Ingest(val ctx: Ctx, scratchDirs: Seq[String]) extends Workload {
  import Workload._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val life = new Lifecycle(ctx, scratchDirs)
  private var d: String = _
  private var docs: DataFrame = _
  private var baseIds: Array[Long] = _
  private var version = 0
  private var batch = 0
  private var folded = mutable.ArrayBuffer.empty[Long]
  private var allPairs = mutable.ArrayBuffer.empty[Row]

  private val pairSchema = StructType(Seq(StructField("d1", LongType), StructField("d2", LongType)))
  private def local(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), pairSchema)
  private def index = s"$d/index"
  private def labelsAt(v: Int) = s"$d/labels/v$v"

  def setup(rep: Int): Unit = {
    d = s"${ctx.dir}/ingest-$rep"
    tr.span("bench.generate", group = true)(Inputs.ingest(spark, d, ctx.seed))
    val t0 = System.nanoTime()
    docs = tr.span("sources.open", group = true)(Tables.open(spark, d, "documents"))
    ctx.sample("sources.open_ms", (System.nanoTime() - t0) / 1e6)
    val base = docs.filter(col("batch") === -1)
    tr.span("operators.build_index", group = true)(Dedup.buildLshIndex(base, "doc_id", "text", index))
    val pairs = tr.span("operators.lsh_pairs", group = true) {
      Dedup.minHashLSH(base, "doc_id", "text", n = 2, threshold = 0.5)
        .select(col("d1").cast("long"), col("d2").cast("long")).collect()
    }
    tr.span("sources.write_labels", group = true) {
      Dedup.connectedComponentsStar(base.select(col("doc_id")), "doc_id", local(pairs.toSeq))
        .write.parquet(labelsAt(0))
    }
    baseIds = base.select(col("doc_id")).collect().map(_.getLong(0))
    version = 0
    batch = 0
    folded = mutable.ArrayBuffer.empty[Long]
    allPairs = mutable.ArrayBuffer.empty[Row] ++= pairs
    if (rep > 1) deleteTree(s"${ctx.dir}/ingest-${rep - 1}")
  }

  private def timedSpan[T](name: String, sampleName: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = tr.span(name, group = true)(f)
    ctx.sample(sampleName, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Fold one batch. Its gate verdicts must agree with its pairs: a
    * document is a duplicate exactly when it pairs with an indexed one.
    */
  private def foldBatch(k: Int): Option[String] = {
    val incoming = docs.filter(col("batch") === k).select(col("doc_id"), col("text"))
    val gate = timedSpan("streaming.gate", "streaming.gate_s") {
      StreamDedup.dedupAgainstLshIndex(spark, incoming, "doc_id", "text", index).collect()
    }
    val ids = gate.map(_.getLong(0)).toSet
    val accepted = gate.filter(!_.getBoolean(2)).map(_.getLong(0))
    val pairs = timedSpan("operators.index_pairs", "operators.index_pairs_s") {
      Dedup.lshIndexPairs(spark, incoming, "doc_id", "text", index)
        .select(col("d1").cast("long"), col("d2").cast("long")).collect()
    }
    val next = timedSpan("operators.fold", "operators.fold_s") {
      Dedup.incrementalComponents(spark.read.parquet(labelsAt(version)), incoming.select(col("doc_id")),
        "doc_id", local(pairs.toSeq))
    }
    val tWrite1 = System.nanoTime()
    timedSpan("sources.write_labels", "sources.labels_write_s")(next.write.parquet(labelsAt(version + 1)))
    timedSpan("sources.append_index", "sources.append_s") {
      Dedup.appendToLshIndex(incoming.filter(col("doc_id").isin(accepted.toSeq: _*)), "doc_id", "text", index)
    }
    ctx.sample("sources.write_s", (System.nanoTime() - tWrite1) / 1e9)
    deleteTree(labelsAt(version))
    version += 1
    folded ++= ids
    allPairs ++= pairs
    ctx.items += ids.size
    ctx.sample("streaming.accept_ratio", accepted.length.toDouble / math.max(1, ids.size))
    val dupByPairs = pairs.flatMap { p =>
      val (a, b) = (p.getLong(0), p.getLong(1))
      if (ids(a) && !ids(b)) Seq(a) else if (ids(b) && !ids(a)) Seq(b) else Nil
    }.toSet
    val dupByGate = gate.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    if (gate.length != ids.size || ids.isEmpty) Some("gate returned a wrong row count")
    else if (dupByGate != dupByPairs) Some("gate verdicts disagree with the index pairs")
    else None
  }

  private def nextBatch(): Unit = {
    val k = batch
    batch += 1
    val t0 = System.nanoTime()
    var t1 = 0L
    ctx.op(s"ingest batch $k") {
      tr.request("op.batch")(life.around {
        val r = foldBatch(k)
        t1 = System.nanoTime()
        r
      })
    }
    val dt = (if (t1 > 0) t1 else System.nanoTime()) - t0
    ctx.busyNs += dt
    ctx.opMs += dt / 1e6
    if (tr.on) ctx.sample("sources.index_files", fileCount(index).toDouble)
  }

  /** Batches of about 6 s each, at most as many as the inputs hold. */
  def run(seconds: Int): Unit = {
    for (_ <- 0 until math.min(opCount(seconds, 6.0), Inputs.batches - batch)) nextBatch()
    val docsNow = baseIds.length + folded.size
    ctx.sample("sources.disk_bytes_per_doc",
      (dirBytes(index) + dirBytes(s"$d/labels") + scratchDirs.map(dirBytes).sum).toDouble / docsNow)
  }

  /** After the last batch the labels must equal a from-scratch star CC
    * over the same documents and pairs (untimed).
    */
  override def finish(): Unit = ctx.op("final labels equal a from-scratch clustering") {
    tr.request("bench.check")(tr.span("bench.check", group = true) {
      import spark.implicits._
      val all = (baseIds ++ folded).toSeq.toDF("doc_id")
      val scratch = Dedup.connectedComponentsStar(all, "doc_id", local(allPairs.toSeq))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = spark.read.parquet(labelsAt(version)).collect().map(r => r.getLong(0) -> r.getLong(1))
      if (got.length != scratch.size || got.toMap != scratch)
        Some(s"incremental labels differ from the from-scratch clustering")
      else None
    })
  }

  def report(): Seq[(String, Double, String)] = Seq(
    ("batch_p50_s", median(ctx.opMs.toSeq) / 1e3, "s"),
    ("ingest_docs_per_s", ctx.items / (ctx.busyNs / 1e9), "1/s"),
    ("disk_bytes_per_doc", mean(ctx.samples.getOrElse("sources.disk_bytes_per_doc", Nil)), "B"))
}

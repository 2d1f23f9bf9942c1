package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs, generated at set-up: the same seed gives the same rows.
  * The fixtures' lineitem is one parquet file with one row group, which
  * scans as a single task and gives `FileSlices` one non-empty slice; the
  * generated copy is split over 16 files so scans run in parallel and
  * progressive slices are real.
  */
object Inputs {
  val LineitemRows = 600000L
  val LineitemFiles = 16
  val CurateDocs = 3000
  val CurateSharePct = 40
  val IngestDocs = 1600
  val IngestBatchDocs = 100

  /** Stamp entry naming the generated input sizes (the fixture "sf"). */
  val spec: String =
    s"gen1:lineitem=${LineitemRows}x$LineitemFiles;curate=${CurateDocs}docs+emb64@$CurateSharePct%;" +
      s"ingest=${IngestDocs}docs/${IngestBatchDocs}"

  private def h(seed: Long, k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
  private def u(seed: Long, k: Int): Column = pmod(h(seed, k), lit(1000003L)).cast("double") / 1000003.0

  /** TPC-H-shaped lineitem as `<dir>/lineitem.parquet`, 16 files. Supplier
    * keys are skewed (cubed uniform) so heavy hitters exist.
    */
  def lineitem(spark: SparkSession, dir: String, seed: Long): Unit = {
    val qty = (pmod(h(seed, 3), lit(50L)) + 1).cast("double")
    spark.range(0L, LineitemRows, 1L, LineitemFiles).select(
      (col("id") / 4).cast("long").plus(1).as("l_orderkey"),
      (pmod(h(seed, 1), lit(20000L)) + 1).as("l_partkey"),
      (floor(pow(u(seed, 2), 3) * 1000) + 1).cast("long").as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + pmod(h(seed, 4), lit(1200L))), 2).as("l_extendedprice"),
      (pmod(h(seed, 5), lit(11L)).cast("double") / 100).as("l_discount"),
      (pmod(h(seed, 6), lit(9L)).cast("double") / 100).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pmod(h(seed, 7), lit(3L)) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (pmod(h(seed, 8), lit(2L)) + 1).cast("int"))
        .as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + pmod(h(seed, 9), lit(2500L)) * 86400).as("l_shipdate"))
      .write.parquet(s"$dir/lineitem.parquet")
  }

  private val vocab = Array(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part", "hash",
    "merge", "batch", "spark", "a", "the", "line", "sort", "window", "order", "data",
    "column", "join", "small", "customer", "query", "big", "stream", "group", "filter", "vector",
    "select", "index", "page", "cache", "plan", "shard", "node", "disk", "lock", "log")
  private val langs = Array("en", "en", "en", "en", "es", "de", "fr", "zh")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
                       n_chars: Long, batch: Int)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  /** `n` documents; about a quarter are near-copies of an earlier one
    * (8% of words replaced), so MinHash-LSH finds pairs and chains.
    * English documents lean on the first 30 words, the rest on the last
    * 30, which gives the classifier something to learn.
    */
  def documents(n: Int, seed: Long): IndexedSeq[Doc] = {
    val rnd = new scala.util.Random(seed)
    val toks = new Array[Array[String]](n)
    val lang = new Array[String](n)
    for (i <- 0 until n) {
      if (i > 0 && rnd.nextDouble() < 0.25) {
        val src = rnd.nextInt(i)
        lang(i) = lang(src)
        toks(i) = toks(src).map(w => if (rnd.nextDouble() < 0.08) vocab(rnd.nextInt(vocab.length)) else w)
      } else {
        lang(i) = langs(rnd.nextInt(langs.length))
        val off = if (lang(i) == "en") 0 else 10
        toks(i) = Array.fill(20 + rnd.nextInt(60))(vocab(off + rnd.nextInt(30)))
      }
    }
    (0 until n).map { i =>
      val text = toks(i).mkString(" ")
      Doc(i.toLong, text, lang(i), s"src${i % 20}", text.length.toLong, -1)
    }
  }

  /** `n` 64-d vectors; a fifth are noisy copies of an earlier one (cosine
    * about 0.99), the rest independent Gaussians (cosine near 0).
    */
  def embeddings(n: Int, seed: Long): IndexedSeq[Emb] = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    val vs = new Array[Array[Float]](n)
    for (i <- 0 until n) {
      vs(i) =
        if (i > 0 && rnd.nextDouble() < 0.2) {
          val src = vs(rnd.nextInt(i))
          src.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat)
        } else Array.fill(64)(rnd.nextGaussian().toFloat)
    }
    (0 until n).map(i => Emb(i.toLong, vs(i), i % 10))
  }

  /** Curation corpus: `<dir>/documents.parquet` and `<dir>/embeddings.parquet`. */
  def curation(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    documents(CurateDocs, seed).toDF().drop("batch").repartition(4)
      .write.parquet(s"$dir/documents.parquet")
    embeddings(CurateDocs, seed).toDF().repartition(4)
      .write.parquet(s"$dir/embeddings.parquet")
  }

  /** Ingest corpus `<dir>/documents.parquet`: a seeded half is the base
    * (batch -1); the rest arrives in seeded batches 0, 1, ... of
    * `IngestBatchDocs` documents.
    */
  def ingest(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed ^ 0x1a9e57L)
    val docs = rnd.shuffle(documents(IngestDocs, seed))
    val (base, fresh) = docs.splitAt(IngestDocs / 2)
    val rows = base ++ fresh.zipWithIndex.map { case (d, i) => d.copy(batch = i / IngestBatchDocs) }
    rows.toDF().repartition(4).write.parquet(s"$dir/documents.parquet")
  }

  def batches: Int = (IngestDocs - IngestDocs / 2 + IngestBatchDocs - 1) / IngestBatchDocs
}

package graft

import org.apache.spark.graftest.Listeners
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** `Dedup.incrementalComponents`: folding an ingest batch into existing
  * cluster labels must equal a from-scratch recluster of the union.
  */
class IncrementalCcSpec extends SparkSpec {

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("bridge case: one new doc merges two old components") {
    import spark.implicits._
    // old components {1,2} and {3,4}; new doc 5 bridges both; 6 is a new
    // singleton; 7-8 are a purely-new pair
    val oldLabels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("id", "rep_id")
    val newIds = Seq(5L, 6L, 7L, 8L).toDF("doc_id")
    val newPairs = Seq((5L, 2L), (5L, 4L), (7L, 8L)).toDF("d1", "d2")
    val got = labelsOf(
      Dedup.incrementalComponents(oldLabels, newIds, "doc_id", newPairs))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 7L, 8L -> 7L))
  }

  test("empty batch pair set leaves old labels unchanged, new ids singleton") {
    import spark.implicits._
    val oldLabels = Seq((1L, 1L), (2L, 1L)).toDF("id", "rep_id")
    val newIds = Seq(9L).toDF("doc_id")
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val got = labelsOf(
      Dedup.incrementalComponents(oldLabels, newIds, "doc_id", empty))
    assert(got == Map(1L -> 1L, 2L -> 1L, 9L -> 9L))
  }

  test("fixture parity: incremental equals from-scratch recluster") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.minHashLSH(docs, "doc_id", "text", n = 2, threshold = 0.5)
    val full = labelsOf(Dedup.connectedComponentsStar(docs, "doc_id", pairs))

    val oldDocs = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val newDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val oldLabels = Dedup.connectedComponentsStar(oldDocs, "doc_id",
      Dedup.minHashLSH(oldDocs, "doc_id", "text", n = 2, threshold = 0.5))
    val isNew = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 0
    val newPairs = pairs.filter(isNew(col("d1")) || isNew(col("d2")))
    val inc = labelsOf(
      Dedup.incrementalComponents(oldLabels, newDocs, "doc_id", newPairs))
    assert(inc == full)
  }

  test("lshIndexPairs: index probe equals the full-LSH pair set restricted to the batch") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val oldDocs = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val newDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_pairs").toString
    Dedup.buildLshIndex(oldDocs, "doc_id", "text", dir)
    val probed = Dedup.lshIndexPairs(spark, newDocs, "doc_id", "text", dir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val isNew = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 0
    val want = Dedup.minHashLSH(docs, "doc_id", "text", n = 2, threshold = 0.5)
      .filter(isNew(col("d1")) || isNew(col("d2")))
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed == want,
      s"probe-only: ${(probed -- want).take(5)}; full-only: ${(want -- probed).take(5)}")
  }

  test("chained ingest: two successive batches still equal full recluster") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.minHashLSH(docs, "doc_id", "text", n = 2, threshold = 0.5)
    val full = labelsOf(Dedup.connectedComponentsStar(docs, "doc_id", pairs))

    // base = %5 != 0; batch1 = %10 == 5; batch2 = %10 == 0
    val base = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val b1 = docs.filter(pmod(col("doc_id"), lit(10)) === 5)
    val b2 = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val baseLabels = Dedup.connectedComponentsStar(base, "doc_id",
      Dedup.minHashLSH(base, "doc_id", "text", n = 2, threshold = 0.5))
    val in1 = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 5
    val in2 = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) === 0
    // batch-1 pairs: touching b1 but NOT touching b2 (b2 not ingested yet)
    val p1 = pairs.filter((in1(col("d1")) || in1(col("d2"))) &&
      !in2(col("d1")) && !in2(col("d2")))
    val l1 = Dedup.incrementalComponents(baseLabels, b1, "doc_id", p1)
    // batch-2 pairs: anything touching b2
    val p2 = pairs.filter(in2(col("d1")) || in2(col("d2")))
    val l2 = Dedup.incrementalComponents(l1, b2, "doc_id", p2)
    assert(labelsOf(l2) == full)
  }

  test("long chain: 200 new docs bridging old components equal a from-scratch star CC") {
    import spark.implicits._
    // old components of 4 docs each, chained internally; the chain
    // bridges four of them, 1xx and 6xx stay untouched
    val oldComps = Seq(100L, 200L, 300L, 400L, 600L, 2500L).map(b => (b until b + 4).toSeq)
    val oldPairs = oldComps.flatMap(c => c.zip(c.tail))
    val oldIds = oldComps.flatten
    val oldLabels = Dedup.connectedComponentsStar(oldIds.toDF("doc_id"), "doc_id",
      oldPairs.toDF("d1", "d2"))
    // chain position i holds id 2000 + (37·i mod 200): neighbours in the
    // chain are far apart in id order, so merges do not follow id order
    val chain = (0 until 200).map(i => 2000L + (37L * i) % 200)
    val bridges = Seq(0 -> 201L, 50 -> 302L, 100 -> 403L, 150 -> 2501L, 199 -> 203L)
    val newPairs = chain.zip(chain.tail) ++ bridges.map { case (i, o) => (chain(i), o) }
    val got = labelsOf(Dedup.incrementalComponents(oldLabels, chain.toDF("doc_id"), "doc_id",
      newPairs.toDF("d1", "d2")))
    val full = labelsOf(Dedup.connectedComponentsStar((oldIds ++ chain).toDF("doc_id"),
      "doc_id", (oldPairs ++ newPairs).toDF("d1", "d2")))
    assert(got == full)
    assert(got(chain(0)) == 200L && got(2503L) == 200L && got(601L) == 600L && got(101L) == 100L)
  }

  /** The ids of the RDDs that running `f` left persisted. */
  private def persistedBy(f: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    f
    spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSet
  }

  test("incrementalComponents persists nothing") {
    import spark.implicits._
    val oldLabels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("id", "rep_id")
    val newIds = Seq(5L, 6L, 7L, 8L).toDF("doc_id")
    val newPairs = Seq((5L, 2L), (5L, 4L), (7L, 8L)).toDF("d1", "d2")
    val left = persistedBy(
      Dedup.incrementalComponents(oldLabels, newIds, "doc_id", newPairs).collect())
    assert(left.isEmpty, s"incrementalComponents left persisted RDDs $left")
  }

  test("readLshIndex reads the stored index with its fixed schema, starting no job") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val oldDocs = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_read").toString
    Dedup.buildLshIndex(oldDocs, "doc_id", "text", dir)
    var read: Dedup.LshIndex = null
    val jobs = Listeners.jobsStarted(spark.sparkContext) { read = Dedup.readLshIndex(spark, dir) }
    // the params file is read on the driver and every table with a fixed
    // schema, so neither a params job nor a schema-inference job starts
    assert(jobs == 0, s"readLshIndex started $jobs jobs")
    // the fixed schema reads back exactly what was banded in memory
    val built = Dedup.lshIndex(oldDocs, "doc_id", "text", read.params)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(read.buckets.schema("c_id").dataType == docs.schema("doc_id").dataType)
    assert(rows(read.buckets, "c_id", "band", "bsig") == rows(built.buckets, "c_id", "band", "bsig"))
    assert(rows(read.arrays, "c_id", "c_ids") == rows(built.arrays, "c_id", "c_ids"))
  }

  test("buildLshIndex shingles its input once across the arrays and buckets writes") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val touched = spark.sparkContext.longAccumulator("lsh-index-input")
    val tap = udf((s: String) => { touched.add(1); s })
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_write").toString
    Dedup.buildLshIndex(docs.withColumn("text", tap(col("text"))), "doc_id", "text", dir)
    assert(touched.value == docs.count(), s"input rows read ${touched.value} times for ${docs.count()} docs")
  }

  test("lshIndexPairs persists nothing") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // a batch no other test in this suite pairs, so no earlier pin can
    // serve it from the cache
    val oldDocs = docs.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val newDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_pin").toString
    Dedup.buildLshIndex(oldDocs, "doc_id", "text", dir)
    val left = persistedBy(Dedup.lshIndexPairs(spark, newDocs, "doc_id", "text", dir).collect())
    assert(left.isEmpty, s"lshIndexPairs left persisted RDDs $left")
  }

  /** The fixture's docs with `doc_id % 10 == r` as a batch, and a fresh
    * index dir holding all the other docs. */
  private def indexedBatch(r: Int): (org.apache.spark.sql.DataFrame, String) = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_jobs").toString
    Dedup.buildLshIndex(docs.filter(pmod(col("doc_id"), lit(10)) =!= r), "doc_id", "text", dir)
    (docs.filter(pmod(col("doc_id"), lit(10)) === r), dir)
  }

  test("appendToLshIndex of a batch starts at most 2 jobs, one per table written") {
    val (batch, dir) = indexedBatch(6)
    val jobs = Listeners.jobsStarted(spark.sparkContext)(
      Dedup.appendToLshIndex(batch, "doc_id", "text", dir))
    assert(jobs <= 2, s"appendToLshIndex started $jobs jobs")
  }

  test("lshIndexPairs of a batch collects in at most 4 jobs") {
    val (batch, dir) = indexedBatch(8)
    val jobs = Listeners.jobsStarted(spark.sparkContext)(
      Dedup.lshIndexPairs(spark, batch, "doc_id", "text", dir).collect())
    assert(jobs <= 4, s"lshIndexPairs started $jobs jobs")
  }
}

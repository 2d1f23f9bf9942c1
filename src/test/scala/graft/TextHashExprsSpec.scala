package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextHashExprs, VectorExprs}
import graft.operators.{Dedup, NgramSpans, TextOps}

/** Native text-hash kernels vs their lambda-fold baselines: bit-identical
  * results on the fixture corpus AND on hostile inputs (null arrays, null
  * elements, short rows), plus whole-stage-codegen participation — the
  * FloatVectorDot/HyperplaneSignature parity contract extended to the
  * LSH band-signature, shingle-window, and window-md5 kernels.
  */
class TextHashExprsSpec extends SparkSpec {

  private lazy val docs = sources.Tables.open(spark, sf, "documents")

  /** (doc_id, ids) sorted shingle-hash arrays — the exact bandSigs input
    * shape (shared with minHashLSH), including docs whose short text
    * yields an EMPTY array downstreams must agree on.
    */
  private lazy val idArrays = {
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        array_sort(array_distinct(transform(
          TextOps.shinglesFold(col("__toks"), 2), x => xxhash64(x)))).as("ids"))
  }

  test("native LSH band signatures are bit-identical to the fold on every fixture doc") {
    val both = idArrays.select(
      Dedup.bandSigsFold(col("ids"), 8, 4, 42L).as("fold"),
      TextHashExprs.lshBandSigs(col("ids"), 8, 4, 42L).as("native"))
    assert(both.filter(!(col("fold") <=> col("native"))).count() == 0)
    // non-trivial: signatures must vary across docs
    assert(idArrays.select(TextHashExprs.lshBandSigs(col("ids"), 8, 4, 42L).as("s"))
      .select(explode(col("s")).as("b")).select(col("b.bsig")).distinct().count() > 8)
  }

  test("native LSH band signatures match the fold on hostile arrays") {
    import spark.implicits._
    // null array, empty array, null element, single element — the fold's
    // null-skipping xxhash64 semantics and the bare-seed bsig (42) for
    // element-less mins must all reproduce
    val weird = Seq(
      (1, Some(Seq[java.lang.Long](7L, 11L))),
      (2, Some(Seq.empty[java.lang.Long])),
      (3, Option.empty[Seq[java.lang.Long]]),
      (4, Some(Seq[java.lang.Long](null, 5L))),
      (5, Some(Seq[java.lang.Long](Long.MinValue, Long.MaxValue))))
      .toDF("id", "ids")
    val both = weird.select(col("id"),
      Dedup.bandSigsFold(col("ids"), 3, 2, 99L).as("fold"),
      TextHashExprs.lshBandSigs(col("ids"), 3, 2, 99L).as("native"))
    assert(both.filter(!(col("fold") <=> col("native"))).count() == 0)
  }

  test("native token windows are value-identical to the shingles fold") {
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
    val both = toks.select(
      TextOps.shinglesFold(col("__toks"), 2).as("fold"),
      TextHashExprs.tokenWindows(col("__toks"), 2).as("native"))
    assert(both.filter(!(col("fold") <=> col("native"))).count() == 0)
    // hostile: null array (both NULL under the ANSI size(NULL) contract),
    // short row (both empty), null element (concat_ws skips it)
    import spark.implicits._
    val weird = Seq(
      (1, Some(Seq("a", "b", "c"))),
      (2, Option.empty[Seq[String]]),
      (3, Some(Seq("only"))),
      (4, Some(Seq[String]("a", null, "b"))),
      (5, Some(Seq.empty[String])))
      .toDF("id", "t")
    val rows = weird.select(col("id"),
      TextOps.shinglesFold(col("t"), 3).as("fold"),
      TextHashExprs.tokenWindows(col("t"), 3).as("native"))
    assert(rows.filter(!(col("fold") <=> col("native"))).count() == 0)
  }

  test("native window md5s are value-identical to the guarded fold") {
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
    val both = toks.select(
      when(col("n_tokens") >= 8, NgramSpans.windowHashesFold(8))
        .otherwise(array().cast("array<string>")).as("fold"),
      TextHashExprs.tokenWindowMd5s(col("__toks"), 8).as("native"))
    assert(both.filter(!(col("fold") <=> col("native"))).count() == 0)
    // and the md5 hex itself matches Spark's md5 on a known window
    import spark.implicits._
    val one = Seq(Seq("w1", "w2")).toDF("t")
      .select(TextHashExprs.tokenWindowMd5s(col("t"), 2).as("m"),
        md5(lit("w1 w2").cast("binary")).as("ref")).head()
    assert(one.getSeq[String](0) == Seq(one.getString(1)))
  }

  test("map-side winnow equals the explode+window shuffle form on the fixture") {
    val native = TextOps.winnowFingerprints(docs, "doc_id", "text", 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val shuffle = TextOps.winnowFingerprintsShuffle(docs, "doc_id", "text", 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(native == shuffle)
    assert(native.nonEmpty)
  }

  test("winnow kernel handles hostile token arrays like the shuffle form") {
    import spark.implicits._
    // shorter than k (no row), exactly k (one clipped window), between k
    // and k+window (clipped min), exactly one full window, several full
    // windows with repeats (distinct), null text (no row), empty string
    // (single empty token -> shorter than k)
    val weird = Seq(
      (1L, "a b"), (2L, "a b c"), (3L, "a b c d"), (4L, "a b c d e f"),
      (5L, "x x x x x x x x x x"), (6L, null.asInstanceOf[String]), (7L, ""))
      .toDF("doc_id", "text")
    val native = TextOps.winnowFingerprints(weird, "doc_id", "text", 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val shuffle = TextOps.winnowFingerprintsShuffle(weird, "doc_id", "text", 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(native == shuffle)
    // and the absent-row contract: 1, 6 and 7 have no k-gram at all
    assert(!native.exists(t => Set(1L, 6L, 7L)(t._1)))
    // local library twin agrees too (first-occurrence-distinct order)
    val mins = TextOps.winnow(IndexedSeq("a", "b", "c", "d", "e", "f"), 3, 4)
    val row4 = native.find(_._1 == 4L).get
    assert(row4._2 == mins.distinct.size && row4._3 == mins.min)
  }

  test("map-side fingerprint equals the grouped shuffle form incl. hostile docs") {
    val native = TextOps.fingerprint(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val shuffle = TextOps.fingerprintShuffle(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(native == shuffle)
    assert(native.nonEmpty)
    import spark.implicits._
    val weird = Seq(
      (1L, "one"), (2L, "a b a b a b"), (3L, null.asInstanceOf[String]),
      (4L, ""), (5L, "x y"))
      .toDF("doc_id", "text")
    val n2 = TextOps.fingerprint(weird, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val s2 = TextOps.fingerprintShuffle(weird, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(n2 == s2)
    assert(!n2.exists(t => Set(1L, 3L, 4L)(t._1))) // no bigram -> absent
  }

  test("map-side shingle-hash arrays equal the explode+distinct+groupBy form incl. hostile docs") {
    import spark.implicits._
    // the shuffle form every LSH path built its arrays with before they
    // became a per-row projection, kept as the parity reference
    def grouped(df: org.apache.spark.sql.DataFrame, n: Int) =
      TextOps.shingleSet(df, "doc_id", "text", n)
        .groupBy(col("doc_id")).agg(sort_array(collect_list(xxhash64(col("sh")))).as("ids"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fixture = rows(Dedup.shingleIdArrays(docs, "doc_id", "text", 2))
    assert(fixture.nonEmpty && fixture == rows(grouped(docs, 2)))
    // empty, spaces only, one token, a repeated bigram, tabs, NBSP (not a
    // `\s` split point), null text, one bigram
    val weird = Seq(
      (1L, ""), (2L, "   "), (3L, "one"), (4L, "a b a b a b"), (5L, "a\tb\t\tc a"),
      (6L, "a\u00a0b c a\u00a0b c"), (7L, null.asInstanceOf[String]), (8L, "x y"))
      .toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3))
      assert(rows(Dedup.shingleIdArrays(weird, "doc_id", "text", n)) == rows(grouped(weird, n)), s"n = $n")
    val bigrams = rows(Dedup.shingleIdArrays(weird, "doc_id", "text", 2))
    assert(!bigrams.keySet.exists(Set(1L, 2L, 3L, 7L)), s"shingle-less docs kept: ${bigrams.keySet}")
    assert(bigrams(4L).size == 2 && bigrams(6L).size == 2 && bigrams(8L).size == 1)
  }

  test("the native kernels participate in whole-stage codegen") {
    // the input must itself be codegen-friendly (a HOF-built array would
    // break the span upstream of the expression under test)
    val plan = docs
      .select(array(xxhash64(col("text")), xxhash64(col("doc_id"))).as("ids"))
      .select(TextHashExprs.lshBandSigs(col("ids"), 8, 4, 42L).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_lsh_band_sigs"), s"no codegen span:\n$plan")
    val plan2 = docs
      .select(TextHashExprs.tokenWindows(TextOps.tokens(col("text")), 2).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan2.contains("*(1) Project [graft_token_windows"), s"no codegen span:\n$plan2")
    val plan3 = docs
      .select(TextHashExprs.winnowMinMd5s(TextOps.tokens(col("text")), 3, 4).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan3.contains("*(1) Project [graft_winnow_min_md5s"), s"no codegen span:\n$plan3")
  }
}

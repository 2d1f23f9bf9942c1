package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, struct}

import graft.functions._
import graft.operators.{NextK, SketchTables, SortKey}

/** graft's column helpers build their Catalyst expressions directly, so
  * they resolve on a session nobody prepared — no registered function,
  * no `GraftExtensions` — and the operators leave the caller's function
  * registry exactly as they found it.
  */
class FreshSessionSpec extends SparkSpec {

  /** `body` on a new session over the shared SparkContext, built without
    * the extension (clear default/active so getOrCreate builds anew;
    * never stop it — that would stop the shared context).
    */
  private def onFreshSession[T](body: SparkSession => T): T = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = SparkSession.builder().getOrCreate()
      assert(fresh ne shared)
      body(fresh)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  private def graftFunctions(s: SparkSession): Seq[String] =
    GraftExtensions.functionTable.map(_._1).filter(s.catalog.functionExists)

  test("every column helper resolves on a session with no registry entries and no extension") {
    onFreshSession { fresh =>
      import fresh.implicits._
      assert(graftFunctions(fresh).isEmpty)
      val r = Seq((Seq(1.5f, 2.0f), Seq(3.0f, 0.5f), Seq("a", "b", "c"), Seq(1L, 2L)))
        .toDF("v", "w", "toks", "ids")
        .select(
          VectorExprs.fdot(col("v"), col("w")),
          VectorExprs.nearestCentroids(col("v"), Seq(Seq(0.0, 0.0), Seq(1.0, 2.0)), 1),
          VectorExprs.hyperplaneSig(col("v"), Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0))),
          TextHashExprs.lshBandSigs(col("ids"), 2, 1, 7L),
          TextHashExprs.tokenWindows(col("toks"), 2),
          TextHashExprs.tokenWindowMd5s(col("toks"), 2),
          TextHashExprs.winnowMinMd5s(col("toks"), 2, 4))
        .head()
      val md5s = Seq("a b", "b c").map(w => org.apache.commons.codec.digest.DigestUtils.md5Hex(w))
      assert(r.getDouble(0) == 1.5 * 3.0 + 2.0 * 0.5)
      assert(r.getSeq[Int](1) == Seq(1), "(1.5, 2) is nearest centroid 1")
      assert(r.getLong(2) == 1L, "positive projection on plane 0 only")
      assert(r.getSeq[org.apache.spark.sql.Row](3).map(_.getInt(0)) == Seq(0, 1))
      assert(r.getSeq[String](4) == Seq("a b", "b c"))
      assert(r.getSeq[String](5) == md5s)
      assert(r.getSeq[String](6) == Seq(md5s.min), "two 2-grams in one window: the minimum")

      val keys = Seq("a", "a", "b").toDF("s")
      val a = keys.agg(
        MisraGries.sketch(col("s"), 4),
        MisraGries.sketchStruct(Seq(col("s")), 4),
        NextKPage.page(struct(col("s")), Seq(true), 5)).head()
      assert(a.getMap[String, Long](0) == Map("a" -> 2L, "b" -> 1L))
      assert(a.getMap[org.apache.spark.sql.Row, Long](1).map { case (k, n) => k.getString(0) -> n } ==
        Map("a" -> 2L, "b" -> 1L))
      assert(a.getSeq[org.apache.spark.sql.Row](2)
        .map(e => (e.getStruct(0).getString(0), e.getLong(1))) == Seq(("a", 2L), ("b", 1L)))

      val table = Seq(1L, 1L, 2L).toDF("n").withColumn("g", lit(0))
        .groupBy(col("g")).agg(DataSketchAggs.cmsSketch(col("n"), 5, 64, 42).as("cms"))
      val merged = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        table.agg(DataSketchAggs.cmsMerge(col("cms"))).head().getAs[Array[Byte]](0))
      assert(merged.totalCount() == 3L && merged.estimateCount(1L) >= 2L)

      assert(NextK.page(keys, Seq(SortKey("s")), None, 1).collect().map(_.getString(0)).toSeq == Seq("a"))
      SketchTables.cmsRollup(SketchTables.cmsTable(table.select(col("g"), lit(1L).as("n")), Seq("g"), "n"),
        Nil).collect()
      assert(graftFunctions(fresh).isEmpty, "an operator wrote graft functions into the caller's registry")
    }
  }

  test("an operator leaves a user's own temp function of a graft name in place") {
    onFreshSession { fresh =>
      import fresh.implicits._
      fresh.udf.register("graft_fdot", (x: Int) => x + 100)
      NextK.page(Seq(3, 1, 2).toDF("x"), Seq(SortKey("x")), None, 2).collect()
      assert(fresh.sql("SELECT graft_fdot(1)").head().getInt(0) == 101)
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Tables

/** Operator-level checks at sf0.001 — the reference's per-sketch unit-test
  * layer (SURVEY.md §5): histogram bucket totals, NextK ordering/dedup,
  * heavy-hitter guarantees, set-op algebra, filter pushdown shape.
  */
class CoreOpsSpec extends SparkSpec {

  private lazy val li = Tables.open(spark, sf, "lineitem").cache()

  test("entry returns a non-empty page") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("stratified sample hits per-stratum fractions and is seed-deterministic") {
    val fr = Map("A" -> 0.1, "N" -> 0.02, "R" -> 0.1)
    val base = li.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val s1 = Sampling.stratified(li, "l_returnflag", fr, 7L)
    val got = s1.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    fr.foreach { case (k, f) =>
      val expected = base(k) * f
      assert(math.abs(got.getOrElse(k, 0L) - expected) <= 4 * math.sqrt(expected) + 5,
        s"stratum $k: got ${got.get(k)}, expected ~$expected of ${base(k)}")
    }
    assert(got.keySet == fr.keySet, "strata with no fraction must be dropped")
    val s2 = Sampling.stratified(li, "l_returnflag", fr, 7L)
    assert(s1.select("l_orderkey", "l_linenumber").collect().toSet ==
      s2.select("l_orderkey", "l_linenumber").collect().toSet,
      "same seed must select the same rows")
  }

  test("uniformPerGroup: exactly k per group, window parity, partition-invariant") {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    val k = 5
    val got = Sampling.uniformPerGroup(docs, "lang", "doc_id", k, seed = 9L)
    // exactly min(k, |group|) rows per group
    val sizes = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotSizes = got.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotSizes.keySet == sizes.keySet)
    sizes.foreach { case (g, n) =>
      assert(gotSizes(g) == math.min(k.toLong, n), s"group $g: ${gotSizes(g)} of $n")
    }
    // parity with the window-rank form it replaces
    val win = docs
      .withColumn("__h", xxhash64(col("doc_id"), lit(9L)))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("__h"), col("doc_id"))))
      .filter(col("__rk") <= k)
      .select("lang", "doc_id", "n_chars")
    assert(got.select("lang", "doc_id", "n_chars").collect().toSet ==
      win.collect().toSet)
    // payload survives: n_chars must match the source row
    val joined = got.as("g").join(docs.as("d"), Seq("doc_id"))
      .filter(col("g.n_chars") =!= col("d.n_chars")).count()
    assert(joined == 0)
    // deterministic under any physical partitioning
    val re = Sampling.uniformPerGroup(docs.repartition(13, col("doc_id")),
      "lang", "doc_id", k, seed = 9L)
    assert(re.select("lang", "doc_id").collect().toSet ==
      got.select("lang", "doc_id").collect().toSet)
  }

  test("uniformPerGroup: inclusion is seed-uniform (no positional bias)") {
    import spark.implicits._
    val n = 200
    val rows = (0 until n).map(i => (i.toLong, "g")).toDF("id", "grp")
    val k = 20
    val counts = new Array[Int](n)
    for (seed <- 1L to 12L)
      Sampling.uniformPerGroup(rows, "grp", "id", k, seed)
        .select("id").as[Long].collect().foreach(i => counts(i.toInt) += 1)
    assert(counts.sum == 12 * k)
    // each row's inclusion count is Binomial(12, 0.1)-ish: a count of 8+
    // has p ~ 2e-6 per row — a hash hot spot, not chance
    assert(counts.max <= 8, s"row included ${counts.max} of 12 times")
    // no id-order bias: the two halves split the 240 inclusions evenly
    val lo = counts.take(n / 2).sum
    assert(math.abs(lo - 120) < 60, s"low-id half got $lo of 240 inclusions")
  }

  test("distributed exact quantiles equal the percentile aggregate; table() stacks them") {
    val probs = Seq(0.25, 0.5, 0.75)
    val dist = Quantiles.exact(li, "l_extendedprice", probs).head()
    val agg = li.agg(percentile(col("l_extendedprice"), typedlit(probs)).as("q"))
      .select(probs.zipWithIndex.map { case (p, i) =>
        round(element_at(col("q"), i + 1), 6).as(s"p${(p * 100).round}")
      }: _*).head()
    assert(dist == agg, s"sort-select $dist vs percentile buffer $agg")
    val empty = Quantiles.exact(li.filter(lit(false)), "l_extendedprice", probs).head()
    assert(probs.indices.forall(empty.isNullAt), "empty input must yield nulls")
    val tab = Quantiles.table(li, "l_extendedprice", 4).head()
    assert(tab.getDouble(0) == dist.getDouble(0) && tab.getDouble(2) == dist.getDouble(2),
      "scroll-bar table must reuse the same cut points")
    // q > 100 must produce distinct positional names, not an ambiguous select
    val wide = Quantiles.table(li.limit(500), "l_extendedprice", 128)
    assert(wide.columns.distinct.length == 127)
    assert(wide.count() == 1)
    // a probability outside [0, 1] names no rank: rejected before any pass
    for (bad <- Seq(1.5, -0.1)) {
      val e = intercept[IllegalArgumentException] {
        Quantiles.exact(li.limit(10), "l_extendedprice", Seq(bad))
      }
      assert(e.getMessage.contains("probs must be in [0, 1]"), e.getMessage)
    }
  }

  test("exact quantiles keep percentile's NaN-ranks-last semantics") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, Double.NaN).toDF("x")
    val dist = Quantiles.exact(df, "x", Seq(0.5, 1.0)).head()
    val agg = df.agg(percentile(col("x"), typedlit(Seq(0.5, 1.0))).as("q"))
      .select(element_at(col("q"), 1).as("m"), element_at(col("q"), 2).as("mx")).head()
    assert(dist.getDouble(0) == agg.getDouble(0), "median must match percentile")
    assert(dist.getDouble(1).isNaN && agg.getDouble(1).isNaN,
      "p100 of a NaN-bearing column is NaN on both paths")
  }

  test("every query runs at sf0.001 and yields a well-formed result") {
    // one scope per row, as the harnesses run them: the row's pins
    // persist while it counts and are released when it returns
    SparkEntry.queries.foreach { case (name, fn) =>
      CacheScope.scoped {
        val df = fn(spark, sf)
        assert(df.columns.nonEmpty, s"$name has no columns")
        assert(df.count() >= 0, s"$name failed to execute")
      }
    }
  }

  test("oracleSql keys are a subset of queries") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("histogram buckets partition the in-range rows") {
    val total = li.filter(col("l_extendedprice").between(900, 105000)).count()
    val h = Histograms.histogram1d(li, "l_extendedprice", 900.0, 105000.0, 40)
    val sum = h.agg(org.apache.spark.sql.functions.sum("cnt")).head.getLong(0)
    assert(sum == total)
    val buckets = h.select("bucket").collect().map(_.getInt(0))
    assert(buckets.forall(b => b >= 0 && b < 40))
  }

  test("sampled histogram tracks exact within the resolution bound") {
    // paper §4.1: at rate ≥ pixelHeight²·buckets/N the sampled histogram is
    // visually exact; assert every scaled bucket within 4·sqrt(expected)
    // of truth (loose Chernoff envelope, seeded sample → deterministic)
    val li = sources.Tables.open(spark, sf, "lineitem")
    val exact = Histograms.histogram1d(li, "l_extendedprice", 900.0, 105000.0, 20)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sampled = Histograms
      .histogram1dSampled(li, "l_extendedprice", 900.0, 105000.0, 20, rate = 0.5)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    exact.foreach { case (b, cnt) =>
      val est = sampled.getOrElse(b, 0L).toDouble
      assert(math.abs(est - cnt) <= 4 * math.sqrt(cnt.toDouble / 0.5) + 8,
        s"bucket $b: est=$est exact=$cnt")
    }
  }

  test("equi-depth histogram: near-equal depths on distinct values, ties stay whole") {
    import spark.implicits._
    // 1000 distinct values: every bucket must hold exactly n/k rows
    val distinctVals = (1 to 1000).map(_.toDouble).toDF("x")
    val even = graft.operators.Histograms.equiDepth(distinctVals, "x", 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(even.keySet == (0 until 8).toSet)
    assert(even.values.forall(_ == 125L), s"distinct values must split evenly: $even")
    // a dominant tie value cannot straddle buckets — all its rows land in one
    val tied = (Seq.fill(900)(5.0) ++ (1 to 100).map(_ + 10.0)).toDF("x")
    val tiedHist = graft.operators.Histograms.equiDepth(tied, "x", 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val five = tiedHist.filter(t => t._3 <= 5.0 && t._4 >= 5.0)
    assert(five.length == 1 && five.head._2 == 900L,
      s"the tie block must stay in one bucket: ${tiedHist.toSeq}")
    assert(tiedHist.map(_._2).sum == 1000L)
  }

  test("per-group equi-depth: groups bin independently; null/all-null groups drop") {
    import spark.implicits._
    // group a: 100 distinct values -> 4 exact quartile buckets of 25;
    // group b: a shifted copy — its boundaries must come from ITS values;
    // group c: all-null values; plus a null group key — both dropped
    val rows =
      (1 to 100).map(i => (Some("a"), Some(i.toDouble))) ++
      (1 to 100).map(i => (Some("b"), Some(i + 1000.0))) ++
      Seq.fill(5)((Some("c"), Option.empty[Double])) ++
      Seq((Option.empty[String], Some(7.0)))
    val got = graft.operators.Histograms
      .equiDepthPerGroup(rows.toDF("g", "x"), "g", "x", 4)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == (for (g <- Seq("a", "b"); b <- 0 until 4) yield (g, b)).toSet,
      s"null-keyed and all-null groups must drop: ${got.keySet}")
    assert(got.values.forall(_._1 == 25L), s"distinct values split evenly: $got")
    // group-local boundaries: b's buckets live in b's value range
    assert(got(("b", 0))._2 == 1001.0 && got(("b", 3))._3 == 1100.0, s"$got")
    // parity with the single-group operator applied to one group alone
    val solo = graft.operators.Histograms
      .equiDepth(rows.filter(_._1.contains("a")).toDF("g", "x"), "x", 4)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    (0 until 4).foreach { b =>
      assert(solo(b) == got(("a", b)), s"bucket $b: ${solo(b)} vs ${got(("a", b))}")
    }
  }

  test("string-range histogram partitions all non-null rows") {
    val cust = sources.Tables.open(spark, sf, "customer")
    val h = Histograms.histogramStringRanges(cust, "c_name",
      Seq("Customer#000000100", "Customer#000000500"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(h.values.sum == cust.filter(col("c_name").isNotNull).count())
    // boundary membership spot check
    val below = cust.filter(col("c_name") < "Customer#000000100").count()
    assert(h.getOrElse(-1, 0L) == below)
  }

  test("cdf is monotone and ends at the in-range total") {
    val c = Histograms.cdf(li, "l_extendedprice", 900.0, 105000.0, 40)
      .select("cum_cnt").collect().map(_.getLong(0))
    assert(c.zip(c.tail).forall { case (a, b) => a <= b })
    assert(c.last == li.filter(col("l_extendedprice").between(900, 105000)).count())
  }

  test("NextK pages tile the table: page rows are distinct and ordered") {
    val page = NextK.page(li, Seq(SortKey("l_shipdate"), SortKey("l_orderkey")), None, 50)
      .collect()
    assert(page.length == 50)
    // parquet timestamp[ms] (no tz) loads as TIMESTAMP_NTZ => LocalDateTime
    val keys = page.map { r =>
      (r.getAs[java.time.LocalDateTime](0).toEpochSecond(java.time.ZoneOffset.UTC),
        r.getLong(1))
    }
    assert(keys.distinct.length == keys.length, "dedup failed")
    assert(keys.sameElements(keys.sorted), "page not in order")
  }

  test("NextK counts sum to the number of covered physical rows") {
    val page = NextK.page(li, Seq(SortKey("l_returnflag")), None, 10).collect()
    val total = page.map(_.getAs[Long]("cnt")).sum
    assert(total == li.count(), "3 flags => one page covers everything")
  }

  test("NextK bounded page sketch equals the unbounded groupBy model (randomized)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    // the bounded per-partition buffer must be EXACT, not approximate:
    // randomized skewed keys (with nulls), mixed asc/desc, many partitions
    val rnd = new scala.util.Random(23L)
    val rows = Seq.fill(3000)((
      if (rnd.nextInt(12) == 0) null else s"g${rnd.nextInt(40)}",
      rnd.nextInt(25).toLong))
    for (parts <- Seq(1, 3, 13);
         order <- Seq(Seq(SortKey("s"), SortKey("v")),
                      Seq(SortKey("v", asc = false), SortKey("s")))) {
      val df = rows.toDF("s", "v").repartition(parts)
      val got = NextK.page(df, order, None, 15).collect().toSeq.map(_.toSeq)
      val model = df.groupBy(order.map(o => col(o.name)): _*)
        .agg(count(lit(1)).as("cnt"))
        .orderBy(order.map(_.toCol): _*)
        .limit(15)
        .select((order.map(o => col(o.name)) :+ col("cnt")): _*)
        .collect().toSeq.map(_.toSeq)
      assert(got == model, s"parts=$parts order=$order\n got=$got\n model=$model")
    }
  }

  test("graft_nextk_page skips a null struct input instead of NPE-ing the task") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    // NextK.page always feeds CreateStruct (never null), but SQL and
    // direct `NextKPage.page` callers can hand it a nullable struct —
    // null must count as a skipped row, like any agg input
    val df = Seq(Some("a"), None, Some("b"), Some("a"), None)
      .toDF("s").repartition(2)
    val page = df
      .agg(graft.functions.NextKPage.page(
        expr("if(s is not null, struct(s), null)"), Seq(true), 5).as("pg"))
      .selectExpr("inline(pg)")
      .collect().map(r => (r.getStruct(0).getString(0), r.getLong(1))).toSeq
    assert(page == Seq(("a", 2L), ("b", 1L)), s"got $page")
  }

  test("NextK page groups 0.0 with -0.0 and NaN with NaN, like the groupBy plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    // groupBy keys pass through NormalizeFloatingNumbers; the bounded
    // aggregate normalizes its key projection the same way — without it,
    // 0.0/-0.0 are distinct UnsafeRow bytes and the page splits counts
    val df = Seq(0.0, -0.0, 0.0, 1.5, Double.NaN, Double.NaN)
      .toDF("v").repartition(3)
    val order = Seq(SortKey("v"))
    // compare via string rendering: Scala == on NaN is false even for
    // identical rows, which is exactly what this test exercises
    val got = NextK.page(df, order, None, 10).collect().toSeq.map(_.toSeq.map(String.valueOf))
    val model = df.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .orderBy(order.map(_.toCol): _*)
      .collect().toSeq.map(_.toSeq.map(String.valueOf))
    assert(got == model, s"got=$got model=$model")
    assert(got.contains(Seq("0.0", "3")), s"0.0/-0.0 not merged: $got")
    assert(got.contains(Seq("NaN", "2")), s"NaNs not merged: $got")
  }

  test("heavy hitters exact: no false negatives above threshold") {
    val thresh = 5L
    val got = HeavyHitters.exact(li, Seq("l_partkey"), thresh, 100000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = li.groupBy("l_partkey").count()
      .filter(col("count") >= thresh)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == truth)
  }

  test("filterToHeavy keeps exactly the rows of heavy keys") {
    val kept = HeavyHitters.filterToHeavy(li, Seq("l_partkey"), 5L).count()
    val truth = li.groupBy("l_partkey").count().filter(col("count") >= 5)
      .agg(sum("count")).head.getLong(0)
    assert(kept == truth)
  }

  test("twoPhase equals the exact heavy set, including NULL and separator-laden keys") {
    import spark.implicits._
    // heavy groups: (a,1) x5, (b,2) x4, (d,NULL) x3, ("x|y","z") x3;
    // light: (c,3) x1. The struct-keyed sketch + null-safe probe/join must
    // return ALL heavy tuples — the old string rendering silently dropped
    // the null-keyed one and was ambiguous under separator content.
    val rows = Seq.fill(5)(("a", "1")) ++ Seq.fill(4)(("b", "2")) ++
      Seq(("c", "3")) ++ Seq.fill(3)(("d", null)) ++ Seq.fill(3)(("x|y", "z"))
    val df = rows.toDF("k1", "k2")
    val heavy = HeavyHitters.twoPhase(df, Seq("k1", "k2"), k = 10, minCount = 3L)
      .groupBy("k1", "k2").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(heavy == Map(("a", "1") -> 5L, ("b", "2") -> 4L,
      ("d", null) -> 3L, ("x|y", "z") -> 3L), heavy.toString)
  }

  test("set-op views obey inclusion-exclusion") {
    val a = col("l_quantity") > 45
    val b = col("l_discount") >= 0.09
    val nU = SetOps.unionView(li, a, b).count()
    val nI = SetOps.intersectView(li, a, b).count()
    val nA = li.filter(a).count()
    val nB = li.filter(b).count()
    assert(nU == nA + nB - nI)
    assert(SetOps.minusView(li, a, b).count() == nA - nI)
  }

  test("rowAtLeast matches brute-force tuple comparison") {
    val order = Seq(SortKey("l_returnflag"), SortKey("l_quantity", asc = false),
      SortKey("l_orderkey"))
    val start = Seq(lit("N"), lit(30.0), lit(500L))
    val got = li.filter(Filters.rowAtLeast(order, start)).count()
    val brute = li.collect().count { r =>
      val rf = r.getAs[String]("l_returnflag")
      val q = r.getAs[Double]("l_quantity")
      val k = r.getAs[Long]("l_orderkey")
      rf > "N" || (rf == "N" && (q < 30.0 || (q == 30.0 && k >= 500)))
    }
    assert(got == brute)
  }

  test("approx distinct is within rsd bounds of exact") {
    val exact = li.select("l_partkey").distinct().count().toDouble
    val approx = DistinctOps.approxDistinctCount(li, "l_partkey", 0.05)
      .head.getLong(0).toDouble
    assert(math.abs(approx - exact) / exact < 0.2, s"approx=$approx exact=$exact")
  }

  test("resolution-aware sampling rate formula") {
    val s = new ViewSession(spark)
    assert(s.samplingRate(1000000000L, 100, 40) < 1.0)
    assert(s.samplingRate(100L, 100, 40) == 1.0)
    val r = s.samplingRate(2000000L, 100, 40, c = 5.0)
    assert(math.abs(r - 1.0) < 1e-9)
  }

  // These two use `orders` (uncached) — the cached lineitem would satisfy
  // the plan from InMemoryRelation and hide the scan.
  test("filters push down to the parquet scan") {
    val plan = Filters.range(Tables.open(spark, sf, "orders"), "o_totalprice", 1000, 2000)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThanOrEqual(o_totalprice"),
      s"no pushdown evidence in plan:\n$plan")
  }

  test("projection prunes the read schema") {
    val plan = Projections.project(Tables.open(spark, sf, "orders"),
      Seq("o_orderkey", "o_totalprice"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"projection not pruned:\n$plan")
  }
}

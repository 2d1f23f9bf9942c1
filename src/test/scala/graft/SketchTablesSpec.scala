package graft

import org.apache.spark.sql.functions._
import graft.operators.SketchTables

/** Mergeable sketch tables (HLL, theta, KLL): accuracy at fixture
  * cardinalities and — the load-bearing property — rollup-by-merge
  * consistency with direct sketching of the coarser grain.
  */
class SketchTablesSpec extends SparkSpec {

  private lazy val events = graft.sources.Tables.open(spark, sf, "events")
    .withColumn("day", to_date(col("ts")))
    .withColumn("week", date_trunc("week", col("ts")).cast("date"))

  test("per-day estimates land within HLL error of exact distinct counts") {
    val est = SketchTables.hllEstimate(
        SketchTables.hllTable(events, Seq("day"), "user_id"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val exact = events.groupBy("day")
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (d, n) =>
      val e = est(d)
      // lgK=12 → rsd ≈ 1.04/sqrt(4096) ≈ 1.6%; allow 5 sigma + slack for
      // tiny-set coupon mode
      assert(math.abs(e - n) <= math.max(2.0, 0.1 * n),
        s"day $d: estimate $e vs exact $n")
    }
  }

  test("weekly rollup by sketch MERGE equals direct weekly sketching") {
    val daily = SketchTables.hllTable(events, Seq("week", "day"), "user_id")
    val merged = SketchTables.hllEstimate(
        SketchTables.hllRollup(daily, Seq("week")))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val direct = SketchTables.hllEstimate(
        SketchTables.hllTable(events, Seq("week"), "user_id"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(merged.keySet == direct.keySet)
    // union of a partition of the data is the SAME distinct set — the
    // sketch algebra must agree with direct sketching up to HLL mode
    // promotions (tiny tolerance, usually exact)
    merged.foreach { case (w, m) =>
      val d = direct(w)
      assert(math.abs(m - d) <= math.max(1.0, 0.02 * d),
        s"week $w: merged $m vs direct $d")
    }
  }

  test("sketch table survives a parquet round trip (build once, serve later)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hll").toString
    val daily = SketchTables.hllTable(events, Seq("day"), "user_id")
    daily.write.mode("overwrite").parquet(dir)
    val served = SketchTables.hllEstimate(
        SketchTables.hllRollup(spark.read.parquet(dir), Seq("day")))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val direct = SketchTables.hllEstimate(daily)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(served == direct)
  }

  test("theta tables: exact-mode estimates, rollup-by-union, parquet round trip") {
    // fixture cardinalities sit far below 2^12 nominal entries, so the
    // sketches are in EXACT mode: estimates must EQUAL exact distincts
    val perDay = SketchTables.thetaEstimate(
        SketchTables.thetaTable(events, Seq("day"), "user_id"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val exact = events.groupBy("day")
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(perDay == exact)
    // weekly rollup by union ≡ direct weekly sketching (exact mode)
    val daily = SketchTables.thetaTable(events, Seq("week", "day"), "user_id")
    val dir = java.nio.file.Files.createTempDirectory("theta_table").toString
    daily.write.mode("overwrite").parquet(dir)
    val merged = SketchTables.thetaEstimate(
        SketchTables.thetaRollup(spark.read.parquet(dir), Seq("week")))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val direct = SketchTables.thetaEstimate(
        SketchTables.thetaTable(events, Seq("week"), "user_id"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(merged == direct)
  }

  test("theta overlap matrix equals exact set intersections on planted cohorts") {
    import spark.implicits._
    // partial overlaps by construction: A = [0,100), B = [60,200),
    // C = [150,400) — every pairwise intersection/union size is known
    val rows =
      (0L until 100L).map(("A", _)) ++
      (60L until 200L).map(("B", _)) ++
      (150L until 400L).map(("C", _))
    val df = rows.toDF("grp", "uid")
    val got = SketchTables.thetaOverlap(
        SketchTables.thetaTable(df, Seq("grp"), "uid"), "grp")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got(("A", "B")) == ((100L, 140L, 40L, 200L)))
    assert(got(("A", "C")) == ((100L, 250L, 0L, 350L)))
    assert(got(("B", "C")) == ((140L, 250L, 50L, 340L)))
  }

  test("theta difference matrix equals exact set differences on planted cohorts") {
    import spark.implicits._
    val rows =
      (0L until 100L).map(("A", _)) ++
      (60L until 200L).map(("B", _)) ++
      (150L until 400L).map(("C", _))
    val got = SketchTables.thetaDifference(
        SketchTables.thetaTable(rows.toDF("grp", "uid"), Seq("grp"), "uid"), "grp")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // exact mode at these cardinalities: |A\B|=60, |B\A|=100, |A\C|=100,
    // |C\A|=250, |B\C|=90, |C\B|=200 — directed, so all six cells exist
    assert(got == Map(
      ("A", "B") -> 60L, ("B", "A") -> 100L,
      ("A", "C") -> 100L, ("C", "A") -> 250L,
      ("B", "C") -> 90L, ("C", "B") -> 200L))
  }

  test("kll quantile rollup lands within rank error of exact quantiles") {
    val probs = Seq(0.5, 0.95)
    val daily = SketchTables.kllTable(events, Seq("week", "day"), "value")
    val weekly = SketchTables.kllQuantiles(
        SketchTables.kllRollup(daily, Seq("week")), probs)
      .collect().map(r => r.getDate(0).toString -> (r.getDouble(1), r.getDouble(2))).toMap
    // exact per-week sorted values
    val byWeek = events.select(col("week"), col("value"))
      .collect().groupBy(_.getDate(0).toString)
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    assert(weekly.keySet == byWeek.keySet)
    // k = 200 → normalized rank error ~1.65%; assert the estimate's RANK
    // lies within ±3.5% of the requested rank (generous envelope)
    weekly.foreach { case (w, (p50, p95)) =>
      val vs = byWeek(w)
      def rankOf(v: Double): Double = vs.count(_ <= v).toDouble / vs.length
      assert(math.abs(rankOf(p50) - 0.5) <= 0.035, s"week $w p50 rank ${rankOf(p50)}")
      assert(math.abs(rankOf(p95) - 0.95) <= 0.035, s"week $w p95 rank ${rankOf(p95)}")
    }
  }

  test("per-group kll rollup (categorical key) lands within rank error") {
    // the events_value_quantile_rollup_per_group contract: per-(type, day)
    // sketches merged to per-type estimates sit within KLL rank error of
    // each type's exact distribution
    val probs = Seq(0.5, 0.95)
    val daily = SketchTables.kllTable(events, Seq("event_type", "day"), "value")
    val perType = SketchTables.kllQuantiles(
        SketchTables.kllRollup(daily, Seq("event_type")), probs)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val byType = events.select(col("event_type"), col("value"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    assert(perType.keySet == byType.keySet)
    perType.foreach { case (t, (p50, p95)) =>
      val vs = byType(t)
      def rankOf(v: Double): Double = vs.count(_ <= v).toDouble / vs.length
      assert(math.abs(rankOf(p50) - 0.5) <= 0.035, s"type $t p50 rank ${rankOf(p50)}")
      assert(math.abs(rankOf(p95) - 0.95) <= 0.035, s"type $t p95 rank ${rankOf(p95)}")
    }
  }

  test("kll edge cases: NaN and null skipped, all-null groups null, inclusive rank") {
    import spark.implicits._
    // group a: 1..10 plus one NaN and one null; group b: nulls only. Each
    // group is split over two sub-groups so the rollup merges an empty
    // sketch too. At n = 10 the sketch is exact, so the values are fixed.
    val rows = (1 to 10).map(i => ("a", i % 2, Option(i.toDouble))) ++
      Seq(("a", 0, Some(Double.NaN)), ("a", 1, None), ("b", 0, None), ("b", 1, None))
    val df = rows.toDF("grp", "sub", "v")
    val direct = SketchTables.kllQuantiles(
      SketchTables.kllTable(df, Seq("grp"), "v"), Seq(0.5, 0.95))
    val rolled = SketchTables.kllQuantiles(SketchTables.kllRollup(
      SketchTables.kllTable(df, Seq("grp", "sub"), "v"), Seq("grp")), Seq(0.5, 0.95))
    Seq("direct" -> direct, "rollup" -> rolled).foreach { case (how, q) =>
      val got = q.collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
      // inclusive rank: p50 of 1..10 is 5.0 (a counted NaN would make it 6.0)
      assert(got("a") == ((Some(5.0), Some(10.0))), s"$how: ${got("a")}")
      assert(got("b") == ((None, None)), s"$how: ${got("b")}")
    }
    // theta estimates are bigint
    val theta = SketchTables.thetaEstimate(SketchTables.thetaTable(df, Seq("grp"), "sub"))
    assert(theta.schema("n_distinct").dataType == org.apache.spark.sql.types.LongType)
    assert(theta.filter(col("grp") === "a").head().getLong(1) == 2L)
  }
}

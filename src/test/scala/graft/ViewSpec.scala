package graft

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.graftest.Listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.operators.{HeavyHitters, Histograms, Quantiles, Sampling}

/** View/session-layer checks: lineage, sketch memoization, job-group
  * cancellation, progressive partials (the reference's interactive model).
  */
class ViewSpec extends SparkSpec {

  private def newSession = new ViewSession(spark)

  private def jobsStarted(action: => Unit): Int = Listeners.jobsStarted(spark.sparkContext)(action)

  test("child views chain lineage and stay lazy over the parent plan") {
    val s = newSession
    val root = s.open("lineitem", sources.Tables.open(spark, sf, "lineitem"))
    val brushed = s.child(root, "brush")(_.filter(col("l_returnflag") === "R"))
    val zoomed = s.child(brushed, "zoom")(_.filter(col("l_quantity") > 25))
    assert(s.lineage(zoomed) == List(root, brushed, zoomed))
    assert(s(zoomed).df.count() > 0)
    // purge of the middle view must not break the child (plan captured)
    s.purge(brushed)
    assert(s(zoomed).df.count() > 0)
  }

  test("sketch results are memoized per (view, op) and served without recompute") {
    val s = newSession
    val touched = spark.sparkContext.longAccumulator("rows-touched")
    val bump = udf((x: Double) => { touched.add(1L); x })
    val root = s.open("lineitem", sources.Tables.open(spark, sf, "lineitem"))
    def run() = s.sketch(root, "hist:l_extendedprice:40") { df =>
      Histograms.histogram1d(
        df.withColumn("l_extendedprice", bump(col("l_extendedprice"))),
        "l_extendedprice", 900.0, 105000.0, 40)
    }
    val first = run().collect()
    val afterFirst = touched.value
    assert(afterFirst > 0, "first call must scan the data")
    val second = run().collect()
    assert(touched.value == afterFirst, "memo hit must not touch any row")
    assert(s.memoHits == 1)
    assert(first.toSeq == second.toSeq)
  }

  test("sketch memo keys on the op's plan — a reused opKey cannot serve stale results") {
    val s = newSession
    val root = s.open("nation", sources.Tables.open(spark, sf, "nation"))
    val a = s.sketch(root, "count")(_.agg(count(lit(1)).as("n"))).head.getLong(0)
    val b = s.sketch(root, "count")(
      _.filter(col("n_regionkey") === 0).agg(count(lit(1)).as("n"))).head.getLong(0)
    assert(a != b, "same opKey + different op must compute, not replay the memo")
    assert(s.memoHits == 0)
    assert(s.memoSize == 2)
  }

  test("sketch memo evicts least-recently-used entries past the cap") {
    val s = new ViewSession(spark, memoCap = 3)
    val root = s.open("nation", sources.Tables.open(spark, sf, "nation"))
    (0 to 3).foreach { k =>
      s.sketch(root, s"q$k")(_.filter(col("n_nationkey") > k).agg(count(lit(1)).as("n")))
    }
    assert(s.memoSize == 3, "cap must bound the memo")
    // q0 was evicted (oldest); q3 is still resident
    s.sketch(root, "q3")(_.filter(col("n_nationkey") > 3).agg(count(lit(1)).as("n")))
    assert(s.memoHits == 1)
  }

  test("cancel(viewId) aborts a running sketch job") {
    val s = newSession
    val big = s.open("big", spark.range(40L * 1000 * 1000 * 1000).toDF("id"))
    val fut = Future {
      s.sketch(big, "slow-sum")(
        _.agg(sum(sqrt(col("id").cast("double")) * col("id").cast("double"))))
    }
    Thread.sleep(2000) // let the job start
    s.cancel(big)
    val err = intercept[Exception](Await.result(fut, 60.seconds))
    val msg = (err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse("")).toLowerCase
    assert(msg.contains("cancel"), s"expected cancellation, got: $msg")
  }

  test("a memo hit of twoPhase heavy hitters starts no job") {
    val s = newSession
    val root = s.open("lineitem", sources.Tables.open(spark, sf, "lineitem"))
    def run() = s.sketch(root, "hh:l_returnflag,l_linestatus")(
      HeavyHitters.twoPhase(_, Seq("l_returnflag", "l_linestatus"), k = 10, minCount = 100L))
    val first = run().collect()
    var second = Array.empty[org.apache.spark.sql.Row]
    val jobs = jobsStarted { second = run().collect() }
    assert(s.memoHits == 1)
    assert(jobs == 0, s"a memo hit re-ran $jobs jobs")
    assert(first.nonEmpty && first.toSeq == second.toSeq)
  }

  test("sketches and progressive steps release what their ops pin") {
    val s = newSession
    val li = sources.Tables.open(spark, sf, "lineitem")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def perGroup(d: DataFrame) =
      Quantiles.exactPerGroup(d, "l_returnflag", "l_quantity", Seq(0.5, 0.9))
    def budget(d: DataFrame) =
      Sampling.selectByBudget(d, "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", 500L)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    val before = persisted
    // two views of one frame, so both sketches miss: the second can only
    // differ from the first by reading a frame the first left cached
    val first = jobsStarted(s.sketch(s.open("li-a", li), "q")(perGroup))
    assert(persisted == before, "a sketch over exactPerGroup left its binned frame persisted")
    val second = jobsStarted(s.sketch(s.open("li-b", li), "q")(perGroup))
    assert(second == first, s"identical sketches started $first then $second jobs")
    s.sketch(s.open("li-c", li), "budget")(budget)
    assert(persisted == before, "a sketch over selectByBudget left its binned frame persisted")

    val dir = java.nio.file.Files.createTempDirectory("graft_prog_pins").toString
    li.repartition(4).write.mode("overwrite").parquet(dir)
    val steps = s.progressive(s.open("li4", spark.read.parquet(dir)), 4, budget,
      (a: DataFrame, b: DataFrame) => a.unionByName(b).groupBy("l_returnflag").agg(sum("n").as("n")))
    steps.next()
    assert(persisted == before, "a progressive step left its op's pins persisted")
  }

  test("cancel(viewId) aborts a running progressive step") {
    val s = newSession
    val dir = java.nio.file.Files.createTempDirectory("graft_prog_cancel").toString
    spark.range(0L, 400L, 1L, 2).write.mode("overwrite").parquet(dir)
    val root = s.open("slow", spark.read.parquet(dir))
    // ~5 s of sleeping per 200-row slice: long enough to cancel mid-step
    val slow = udf((x: Long) => { Thread.sleep(25); x })
    val steps = s.progressive(root, 2,
      _.agg(sum(slow(col("id"))).as("s")),
      (a: DataFrame, b: DataFrame) => a.unionByName(b).agg(sum("s").as("s")))
    val started = Promise[Unit]()
    val err = Listeners.withListener(spark.sparkContext, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.trySuccess(())
    }) {
      val fut = Future(steps.next())
      Await.result(started.future, 60.seconds)
      s.cancel(root)
      intercept[Exception](Await.result(fut, 60.seconds))
    }
    val msg = (err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse("")).toLowerCase
    assert(msg.contains("cancel"), s"expected cancellation, got: $msg")
  }

  test("each progressive step yields its materialized running result") {
    val s = newSession
    val dir = java.nio.file.Files.createTempDirectory("graft_prog_local").toString
    sources.Tables.open(spark, sf, "lineitem")
      .select("l_orderkey", "l_extendedprice")
      .repartition(8).write.mode("overwrite").parquet(dir)
    val root = s.open("li8", spark.read.parquet(dir))
    def hist(df: DataFrame) = Histograms.histogram1d(df, "l_extendedprice", 900.0, 105000.0, 40)
    val merge = (a: DataFrame, b: DataFrame) =>
      a.unionByName(b).groupBy("bucket").agg(sum("cnt").as("cnt"))
    val it = s.progressive(root, 4, hist, merge)
    val jobsPerStep = scala.collection.mutable.ArrayBuffer.empty[Int]
    var last: DataFrame = null
    while (it.hasNext) {
      jobsPerStep += jobsStarted { last = it.next()._2 }
      assert(last.queryExecution.analyzed.isInstanceOf[LocalRelation],
        s"step result is not materialized:\n${last.queryExecution.analyzed}")
      assert(jobsStarted(last.collect()) == 0, "collecting a step's result started a job")
    }
    assert(jobsPerStep.last <= jobsPerStep(1), s"a step's jobs grow with the step: $jobsPerStep")
    val got = last.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = hist(s(root).df).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == want, "the final running result equals the one-shot sketch")
  }

  test("progressive partials refine monotonically to the exact result") {
    val s = newSession
    val root = s.open("lineitem", sources.Tables.open(spark, sf, "lineitem"))
    def hist(df: org.apache.spark.sql.DataFrame) =
      Histograms.histogram1d(df, "l_extendedprice", 900.0, 105000.0, 40)
    val merge = (a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =>
      a.unionByName(b).groupBy("bucket").agg(sum("cnt").as("cnt")).orderBy("bucket")
    val steps = s.progressive(root, 4, hist, merge).map { case (p, df) =>
      (p, df.agg(sum("cnt")).head.getLong(0))
    }.toList
    assert(steps.map(_._1) == List(0.25, 0.5, 0.75, 1.0))
    assert(steps.map(_._2) == steps.map(_._2).sorted, "partial totals must be monotone")
    val exact = hist(s(root).df).agg(sum("cnt")).head.getLong(0)
    assert(steps.last._2 == exact, "final partial equals the direct sketch")
  }

  test("progressive slices bound per-step I/O to their own files") {
    val s = newSession
    val dir = java.nio.file.Files.createTempDirectory("graft_prog").toString
    sources.Tables.open(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .repartition(8).write.mode("overwrite").parquet(dir)
    val root = s.open("li8", spark.read.parquet(dir))
    val brushed = s.child(root, "brush")(_.filter(col("l_quantity") > 10))
    val slices = graft.plans.FileSlices.slices(s(brushed).df, 4)
    val perStep = slices.map(_.inputFiles.toSet)
    assert(perStep.forall(_.size == 2), s"8 files over 4 batches, got ${perStep.map(_.size)}")
    assert(perStep.reduce(_ ++ _).size == 8, "slices must cover every file")
    assert(perStep.combinations(2).forall { case Seq(a, b) => (a & b).isEmpty },
      "slices must be disjoint")
    assert(slices.map(_.count()).sum == s(brushed).df.count(),
      "slice scans must partition the view's rows exactly")
  }

  test("progressive over a dimension join slices only the fact scan") {
    val s = newSession
    val dir = java.nio.file.Files.createTempDirectory("graft_prog_join").toString
    sources.Tables.open(spark, sf, "lineitem")
      .select("l_orderkey", "l_extendedprice")
      .repartition(6).write.mode("overwrite").parquet(dir)
    val orders = sources.Tables.open(spark, sf, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val root = s.open("li_join",
      spark.read.parquet(dir).join(broadcast(orders), Seq("l_orderkey")))
    def sketch(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
    val merge = (a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =>
      a.unionByName(b).groupBy("o_orderpriority").agg(sum("cnt").as("cnt"))
    val steps = s.progressive(root, 3, sketch, merge).toList
    assert(steps.map(_._1) == List(1.0 / 3, 2.0 / 3, 1.0))
    val got = steps.last._2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp = sketch(s(root).df).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exp, "merged partials over fact slices must equal the direct sketch")
  }

  test("resolution-aware sampling rate follows the paper's formula") {
    val s = newSession
    assert(s.samplingRate(1000L, 100, 40) == 1.0) // small data: no sampling
    val r = s.samplingRate(100L * 1000 * 1000 * 1000, 100, 40)
    assert(r > 0 && r < 0.01, s"big data must sample hard, got $r")
    assert(s.samplingRate(0L, 100, 40) == 1.0)
    // the boundary: exactly c·buckets·h² rows need every row
    assert(math.abs(s.samplingRate(2000000L, 100, 40, c = 5.0) - 1.0) < 1e-9)
  }
}

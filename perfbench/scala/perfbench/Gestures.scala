package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{ViewId, ViewSession}
import graft.operators._
import graft.sources.Tables

/** One sketch request: its kind, memo key, the operator call, and a check
  * of the rows it returns.
  */
final case class Sk(kind: String, key: String, op: DataFrame => DataFrame,
                    check: Array[Row] => Option[String])

object Sketches {
  val kinds: Seq[String] = Seq("hist", "heatmap", "hh", "quantiles", "nextk", "stats", "distinct")

  private val numeric = Seq(("l_quantity", 1.0, 50.0), ("l_extendedprice", 900.0, 104950.0),
    ("l_discount", 0.0, 0.1))

  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  private def zoom(rnd: Random): (String, Double, Double) = {
    val (c, lo, hi) = numeric(rnd.nextInt(numeric.size))
    val w = hi - lo
    (c, r2(lo + w * 0.3 * rnd.nextDouble()), r2(hi - w * 0.3 * rnd.nextDouble()))
  }

  private def err(ok: Boolean, msg: => String): Option[String] = if (ok) None else Some(msg)

  private def increasing(keys: Seq[Seq[Double]]): Boolean =
    keys.zip(keys.drop(1)).forall { case (a, b) =>
      a.zip(b).find { case (x, y) => x != y }.exists { case (x, y) => x < y }
    }

  def make(kind: String, rnd: Random): Sk = kind match {
    case "hist" =>
      val (c, lo, hi) = zoom(rnd)
      val n = Seq(10, 20, 50, 100)(rnd.nextInt(4))
      Sk(kind, s"hist:$c:$lo:$hi:$n", Histograms.histogram1d(_, c, lo, hi, n), rows =>
        err(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) < n && r.getLong(1) > 0) &&
          increasing(rows.map(r => Seq(r.getInt(0).toDouble))), s"histogram rows out of range or order"))
    case "heatmap" =>
      val (xn, yn) = (Seq(10, 25, 50)(rnd.nextInt(3)), Seq(10, 20, 40)(rnd.nextInt(3)))
      val yHi = r2(104950.0 - 40000 * rnd.nextDouble())
      Sk(kind, s"heatmap:$xn:$yn:$yHi",
        Histograms.heatmap(_, "l_quantity", 1.0, 50.0, xn, "l_extendedprice", 900.0, yHi, yn), rows =>
          err(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) < xn && r.getInt(1) >= 0 &&
            r.getInt(1) < yn && r.getLong(2) > 0) &&
            increasing(rows.map(r => Seq(r.getInt(0).toDouble, r.getInt(1).toDouble))),
            "heatmap cells out of range or order"))
    case "hh" =>
      val minCount = Seq(200L, 500L, 1000L)(rnd.nextInt(3))
      Sk(kind, s"hh:l_suppkey:$minCount", df =>
        HeavyHitters.twoPhase(df, Seq("l_suppkey"), k = 64, minCount = minCount)
          .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt")).orderBy(col("l_suppkey")), rows =>
        err(rows.forall(_.getLong(1) >= minCount) && increasing(rows.map(r => Seq(r.getLong(0).toDouble))),
          s"heavy hitter below $minCount or keys out of order"))
    case "quantiles" =>
      val (c, _, _) = numeric(rnd.nextInt(2))
      val probs = Seq(0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95).filter(_ => rnd.nextDouble() < 0.6)
      val ps = if (probs.size < 2) Seq(0.25, 0.75) else probs
      Sk(kind, s"quantiles:$c:${ps.mkString(",")}", Quantiles.exact(_, c, ps), rows => {
        val vs = rows.headOption.map(_.toSeq).getOrElse(Nil)
        err(vs.forall(_ == null) || (vs.forall(_ != null) &&
          vs.map(_.asInstanceOf[Number].doubleValue).sliding(2).forall(p => p.size < 2 || p(0) <= p(1))),
          s"quantiles not monotone: ${vs.mkString(",")}")
      })
    case "nextk" =>
      val k = Seq(20, 50)(rnd.nextInt(2))
      val start = if (rnd.nextDouble() < 0.3) None else Some(r2(900 + 99000 * rnd.nextDouble()))
      val order = Seq(SortKey("l_extendedprice"), SortKey("l_orderkey"))
      Sk(kind, s"nextk:$k:${start.getOrElse("first")}",
        NextK.page(_, order, start.map(p => Seq(lit(p), lit(0L))), k), rows => {
          val keys = rows.map(r => Seq(r.getDouble(0), r.getLong(1).toDouble))
          err(rows.length <= k && rows.forall(_.getLong(2) >= 1) && increasing(keys) &&
            start.forall(p => keys.forall(_.head >= p)), "NextK page out of order or before its start")
        })
    case "stats" =>
      val (c, _, _) = numeric(rnd.nextInt(numeric.size))
      Sk(kind, s"stats:$c", Stats.basicStats(_, c), rows => {
        val r = rows.head
        val n = r.getLong(0)
        err(n == 0 || (r.getDouble(2) <= r.getDouble(4) + 1e-9 * math.abs(r.getDouble(3)) &&
          r.getDouble(4) <= r.getDouble(3) + 1e-9 * math.abs(r.getDouble(3)) &&
          (n < 2 || r.getDouble(5) >= 0)), s"basic stats inconsistent: $r")
      })
    case "distinct" =>
      val c = Seq("l_partkey", "l_suppkey", "l_orderkey")(rnd.nextInt(3))
      Sk(kind, s"distinct:$c", DistinctOps.approxDistinctCount(_, c), rows =>
        err(rows.length == 1 && rows.head.getLong(0) >= 0, "negative distinct count"))
  }

  /** One brush: a filter that keeps a sizeable share of the rows. */
  def brush(rnd: Random): (String, DataFrame => DataFrame) = rnd.nextInt(5) match {
    case 0 =>
      val a = 1 + rnd.nextInt(30); val b = a + 10 + rnd.nextInt(15)
      (s"qty[$a,$b]", _.filter(col("l_quantity").between(a, b)))
    case 1 =>
      val a = 900 + rnd.nextInt(40000); val b = a + 30000 + rnd.nextInt(40000)
      (s"price[$a,$b]", _.filter(col("l_extendedprice").between(a, b)))
    case 2 =>
      val d = r2(0.03 + 0.01 * rnd.nextInt(6))
      (s"disc<=$d", _.filter(col("l_discount") <= d))
    case 3 =>
      val f = Seq("A", "N", "R")(rnd.nextInt(3))
      (s"flag!=$f", _.filter(col("l_returnflag") =!= f))
    case _ =>
      val day = rnd.nextInt(1500)
      (s"ship>=$day", _.filter(col("l_shipdate") >= timestamp_seconds(lit(788918400L + day * 86400L))))
  }
}

/** The analyst session over the 16-file lineitem (see [[Gestures.run]]
  * for the two gesture mixes).
  */
final class Gestures(val ctx: Ctx, revisit: Boolean) extends Workload {
  import Workload._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val rnd = new Random(ctx.seed * 31 + (if (revisit) 2 else 1))
  private var session: ViewSession = _
  private var base: ViewId = _
  private var sketchCalls = 0L
  private var hits = 0L

  def setup(rep: Int): Unit = {
    val d = s"${ctx.dir}/lineitem-$rep"
    tr.span("bench.generate", group = true)(Inputs.lineitem(spark, d, ctx.seed))
    val t0 = System.nanoTime()
    val df = tr.span("sources.open", group = true)(Tables.open(spark, d, "lineitem"))
    ctx.sample("sources.open_ms", (System.nanoTime() - t0) / 1e6)
    session = new ViewSession(spark)
    base = session.open("lineitem", df)
    if (rep > 1) deleteTree(s"${ctx.dir}/lineitem-${rep - 1}")
  }

  private def child(parent: ViewId, b: (String, DataFrame => DataFrame)): ViewId = {
    val t0 = System.nanoTime()
    val v = tr.span("session.child")(session.child(parent, b._1)(b._2))
    ctx.sample("session.child_ms", (System.nanoTime() - t0) / 1e6)
    v
  }

  /** The sketch call as a UI makes it, returning its rows and whether the
    * memo served it.
    */
  private def sketch(v: ViewId, sk: Sk): (Array[Row], Boolean) = {
    val h0 = session.memoHits
    val rows = tr.span("session.sketch", view = v.value) {
      session.sketch(v, sk.key)(df => tr.span("operators." + sk.kind, group = true)(sk.op(df))).collect()
    }
    val hit = session.memoHits > h0
    sketchCalls += 1
    if (hit) hits += 1
    (rows, hit)
  }

  private def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }

  /** One gesture the client waited `dt` for: it counts in the end-to-end
    * figures.
    */
  private def recordItem(dt: Long): Unit = {
    ctx.busyNs += dt
    ctx.items += 1
    ctx.opMs += dt / 1e6
  }

  /** A sketch gesture's latency, also by memo outcome and sketch kind. */
  private def recordLatency(sk: Sk, hit: Boolean, dt: Long): Unit = {
    recordItem(dt)
    val ms = dt / 1e6
    ctx.sample(if (hit) "session.hit_ms" else "session.miss_ms", ms)
    if (!hit) ctx.sample(s"operators.${sk.kind}_ms", ms)
  }

  /** A brush chain off `parent`, then one sketch on its leaf. */
  private def freshGesture(parent: ViewId, chain: Seq[(String, DataFrame => DataFrame)], sk: Sk)
      : Option[(ViewId, Array[Row])] = {
    var out: Option[(ViewId, Array[Row])] = None
    ctx.op(s"gesture ${sk.key}") {
      val (((v, rows), hit), dt) = timed(tr.request("op.gesture") {
        var v = parent
        chain.foreach(b => v = child(v, b))
        val (rows, hit) = sketch(v, sk)
        ((v, rows), hit)
      })
      recordLatency(sk, hit, dt)
      out = Some((v, rows))
      if (hit && chain.nonEmpty) Some("a new view was served from the memo") else sk.check(rows)
    }
    out
  }

  private def repeatGesture(v: ViewId, sk: Sk, expected: Array[Row]): Unit =
    ctx.op(s"repeat ${sk.key}") {
      val ((rows, hit), dt) = timed(tr.request("op.gesture")(sketch(v, sk)))
      recordLatency(sk, hit, dt)
      if (!hit) repeatMisses(sk.kind) += 1
      if (!rows.sameElements(expected)) Some("memo hit rows differ from the rows of its miss")
      else sk.check(rows)
    }

  private def histMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** An 8-slice progressive histogram; its final result must equal the
    * one-shot histogram of the same view.
    */
  private def progressiveGesture(v: ViewId): Unit = {
    val n = Seq(20, 50, 100)(rnd.nextInt(3))
    val (c, lo, hi) = ("l_extendedprice", 900.0, 104950.0)
    ctx.op(s"progressive $c/$n") {
      var first = 0L
      val ((slicesNs, rows), dt) = timed(tr.request("op.progressive") {
        val t0 = System.nanoTime()
        val it = tr.span("plans.slices")(session.progressive(v, 8,
          Histograms.histogram1d(_, c, lo, hi, n), histMerge))
        val sNs = System.nanoTime() - t0
        var last = Array.empty[Row]
        while (it.hasNext) {
          last = tr.span("session.partial", group = true)(it.next()._2.collect())
          if (first == 0L) first = System.nanoTime() - t0
        }
        (sNs, last)
      })
      recordItem(dt)
      ctx.sample("plans.slices_ms", slicesNs / 1e6)
      ctx.sample("session.first_partial_ms", first / 1e6)
      ctx.sample("session.final_result_ms", dt / 1e6)
      val oneShot = tr.request("bench.oneshot") {
        tr.span("bench.oneshot", group = true)(Histograms.histogram1d(session(v).df, c, lo, hi, n).collect())
      }
      val got = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
      val want = oneShot.map(r => r.getInt(0) -> r.getLong(1)).toMap
      if (got != want) Some(s"progressive final result differs from the one-shot histogram") else None
    }
  }

  /** A sketch cancelled from a second thread once its job runs: the
    * canceller calls `ViewSession.cancel` on every job of the view's group
    * it sees running, until the sketch returns. The sketch must throw; a
    * sketch that completes counts as a failure. The cancelled call must
    * leave no memo entry, and its retry (a gesture of its own) must miss
    * the memo and return the operator's rows. The client's wait for the
    * cancelled call counts as a gesture.
    */
  private def cancelGesture(v: ViewId): Unit = {
    val sk = Sketches.make("heatmap", rnd)
    ctx.op(s"cancel ${sk.key}") {
      val sc = spark.sparkContext
      val group = s"graft-view-${v.value}"
      val size0 = session.memoSize
      val hits0 = session.memoHits
      @volatile var done = false
      @volatile var cancelAt = 0L
      val req = new java.util.concurrent.atomic.AtomicInteger(-1)
      val canceller = new Thread(() => {
        var cancelled = Set.empty[Int]
        while (!done) {
          val active = sc.statusTracker.getActiveJobIds().toSet
          val running = sc.statusTracker.getJobIdsForGroup(group).filter(j => active(j) && !cancelled(j))
          if (running.nonEmpty) {
            cancelled ++= running
            tr.sideSpan("session.cancel", req.get()) {
              if (cancelAt == 0L) cancelAt = System.nanoTime()
              session.cancel(v)
            }
          } else java.util.concurrent.locks.LockSupport.parkNanos(200000L)
        }
      }, "perfbench-canceller")
      val t0 = System.nanoTime()
      val cancelled = tr.request("op.cancel") {
        req.set(tr.currentReq)
        canceller.start()
        try {
          tr.span("session.sketch", view = v.value)(session.sketch(v, sk.key)(sk.op).collect())
          false
        } catch {
          case e: Exception if Option(e.getMessage).exists(_.toLowerCase.contains("cancel")) => true
        } finally {
          done = true
          canceller.join()
        }
      }
      val returnedAt = System.nanoTime()
      recordItem(returnedAt - t0)
      if (!cancelled) {
        Some(if (cancelAt == 0L) "the sketch completed before its job was seen running"
             else "the sketch completed although it was cancelled")
      } else {
        ctx.sample("session.cancel_return_ms", (returnedAt - cancelAt) / 1e6)
        if (session.memoSize != size0) Some("a cancelled sketch left a memo entry")
        else {
          val ((rows, hit), dt) = timed(tr.request("op.gesture")(sketch(v, sk)))
          recordLatency(sk, hit, dt)
          val direct = tr.request("bench.check")(tr.span("bench.check", group = true)(sk.op(session(v).df).collect()))
          if (hit || session.memoHits != hits0) Some("the retry of a cancelled sketch hit the memo")
          else if (!rows.sameElements(direct)) Some("the retry of a cancelled sketch returned wrong rows")
          else sk.check(rows)
        }
      }
    }
  }

  private def chain(): Seq[(String, DataFrame => DataFrame)] =
    Seq.fill(1 + rnd.nextInt(3))(Sketches.brush(rnd))

  // revisit: a pool of brushed views shared by the gestures
  private val pool = mutable.ArrayBuffer.empty[ViewId]
  private val PoolSize = 10
  private val repeatMisses = mutable.Map.empty[String, Int].withDefaultValue(0)

  /** The pool view of gesture slot `j`: one brush off the base or an
    * earlier pool view the first time, reused after.
    */
  private def poolView(j: Int): ViewId = {
    if (pool.size < PoolSize && j % PoolSize == pool.size) {
      val parent = if (pool.isEmpty || rnd.nextBoolean()) base else pool(rnd.nextInt(pool.size))
      pool += tr.request("op.brush")(child(parent, Sketches.brush(rnd)))
    }
    pool(j % pool.size)
  }

  /** One untimed histogram of the base view, outside the session, so that
    * the timed gestures do not pay the first scan's class loading. (A
    * sketch of every kind would take about 14 s a run, which the
    * evaluation budget does not hold.)
    */
  override def warmup(): Unit =
    tr.request("bench.warmup") {
      tr.span("bench.warmup", group = true)(Histograms.histogram1d(session(base).df, "l_quantity", 1.0, 50.0, 10).collect())
    }

  /** `explore`: rounds of the 7 sketch kinds, each gesture on a fresh
    * brush chain (about 1 s a gesture). `revisit`: blocks of 17 gestures
    * (about 20 s a block): 7 fresh (view, sketch) pairs, one per kind, on
    * the pool views; one 8-slice progressive histogram; the same 7 pairs
    * again (memo hits); one cancelled heatmap and its retry. So 8 of the
    * 17 gestures repeat an earlier (view, sketch) pair, and 7 of the 15
    * completed sketch calls hit the memo. The seed draws the views and
    * every parameter.
    */
  def run(seconds: Int): Unit = {
    var slot = 0
    def nextView(): ViewId = { val v = poolView(slot); slot += 1; v }
    if (!revisit) {
      for (i <- 0 until 7 * opCount(seconds, 7.0))
        freshGesture(base, chain(), Sketches.make(Sketches.kinds(i % 7), rnd))
    } else for (_ <- 0 until opCount(seconds, 20.0)) {
      val block = mutable.ArrayBuffer.empty[(ViewId, Sk, Array[Row])]
      for (k <- Sketches.kinds) {
        val sk = Sketches.make(k, rnd)
        freshGesture(nextView(), Nil, sk).foreach { case (leaf, rows) => block += ((leaf, sk, rows)) }
      }
      progressiveGesture(nextView())
      for ((v, sk, rows) <- block) repeatGesture(v, sk, rows)
      cancelGesture(nextView())
    }
    ctx.sample("session.memo_hit_ratio", if (sketchCalls == 0) 0.0 else hits.toDouble / sketchCalls)
  }

  def report(): Seq[(String, Double, String)] = {
    val n = ctx.opMs.size
    val lvl = tailLevel(n)
    val base = Seq(
      ("gesture_p50_ms", median(ctx.opMs.toSeq), "ms"),
      ("gesture_p90_ms", percentile(ctx.opMs.toSeq, 0.9), "ms"),
      (f"gesture_tail_ms(p${lvl * 100}%.0f,n=$n)", percentile(ctx.opMs.toSeq, lvl), "ms"),
      ("gestures_per_s", ctx.items / (ctx.busyNs / 1e9), "1/s"))
    def m(k: String) = mean(ctx.samples.getOrElse(k, Nil))
    if (!revisit) base
    else base ++ Seq(
      ("first_partial_ms", m("session.first_partial_ms"), "ms"),
      ("final_result_ms", m("session.final_result_ms"), "ms"),
      ("cancel_ms", m("session.cancel_return_ms"), "ms"),
      ("memo_hit_ratio", hits.toDouble / math.max(1L, sketchCalls), s"ratio(of $sketchCalls)")) ++
      repeatMisses.toSeq.sorted.map { case (k, n) => (s"repeat_misses.$k", n.toDouble, "count") }
  }
}

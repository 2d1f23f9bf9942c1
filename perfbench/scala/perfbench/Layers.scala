package perfbench

import scala.collection.mutable

/** Per-layer figures of a traced run, over the requests from the start of
  * its warm-up to the end of its timed window. A span's self time is its
  * duration minus what its child spans cover; of that, the union of its
  * own jobs' intervals is `exec`, its Catalyst phases are `catalyst`, and
  * the rest is the span's layer.
  */
object Layers {
  /** Layers with spans of their own. The `cache` layer has none: the
    * persisting and checkpointing happen inside library calls, timed as
    * `operators`, and show in the `cache.*` lifecycle counters.
    */
  val repoLayers: Seq[String] = Seq("sources", "session", "plans", "operators", "streaming", "bench")

  def compute(t: Tracer, w0: Long, w1: Long): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val spans = t.spans.toSeq
    val roots = spans.filter(s => s.parent == 0 && s.start >= w0 && s.end > 0)
    val ops = roots.filter(_.name.startsWith("op."))
    val reqs = ops.map(_.req).toSet
    val inWindow = spans.filter(s => reqs(s.req) && s.end > 0)
    val children = inWindow.groupBy(_.parent)
    val jobsBySpan = t.jobSpan.toSeq.groupBy(_._2.id).map { case (k, v) => k -> v.map(x => t.jobs.get(x._1)) }
    val phasesBySpan = t.phaseSpan.groupBy(_._2.id).map { case (k, v) => k -> v.map(_._1) }
    def jobIv(j: JobRec): (Long, Long) =
      (t.msToNs(j.startMs), if (j.endMs > 0) t.msToNs(j.endMs) else t.msToNs(j.startMs))

    val self = mutable.LinkedHashMap(repoLayers.map(_ -> 0.0): _*)
    var catalystNs = 0.0
    inWindow.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => Intervals.clip((c.start, c.end), s.start, s.end))
      val wall = s.dur - Intervals.union(kids)
      val exec = Intervals.union(jobsBySpan.getOrElse(s.id, Nil).map(j => Intervals.clip(jobIv(j), s.start, s.end)))
      val cat = phasesBySpan.getOrElse(s.id, Nil).map(p => (p.endMs - p.startMs) * 1e6).sum
      val rest = math.max(0.0, wall - exec - cat)
      catalystNs += math.min(cat, math.max(0.0, wall - exec))
      val layer = if (s.layer == "op") "bench" else s.layer
      self(layer) = self.getOrElse(layer, 0.0) + rest
    }

    val n = math.max(1, ops.size).toDouble
    val opJobs = t.jobSpan.toSeq.filter(x => reqs(x._2.req)).map(x => t.jobs.get(x._1))
    def perOp(f: JobRec => Double): Double = opJobs.map(f).sum / n
    val jobNsByReq = ops.map { r =>
      val js = t.jobSpan.toSeq.filter(_._2.req == r.req).map(x => Intervals.clip(jobIv(t.jobs.get(x._1)), r.start, r.end))
      r.req -> Intervals.union(js).toDouble
    }.toMap
    val execNs = jobNsByReq.values.sum

    self.foreach { case (l, ns) => out(s"self.${l}_s") = ns / 1e9 / n }
    out("self.catalyst_s") = catalystNs / 1e9 / n
    out("self.exec_s") = execNs / 1e9 / n

    val phases = t.phaseSpan.filter(x => reqs(x._2.req)).map(_._1)
    val nActions = math.max(1, phases.count(_.name == "planning")).toDouble
    def phaseMs(name: String) = phases.filter(_.name == name).map(p => (p.endMs - p.startMs).toDouble).sum / nActions
    out("catalyst.analysis_ms") = phaseMs("analysis")
    out("catalyst.optimize_ms") = phaseMs("optimization")
    out("catalyst.plan_ms") = phaseMs("planning")

    out("exec.jobs") = opJobs.size / n
    out("exec.stages") = perOp(_.stages)
    out("exec.tasks") = perOp(_.tasks)
    out("exec.job_s") = execNs / 1e9 / n
    val cpu = perOp(_.cpuNs / 1e9)
    val run = perOp(_.runMs / 1e3)
    out("exec.task_cpu_s") = cpu
    out("exec.task_run_s") = run
    out("exec.cpu_ratio") = if (run > 0) cpu / run else 0.0
    out("exec.sched_delay_s") = perOp(_.schedMs / 1e3)
    out("exec.gc_s") = perOp(_.gcMs / 1e3)
    out("exec.shuffle_read_mb") = perOp(_.shuffleRead / 1e6)
    out("exec.shuffle_write_mb") = perOp(_.shuffleWrite / 1e6)
    out("exec.spill_mb") = perOp(_.spill / 1e6)
    out("sources.input_mb") = perOp(_.inputBytes / 1e6)
    out("driver.self_s") = ops.map(r => r.dur - jobNsByReq(r.req)).sum / 1e9 / n

    // progressive: jobs per partial, and one slice's input against the one-shot sketch's
    val partials = inWindow.filter(_.name == "session.partial")
    val jobsOf = (ss: Seq[Span]) => ss.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
    out("plans.jobs_per_partial") = if (partials.isEmpty) 0.0 else jobsOf(partials).size.toDouble / partials.size
    val oneShot = spans.filter(s => s.name == "bench.oneshot" && s.start >= w0 && s.parent != 0)
    val sliceIn = jobsOf(partials).map(_.inputBytes.toDouble).sum / math.max(1, partials.size)
    val oneIn = jobsOf(oneShot).map(_.inputBytes.toDouble).sum / math.max(1, oneShot.size)
    out("plans.slice_input_ratio") = if (oneIn > 0) sliceIn / oneIn else 0.0

    val covered = Intervals.union(roots.map(r => Intervals.clip((r.start, r.end), w0, w1)))
    out("trace.coverage") = covered.toDouble / math.max(1L, w1 - w0)
    out("trace.requests") = ops.size.toDouble
    out
  }
}

package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up the workload's inputs (several times, timed),
  * warm up, drive the closed loop for about `--seconds`, check the outputs and
  * print one JSON result as the last line of stdout. Usually launched by
  * `perfbench/run.py`, which builds the classes and passes the paths.
  */
object Main {
  val SetupReps = 3

  /** Latency percentiles are printed in the report, not bounded: a run
    * holds too few operations (17 gestures or 3 batches) for a tail with
    * ten samples beyond it, and gesture latencies cluster by sketch kind
    * and memo outcome, so their median moves with the seed where the mean
    * (the inverse of the throughput) holds (see perfbench/README.md).
    */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "retained_heap_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "sources.open_ms" -> "ms", "sources.input_mb" -> "MB", "sources.write_s" -> "s",
    "sources.index_files" -> "count", "sources.disk_bytes_per_doc" -> "B",
    "session.child_ms" -> "ms", "session.miss_ms" -> "ms", "session.hit_ms" -> "ms",
    "session.memo_hit_ratio" -> "ratio", "session.cancel_return_ms" -> "ms",
    "session.first_partial_ms" -> "ms", "session.final_result_ms" -> "ms",
    "plans.slices_ms" -> "ms", "plans.slice_input_ratio" -> "ratio", "plans.jobs_per_partial" -> "count",
    "operators.hist_ms" -> "ms", "operators.heatmap_ms" -> "ms", "operators.hh_ms" -> "ms",
    "operators.quantiles_ms" -> "ms", "operators.nextk_ms" -> "ms", "operators.stats_ms" -> "ms",
    "operators.distinct_ms" -> "ms", "operators.index_pairs_s" -> "s", "operators.fold_s" -> "s",
    "streaming.gate_s" -> "s", "streaming.accept_ratio" -> "ratio",
    "cache.persisted_rdds_left" -> "count", "cache.storage_mb_left" -> "MB", "cache.ckpt_mb" -> "MB",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimize_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count", "exec.job_s" -> "s",
    "exec.task_cpu_s" -> "s", "exec.task_run_s" -> "s", "exec.cpu_ratio" -> "ratio",
    "exec.sched_delay_s" -> "s", "exec.gc_s" -> "s", "exec.shuffle_read_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB", "driver.self_s" -> "s",
    "self.sources_s" -> "s", "self.session_s" -> "s", "self.plans_s" -> "s", "self.operators_s" -> "s",
    "self.streaming_s" -> "s", "self.bench_s" -> "s", "self.catalyst_s" -> "s",
    "self.exec_s" -> "s", "trace.coverage" -> "ratio", "trace.requests" -> "count",
    "trace.op_mean_ms" -> "ms")

  /** `curate` only (not a workload of the standard set): its traced runs
    * report these beside the per-layer metrics above.
    */
  val curateLayer: Seq[(String, String)] = Seq(
    "operators.classifier_train_s" -> "s", "operators.classifier_score_s" -> "s",
    "operators.lsh_pairs_s" -> "s", "operators.cc_star_s" -> "s", "operators.keep_reps_s" -> "s",
    "operators.semdedup_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        runDir: String, resultFile: String, traceFile: String, cpus: Int,
                        xmx: String, commit: String, srcDigest: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("run-dir"), get("result-file"), get("trace-file"), get("cpus").toInt,
      get("xmx"), m.getOrElse("commit", ""), m.getOrElse("src-digest", ""))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    require(Set("explore", "revisit", "curate", "ingest")(a.workload), s"unknown workload ${a.workload}")
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(spark, a)
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Args): Int = {
    import Workload._
    val tracer = new Tracer(a.trace)
    tracer.attach(spark)
    val ctx = new Ctx(spark, tracer, s"${a.runDir}/data", a.seed)
    val scratch = Seq(s"${a.runDir}/spark-local", s"${a.runDir}/tmp")
    val wl: Workload = a.workload match {
      case "explore" => new Gestures(ctx, revisit = false)
      case "revisit" => new Gestures(ctx, revisit = true)
      case "curate"  => new Curate(ctx, scratch)
      case "ingest"  => new Ingest(ctx, scratch)
    }
    val tStart = System.nanoTime()
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      tracer.request("bench.setup")(wl.setup(rep))
      (System.nanoTime() - t0) / 1e9
    }
    val tWarm = System.nanoTime()
    wl.warmup()
    ctx.startWindow()
    System.gc()
    val cpu0 = hostCpu()
    val w0 = System.nanoTime()
    wl.run(a.seconds)
    val w1 = System.nanoTime()
    val cpu1 = hostCpu()
    // share of this VM's CPU time the hypervisor gave to others during the
    // window: a slow run with a high share measured host contention
    val steal = if (cpu0.isEmpty || cpu1.isEmpty) Double.NaN else {
      val d = cpu1.get.zip(cpu0.get).map { case (x, y) => x - y }
      if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else Double.NaN
    }
    val heapMb = retainedHeapMb()
    val tFinish = System.nanoTime()
    wl.finish()
    tracer.detach()
    val tEnd = System.nanoTime()

    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> median(setupS),
      "throughput_per_s" -> ctx.items / (ctx.busyNs / 1e9),
      "retained_heap_mb" -> heapMb)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      layers ++= Layers.compute(tracer, tWarm, w1)
      ctx.samples.foreach { case (k, v) => layers(k) = mean(v) }
      layers("trace.op_mean_ms") = mean(ctx.opMs)
      writeTrace(tracer, w0, a.traceFile)
    }
    val layerNames = if (a.workload == "curate") perLayer ++ curateLayer else perLayer
    val metrics = if (a.trace) layerNames.map { case (k, u) => (k, layers.getOrElse(k, 0.0), u) }
                  else endToEnd.map { case (k, u) => (k, e2e(k), u) }
    val badMetric = metrics.exists(m => m._2.isNaN || m._2.isInfinite)
    if (badMetric) ctx.fail("a metric could not be computed (no completed operation?)")
    val correct = ctx.failed == 0

    // human-readable report, then the stamp, then the result line
    val out = new StringBuilder
    out ++= s"# workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} " +
      s"ops=${ctx.opMs.size} attempted=${ctx.attempted} failed=${ctx.failed} " +
      f"error_rate=${ctx.failed.toDouble / math.max(1L, ctx.attempted)}%.4f\n"
    out ++= s"# setup_s reps: ${setupS.map(s => f"$s%.3f").mkString(" ")}\n"
    out ++= f"# phases (s): set-up ${(tWarm - tStart) / 1e9}%.1f, warm-up ${(w0 - tWarm) / 1e9}%.1f, " +
      f"timed ${(w1 - w0) / 1e9}%.1f, " +
      f"heap ${(tFinish - w1) / 1e9}%.1f, checks ${(tEnd - tFinish) / 1e9}%.1f; " +
      f"host steal in the timed window ${steal * 100}%.1f%% of CPU time\n"
    wl.report().foreach { case (k, v, u) => out ++= f"# $k%-34s $v%14.4f $u\n" }
    out ++= f"# ${"retained_heap_mb"}%-34s $heapMb%14.4f MB\n"
    if (a.trace) {
      out ++= "# layer self time per request (s): " +
        Layers.repoLayers.map(l => f"$l=${layers(s"self.${l}_s")}%.4f").mkString(" ") +
        f" catalyst=${layers("self.catalyst_s")}%.4f exec=${layers("self.exec_s")}%.4f\n"
      out ++= f"# counts per request: jobs=${layers("exec.jobs")}%.2f stages=${layers("exec.stages")}%.2f " +
        f"tasks=${layers("exec.tasks")}%.2f requests=${layers("trace.requests")}%.0f\n"
      out ++= f"# named spans cover ${layers("trace.coverage") * 100}%.2f%% of the warm-up and timed window\n"
    }
    ctx.errors.foreach(e => out ++= s"# error: $e\n")
    print(out.toString)

    val stamp = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "seconds" -> a.seconds.toString,
      "trace" -> a.trace.toString, "cpus" -> a.cpus.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "xmx" -> Json.str(a.xmx), "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "spark" -> Json.str(spark.version), "jdk" -> Json.str(System.getProperty("java.version")),
      "sf" -> Json.str(Inputs.spec), "commit" -> Json.str(a.commit),
      "src_sha256" -> Json.str(a.srcDigest)))
    val result = Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    val report = Json.obj(wl.report().map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val pw = new PrintWriter(a.resultFile, "UTF-8")
    try pw.println(Json.obj(Seq("stamp" -> stamp, "result" -> result, "report" -> report,
      "steal_share" -> Json.num(steal),
      "setup_s" -> setupS.map(Json.num).mkString("[", ", ", "]"),
      "op_ms" -> ctx.opMs.map(Json.num).mkString("[", ", ", "]"))))
    finally pw.close()
    println(Json.obj(Seq("stamp" -> stamp)))
    println(result)
    0
  }

  /** The aggregate `cpu` jiffies of /proc/stat (user, nice, system, idle,
    * iowait, irq, softirq, steal, ...), where the host provides them.
    */
  private def hostCpu(): Option[Array[Long]] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    }.toOption

  /** Used heap after full collections, in MB. Spark's ContextCleaner
    * drops unreferenced broadcasts and shuffles asynchronously after a
    * collection finds them, so collect, let it work, and collect again.
    */
  private def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def writeTrace(t: Tracer, w0: Long, path: String): Unit = {
    val pw = new PrintWriter(path, "UTF-8")
    def ms(ns: Long) = Json.num((ns - w0) / 1e6)
    try {
      t.spans.foreach { s =>
        pw.println(Json.obj(Seq("span" -> s.id.toString, "name" -> Json.str(s.name),
          "layer" -> Json.str(s.layer), "req" -> s.req.toString, "parent" -> s.parent.toString,
          "start_ms" -> ms(s.start), "end_ms" -> ms(s.end))))
      }
      t.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        pw.println(Json.obj(Seq("job" -> j.id.toString, "group" -> Json.str(Option(j.group).getOrElse("")),
          "span" -> t.jobSpan.get(j.id).map(_.id.toString).getOrElse("null"),
          "start_ms" -> ms(t.msToNs(j.startMs)), "end_ms" -> ms(t.msToNs(j.endMs)),
          "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
          "input_bytes" -> j.inputBytes.toString)))
      }
    } finally pw.close()
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the tracer, the run's
  * own directory, and the tallies every workload fills in.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val dir: String, val seed: Long) {
  /** Latency of each operation the client waited for, in ms. */
  val opMs = mutable.ArrayBuffer.empty[Double]
  /** Client busy time and the items (gestures or documents) it completed. */
  var busyNs = 0L
  var items = 0L
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Workload-specific per-layer values; the means are reported. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Forget the operations so far: the warm-up's do not count in the
    * end-to-end figures (their checks and per-layer samples do).
    */
  def startWindow(): Unit = {
    opMs.clear()
    busyNs = 0L
    items = 0L
  }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
    System.err.println(s"perfbench: FAILED $msg")
  }

  /** Run one operation: counts it as attempted, and as failed when it
    * throws or its output check returns an error.
    */
  def op(what: String)(f: => Option[String]): Unit = {
    attempted += 1
    try f.foreach(e => fail(s"$what: $e"))
    catch { case scala.util.control.NonFatal(e) => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }
}

trait Workload {
  def ctx: Ctx
  /** Build the run's inputs and open them; `rep` numbers the repetitions. */
  def setup(rep: Int): Unit
  /** Untimed work before the window, so that its operations run warm. */
  def warmup(): Unit = ()
  /** The closed loop, one client: the number of operations that take about
    * `seconds` on a 4-core host (see [[Workload.opCount]]).
    */
  def run(seconds: Int): Unit
  /** Untimed checks that need the whole run. */
  def finish(): Unit = ()
  /** The workload's own end-to-end figures by name, for the report. */
  def report(): Seq[(String, Double, String)]
}

object Workload {
  /** Operations in a run of `seconds`, at a reference `perOp` seconds each.
    * A run does a fixed amount of work rather than stopping at a deadline:
    * operations last seconds, so a deadline would cut a run between two
    * operation counts by chance, and the mix of cold and warm, hit and miss
    * operations would change from run to run.
    */
  def opCount(seconds: Int, perOp: Double): Int = math.max(1, math.round(seconds / perOp).toInt)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between order statistics (numpy's default). */
  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile that leaves at least ten samples beyond it. */
  def tailLevel(n: Int): Double = if (n <= 10) Double.NaN else math.min(0.9, 1.0 - 10.0 / n)

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val w = Files.walk(root)
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally w.close()
    }
  }

  def fileCount(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val w = Files.walk(root)
      try w.filter((f: Path) => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_")).count() finally w.close()
    }
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally w.close()
    }
  }
}

/** Persistent RDDs, block-manager memory and bytes under the scratch dirs
  * (Spark's local dir and the JVM's tmp dir), taken before and after every
  * curation stage and ingest batch: what an operation leaves behind shows
  * as a positive difference. No checkpoint dir is set (as in the repo's
  * own harnesses), so checkpoints are local and show as persisted RDDs
  * and storage, and their spills as scratch bytes.
  */
final class Lifecycle(ctx: Ctx, scratchDirs: Seq[String]) {
  private def snap(): (Double, Double, Double) = {
    val sc = ctx.spark.sparkContext
    val mem = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    (sc.getPersistentRDDs.size.toDouble, mem / 1e6, scratchDirs.map(Workload.dirBytes).sum / 1e6)
  }

  def around[T](f: => T): T =
    if (!ctx.tracer.on) f
    else {
      val a = snap()
      val r = f
      val b = snap()
      ctx.sample("cache.persisted_rdds_left", b._1 - a._1)
      ctx.sample("cache.storage_mb_left", b._2 - a._2)
      ctx.sample("cache.ckpt_mb", b._3 - a._3)
      r
    }
}

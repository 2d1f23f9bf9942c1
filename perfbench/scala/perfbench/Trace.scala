package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call from the benchmark into a layer. Times are
  * `System.nanoTime`; the layer is the name's prefix before the first dot
  * (`sources`, `session`, `plans`, `operators`, `streaming`, `cache`, or
  * `bench` for the benchmark's own set-up and checks).
  */
final class Span(val id: Int, val name: String, val req: Int, val parent: Int,
                 val depth: Int, val clientThread: Boolean, val start: Long,
                 val view: String) {
  @volatile var end: Long = -1L
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** A Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var schedMs = 0L
}

final case class Phase(name: String, startMs: Long, endMs: Long)

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets (its constant is private). */
  val JobGroupKey = "spark.jobGroup.id"
}

/** Spans recorded in memory at each call the benchmark makes into a
  * layer, plus a SparkListener and a QueryExecutionListener that split
  * the wall time underneath into Catalyst phases and executed jobs.
  * Off (`on = false`) it records nothing and registers no listener, so
  * the untimed and the timed paths run the same library calls.
  */
final class Tracer(val on: Boolean) {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  def msToNs(ms: Long): Long = t0Ns + (ms - t0Ms) * 1000000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private val seq = new AtomicInteger(0)
  private val reqSeq = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  @volatile private var clientThread: Thread = _

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phase]()

  private var spark: SparkSession = _
  private var sparkListener: SparkListener = _
  private var qeListener: QueryExecutionListener = _

  def attach(s: SparkSession): Unit = if (on) {
    spark = s
    clientThread = Thread.currentThread()
    sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty(Tracer.JobGroupKey)).orNull
        jobs.put(e.jobId, new JobRec(e.jobId, g, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        forStage(e.stageInfo.stageId)(_.stages += 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = forStage(e.stageId) { j =>
        j.tasks += 1
        val sub = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
        j.schedMs += math.max(0L, e.taskInfo.launchTime - sub)
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.inputBytes += m.inputMetrics.bytesRead
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    qeListener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        qe.tracker.phases.foreach { case (n, p) => phases.add(Phase(n, p.startTimeMs, p.endTimeMs)) }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    }
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(qeListener)
  }

  private def forStage(stageId: Int)(f: JobRec => Unit): Unit =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j))).foreach(j => j.synchronized(f(j)))

  /** Wait for the listener bus to deliver every event, then detach. */
  def detach(): Unit = if (on && spark != null) {
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** A new request (one gesture, curation stage or ingest batch): its
    * root span, under which the calls it makes nest.
    */
  def request[T](name: String)(f: => T): T = {
    val prev = stack.get()
    stack.set(Nil)
    try span(name, req = reqSeq.incrementAndGet())(f) finally stack.set(prev)
  }

  /** Time `f` as a span named `name` under the current span. With `group`
    * the span's jobs run under the Spark job group `perfbench-<span id>`,
    * which the attribution below maps back to this span.
    */
  def span[T](name: String, group: Boolean = false, view: String = null,
              req: Int = -1)(f: => T): T = {
    if (!on) return f
    val st = stack.get()
    val parent = st.headOption
    val id = seq.incrementAndGet()
    val r = if (req >= 0) req else parent.map(_.req).getOrElse(0)
    val s = new Span(id, name, r, parent.map(_.id).getOrElse(0), st.size,
      Thread.currentThread() eq clientThread, System.nanoTime(), view)
    spans.synchronized(spans += s)
    stack.set(s :: st)
    val sc = spark.sparkContext
    val prevGroup = if (group) sc.getLocalProperty(Tracer.JobGroupKey) else null
    if (group) sc.setJobGroup(s"perfbench-$id", name)
    try f
    finally {
      s.end = System.nanoTime()
      stack.set(st)
      if (group) {
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, "")
      }
    }
  }

  /** A span started on another thread (the canceller) inside request
    * `req` — it overlaps the client's spans instead of nesting in them.
    */
  def sideSpan[T](name: String, req: Int)(f: => T): T =
    if (!on) f else {
      val prev = stack.get()
      stack.set(Nil)
      try span(name, req = req)(f) finally stack.set(prev)
    }

  def currentReq: Int = stack.get().headOption.map(_.req).getOrElse(-1)

  // ---- attribution ------------------------------------------------------

  /** Each job's span: the span its `perfbench-<id>` group names; for a
    * `graft-view-<id>` group the innermost client span on that view open
    * at the job's start; otherwise the innermost client span open then.
    */
  lazy val jobSpan: Map[Int, Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    val client = spans.filter(_.clientThread).sortBy(_.start).toArray
    def innermost(tNs: Long, pred: Span => Boolean): Option[Span] = {
      val slack = 1000000L // listener times are whole milliseconds
      val open = client.filter(s => s.start - slack <= tNs && tNs <= s.end + slack && pred(s))
      if (open.isEmpty) None else Some(open.maxBy(s => (s.depth, s.start)))
    }
    jobs.values.asScala.flatMap { j =>
      val t = msToNs(j.startMs)
      val g = Option(j.group).getOrElse("")
      val s =
        if (g.startsWith("perfbench-")) byId.get(g.stripPrefix("perfbench-").toInt)
        else if (g.startsWith("graft-view-"))
          innermost(t, _.view == g.stripPrefix("graft-view-")).orElse(innermost(t, _ => true))
        else innermost(t, _ => true)
      s.map(j.id -> _)
    }.toMap
  }

  /** Each Catalyst phase's span: the innermost client span open at its start. */
  lazy val phaseSpan: Seq[(Phase, Span)] = {
    val client = spans.filter(_.clientThread).toArray
    phases.asScala.toSeq.flatMap { p =>
      val t = msToNs(p.startMs)
      val open = client.filter(s => s.start - 1000000L <= t && t <= s.end)
      if (open.isEmpty) None else Some(p -> open.maxBy(s => (s.depth, s.start)))
    }
  }
}

/** Interval arithmetic over [start, end) nanosecond intervals. */
object Intervals {
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def clip(iv: (Long, Long), lo: Long, hi: Long): (Long, Long) =
    (math.max(iv._1, lo), math.min(iv._2, hi))
}

package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Opaque handle naming one view in a session — the analog of the
  * reference's remote object id (`ref:W/RpcObjectManager.java`): the UI
  * never holds data, only ids whose lineage lives in the server.
  */
final case class ViewId(value: String)

/** One registered view: the DataFrame plus its lineage edge. */
final case class ViewNode(id: ViewId, df: DataFrame, parent: Option[ViewId], op: String)

/** The interactive session layer (SURVEY.md §7.1 layer 3) — hiero's
  * object-id model rebuilt on Spark:
  *
  *  - every operation (`open`, `child`) registers a new immutable view id
  *    whose lineage chain is queryable (`lineage`) — filters/zooms share
  *    the parent's lazy plan, so a chain of brushes is zero-copy exactly
  *    like the reference's membership-set views;
  *  - `sketch` runs a small-result aggregation under the view's own Spark
  *    job group and memoizes the collected result by (viewId, canonical
  *    op key) — repeated UI gestures are instant, as in the reference's
  *    `MemoizedResults`;
  *  - `cancel(viewId)` aborts every running job of that view
  *    (`sc.cancelJobGroup`, interrupt-on-cancel) — the unsubscribe path
  *    of paper §3.2;
  *  - `progressive` re-creates streamed `PartialResult`s
  *    (`ref:P/dataset/api/PartialResult.java`): the sketch runs per
  *    file slice and a caller-supplied monoid merge folds each partial
  *    into the materialized running result, one action per step, with
  *    monotone progress;
  *  - `samplingRate` is the paper's resolution-aware approximation rule
  *    (§4.1): sampled histograms are indistinguishable at pixel
  *    resolution once rate ≈ pixelHeight²·buckets/rowCount.
  *
  * Sketch results are small by contract (polylog in data size — paper
  * §3), so memoizing collected rows on the driver is the same discipline
  * as the reference's root node; bulk data never leaves the cluster.
  */
final class ViewSession(spark: SparkSession, memoCap: Int = 256) {

  private type MemoKey = (ViewId, String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)

  private val views = TrieMap.empty[ViewId, ViewNode]
  // LRU with a hard cap: sketch results are small by contract, but a
  // long-lived session accumulates one entry per UI gesture — bound it
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[MemoKey, (org.apache.spark.sql.types.StructType, Array[Row])](
      16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[MemoKey, (org.apache.spark.sql.types.StructType, Array[Row])]): Boolean =
        size() > memoCap
    })
  private val seq = new AtomicLong(0)
  private val memoHitCount = new AtomicLong(0)

  private def nextId(name: String): ViewId = ViewId(s"$name-${seq.incrementAndGet()}")
  private def jobGroup(id: ViewId): String = s"graft-view-${id.value}"

  /** Run `f` under the view's job group (interrupt-on-cancel), so
    * `cancel(id)` reaches every job it starts; the group is cleared after.
    */
  private def underGroup[T](id: ViewId, what: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(jobGroup(id), s"view=${id.value} $what", interruptOnCancel = true)
    try f finally sc.clearJobGroup()
  }

  private def local(rows: Array[Row], schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Register a root view (a loaded table). */
  def open(name: String, df: DataFrame): ViewId = {
    val id = nextId(name)
    views.put(id, ViewNode(id, df, None, "open"))
    id
  }

  /** Derive a child view (filter/zoom/set-op/projection). Lazy: shares the
    * parent's plan, no data movement.
    */
  def child(parent: ViewId, opName: String)(op: DataFrame => DataFrame): ViewId = {
    val p = views(parent)
    val id = nextId(opName)
    views.put(id, ViewNode(id, op(p.df), Some(parent), opName))
    id
  }

  def apply(id: ViewId): ViewNode = views(id)

  /** All registered view ids (ordered by id string). */
  def allViews: Seq[ViewId] = views.keys.toSeq.sortBy(_.value)

  /** Root-to-leaf lineage chain of a view. */
  def lineage(id: ViewId): List[ViewId] = {
    @annotation.tailrec
    def up(cur: ViewId, acc: List[ViewId]): List[ViewId] =
      views(cur).parent match {
        case Some(p) => up(p, cur :: acc)
        case None    => cur :: acc
      }
    up(id, Nil)
  }

  /** Drop a view (and its memoized sketches) — the reference's `manage`
    * purge. Child views keep working: they captured the parent's plan.
    */
  def purge(id: ViewId): Unit = {
    views.remove(id)
    memo.synchronized {
      memo.keySet.removeIf(_._1 == id)
    }
  }

  /** Number of memoized sketch results served without recompute. */
  def memoHits: Long = memoHitCount.get()

  /** Number of memoized sketch results currently held. */
  def memoSize: Int = memo.size()

  /** Run a sketch (small-result aggregation) for a view, under the view's
    * job group so `cancel(id)` aborts it. Memoized by (view, opKey, the
    * CANONICALIZED PLAN of op(view)) — full structural plan equality, not
    * a hash that could collide: `op` is always applied, so reusing an
    * opKey with a different op can never serve a stale result — the plan
    * key diverges and both entries coexist. Entries are LRU-evicted past
    * `memoCap` (the driver-resident memo cannot grow without bound in a
    * long session).
    *
    * Contract: `op` builds its plan without running a job, so a memo hit
    * starts none and a miss runs every phase inside the one `collect`.
    * An op that does run jobs while building (`Quantiles.exact`'s eager
    * histogram passes are the measured exception) re-runs them on every
    * call, hit or miss; `op` is applied under the view's job group, so
    * `cancel(id)` still reaches those jobs. `op`, the memo lookup and the
    * collect share one [[CacheScope.scoped]] block, so whatever `op` pins
    * is released when the call returns.
    */
  def sketch(id: ViewId, opKey: String)(op: DataFrame => DataFrame): DataFrame = CacheScope.scoped {
    val result = underGroup(id, s"op=$opKey")(op(views(id).df))
    val key = (id, opKey, result.queryExecution.analyzed.canonicalized)
    Option(memo.get(key)) match {
      case Some((schema, rows)) =>
        memoHitCount.incrementAndGet()
        local(rows, schema)
      case None =>
        val rows = underGroup(id, s"op=$opKey")(result.collect())
        memo.put(key, (result.schema, rows))
        local(rows, result.schema)
    }
  }

  /** Abort every running job of this view (paper §3.2 unsubscribe). */
  def cancel(id: ViewId): Unit =
    spark.sparkContext.cancelJobGroup(jobGroup(id))

  /** Progressive partial results: the view's largest file-backed scan is
    * enumerated into `batches` disjoint FILE slices (deterministic: sorted
    * file list, round-robin — see FileSlices); `sketchOp` runs per slice
    * and the monoid `merge` folds partials into a refining result — each
    * step yields (progress, refined result), the reference's
    * `Observable[PartialResult]` as an iterator. A sliced plan LISTS only
    * its own files, so each step bounds both work and I/O at ~1/batches
    * of the source (`ref:P/dataset/ParallelDataSet.java` streams partials
    * from per-leaf work the same way). File membership is stable across
    * steps by construction, unlike partition-id slicing, which can
    * migrate rows between re-executions when the plan contains a
    * round-robin repartition, a sample, or an AQE-replanned shuffle.
    *
    * Each step is ONE action under the view's job group (`cancel(id)`
    * aborts it): `merge(acc, sketchOp(slice))` is collected, where `acc`
    * is the previous step's running result as a local relation. The
    * yielded result is that materialized running result (sketch results
    * are small by contract), so collecting it starts no job and a step
    * never re-executes earlier slices or merges. Each step is one
    * [[CacheScope.scoped]] block, so a step's pins die with the step.
    * Views with no file-backed scan are rejected.
    */
  def progressive(id: ViewId, batches: Int,
                  sketchOp: DataFrame => DataFrame,
                  merge: (DataFrame, DataFrame) => DataFrame): Iterator[(Double, DataFrame)] = {
    val slices = graft.plans.FileSlices.slices(views(id).df, batches)
    var acc: Option[DataFrame] = None
    slices.iterator.zipWithIndex.map { case (sliceDf, i) =>
      acc = Some(CacheScope.scoped {
        val part = sketchOp(sliceDf)
        val step = acc.fold(part)(merge(_, part))
        local(underGroup(id, s"progressive ${i + 1}/$batches")(step.collect()), step.schema)
      })
      ((i + 1).toDouble / batches, acc.get)
    }
  }

  /** Resolution-aware sampling rate (paper §4.1): a histogram rendered at
    * `pixelHeight` pixels over `buckets` buckets is visually exact once
    * each bucket sees ~pixelHeight² samples (Chernoff argument).
    */
  def samplingRate(rowCount: Long, pixelHeight: Int, buckets: Int,
                   c: Double = 1.0): Double =
    math.min(1.0, c * pixelHeight.toDouble * pixelHeight * buckets /
      math.max(1L, rowCount).toDouble)
}

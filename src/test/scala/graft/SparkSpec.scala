package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites are
  * cheap at sf0.001).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Run `action` and return the observed row of `metricName` from the
    * last successful execution that carried it (QueryExecutionListener is
    * async — drained via the graftest shim). Shared by every suite that
    * reads `Dataset.observe` metrics. Matches the name OR a
    * `name_<suffix>` variant — production observe names carry a unique
    * counter suffix so two observed stages can compose in one plan.
    */
  /** Run `action` and return EVERY observed-metric row whose name is
    * `metricName` or a suffixed variant (`metricName_<n>`) — a plan
    * composing two observed stages emits one row per stage, so keeping
    * one arbitrary row would make the metric ambiguous exactly in the
    * composed case the suffixing exists to support.
    */
  def observedMetricRows(metricName: String)(action: => Unit): Seq[org.apache.spark.sql.Row] = {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.collect {
          case (n, r) if n == metricName || n.startsWith(metricName + "_") => r
        }.foreach(rows.add)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      org.apache.spark.graftest.ListenerDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    rows.asScala.toSeq
  }

  /** The summed first-column count (`examined`) across every
    * prefix-matched observation of `action` — the consumer shape the
    * production listener should use.
    */
  def observedExamined(metricName: String)(action: => Unit): Option[Long] = {
    val rows = observedMetricRows(metricName)(action)
    if (rows.isEmpty) None else Some(rows.map(_.getLong(0)).sum)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package org.apache.spark.sql.graftshim

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** The single Spark-internal bridge in this engine: building a Column
  * from a Catalyst expression (and back), rebuilding a DataFrame from a
  * transformed logical plan, and the guarded driver collect.
  * `classic.ExpressionUtils`, `Dataset.ofRows` and a Dataset's encoder
  * are `private[sql]`, so the bridge lives under the `org.apache.spark.sql`
  * package; nothing else in graft reaches into Spark internals this way.
  */
object Internals {
  /** `e` as a Column — how graft's native expressions reach the
    * DataFrame API without a session function registry.
    */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression of `c` (unresolved until analysis). */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The catalog's CURRENT stored view object for temp view `name` (None
    * if not registered). This must be the RAW `TemporaryViewRelation` the
    * catalog map holds — `getTempView` builds a fresh `View` wrapper per
    * call, so its identity is useless for a freshness probe (an eq-based
    * memo over it NEVER short-circuits). The raw object is
    * reference-stable until the view is dropped or replaced — which is
    * exactly what the fixture registry's memo must detect: a public
    * catalog-existence probe sees a same-named replacement as "still
    * there" and would serve hijacked data.
    */
  def tempViewPlan(spark: SparkSession, name: String): Option[AnyRef] =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog.getRawTempView(name)

  /** `NormalizeFloatingNumbers.normalize` (-0.0 → 0.0, canonical NaN) is
    * `private[sql]`; the struct-keyed sketches apply it to their key
    * projections so sketch keys group exactly like SQL GROUP BY.
    */
  def normalizeFloats(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** The rows of `ds`, a result bounded by contract, on the driver,
    * failing loudly with `tooMany` when it holds more than `cap` rows —
    * the one guarded driver collect. It runs as ONE SQL execution whose
    * final stage is ONE job: each task returns at most `cap + 1` rows of
    * its partition, and the driver keeps results only until their running
    * total passes `cap` (the job still runs to its end), so it never holds
    * more than about 2·(cap + 1) rows. (The obvious collect of
    * `limit(cap + 1)` plans a `CollectLimitExec`, whose incremental scan
    * runs one job over the first partition and a second over the rest
    * whenever the result is under the cap.) Rows come back in partition
    * order, as from `collect()`.
    */
  def collectCapped[T](ds: Dataset[T], cap: Int)(tooMany: => String): Array[T] = {
    val d = ds.asInstanceOf[classic.Dataset[T]]
    val enc = d.exprEnc.resolveAndBind(d.logicalPlan.output, d.sparkSession.sessionState.analyzer)
    val rows = SQLExecution.withNewExecutionId(d.queryExecution, Some("collect")) {
      val rdd = d.queryExecution.executedPlan.execute()
      val parts = new Array[Array[InternalRow]](rdd.getNumPartitions)
      var held = 0L
      d.sparkSession.sparkContext.runJob(rdd, (_: TaskContext, it: Iterator[InternalRow]) =>
        it.take(cap + 1).map(_.copy()).toArray, parts.indices,
        (i: Int, rs: Array[InternalRow]) => if (held <= cap) { parts(i) = rs; held += rs.length })
      Option.when(held <= cap)(parts.flatten)
    }
    require(rows.isDefined, tooMany)
    rows.get.map(enc.createDeserializer())(enc.clsTag)
  }
}

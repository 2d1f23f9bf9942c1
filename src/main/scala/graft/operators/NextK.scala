package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NextKPage

/** The spreadsheet page sketch — `ref:P/sketches/NextKSketch.java`
  * (paper §4.2): the k smallest *distinct* rows ≥ a start row under a
  * multi-column RecordOrder, each with its occurrence count.
  *
  * Spark shape: pushable row-comparison filter → the native
  * [[graft.functions.NextKPageAgg]] bounded-buffer aggregate (the
  * reference's per-leaf ≤ k-entry monoid): each partition retains only
  * its k smallest distinct keys with exact counts, so `partitions · k`
  * tiny partials move instead of EVERY distinct key — the
  * `groupBy(keys).count().orderBy.limit(k)` form this replaces shuffled
  * the whole distinct-key set (billions of rows at 100 TB) to return k.
  */
object NextK {

  /** @param start values aligned with `order` (None = first page). */
  def page(df: DataFrame, order: Seq[SortKey], start: Option[Seq[Column]],
           k: Int): DataFrame = {
    val base = start match {
      case Some(s) => df.filter(Filters.rowAtLeast(order, s))
      case None    => df
    }
    val page = base
      .agg(NextKPage.page(struct(order.map(o => col(o.name)): _*), order.map(_.asc), k)
        .as("pg"))
      .select(explode(col("pg")).as("e")) // array is already in page order
    page.select((order.map(o => col(s"e.key.${o.name}").as(o.name)) :+
      col("e.cnt").as("cnt")).toIndexedSeq: _*)
  }

  /** Plain top-k page without dedup (orderBy+limit → TakeOrderedAndProject). */
  def topK(df: DataFrame, order: Seq[SortKey], k: Int,
           projectCols: Seq[String] = Nil): DataFrame = {
    val p = if (projectCols.isEmpty) df
            else df.select(projectCols.map(col).toIndexedSeq: _*)
    p.orderBy(order.map(_.toCol).toIndexedSeq: _*).limit(k)
  }
}

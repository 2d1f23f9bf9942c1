package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** The SQL names of the engine's custom Catalyst expressions: set
  * `spark.sql.extensions=graft.GraftExtensions` on the cluster (or
  * `builder.withExtensions(new GraftExtensions)`; `LocalSession` does
  * this) and every function in [[GraftExtensions.functionTable]] resolves
  * in SQL strings — `spark.sql`, `selectExpr`, `expr` — in all sessions
  * of the application. The DataFrame API needs none of it: the column
  * helpers next to each expression (`VectorExprs.fdot`,
  * `NextKPage.page`, ...) build the expression directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functionTable.foreach { case (name, arity, build) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        GraftExtensions.builderFor(name, arity, build)))
    }
}

object GraftExtensions {

  /** The native functions by SQL name — (name, arity, builder). */
  val functionTable: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("graft_fdot", 2, exprs => FloatVectorDot(exprs.head, exprs(1))),
    ("graft_nearest_centroids", 3, exprs => NearestCentroids(exprs.head, exprs(1), exprs(2))),
    ("graft_hyperplane_sig", 2, exprs => HyperplaneSignature(exprs.head, exprs(1))),
    ("graft_lsh_band_sigs", 4,
      exprs => LshBandSigs(exprs.head, exprs(1), exprs(2), exprs(3))),
    ("graft_token_windows", 2, exprs => TokenWindows(exprs.head, exprs(1))),
    ("graft_token_window_md5s", 2, exprs => TokenWindowMd5s(exprs.head, exprs(1))),
    ("graft_winnow_min_md5s", 3,
      exprs => WinnowMinMd5s(exprs.head, exprs(1), exprs(2))),
    // AggregateFunction builders — the analyzer wraps them in
    // AggregateExpressions like any registered aggregate
    ("graft_mg_sketch", 2, exprs => MisraGriesSketch(exprs.head, exprs(1))),
    ("graft_nextk_page", 3, exprs => NextKPageAgg(exprs.head, exprs(1), exprs(2))),
    ("graft_cms_sketch", 4,
      exprs => CmsSketchAgg(exprs.head, exprs(1), exprs(2), exprs(3))),
    ("graft_cms_merge", 1, exprs => CmsMergeAgg(exprs.head)))

  /** Arity-checked builder for `name`: raw SQL reaches it, and an
    * IndexOutOfBoundsException names nothing.
    */
  def builderFor(name: String, arity: Int,
                 build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != arity)
        throw new IllegalArgumentException(
          s"$name takes $arity arguments, got ${exprs.length}")
      build(exprs)
    }
}

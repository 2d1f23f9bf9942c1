package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark-internal APIs the engine bridges to through
  * `graftshim.Internals`. They are `private[sql]`/catalyst surface, NOT
  * public Spark API, so a Spark upgrade may move or rename them — this
  * spec turns that breakage into a named failure instead of an opaque
  * NoSuchMethodError at runtime.
  */
class ShimPinSpec extends AnyFunSuite {

  test("SessionCatalog.getRawTempView(String) still exists and stays identity-stable") {
    val catalog = Class.forName("org.apache.spark.sql.catalyst.catalog.SessionCatalog")
    val hit = catalog.getMethods.exists { m =>
      m.getName == "getRawTempView" && m.getParameterCount == 1 &&
        m.getParameterTypes()(0) == classOf[String]
    }
    assert(hit,
      "Spark upgrade broke the graftshim bridge: " +
        "SessionCatalog.getRawTempView(String) is gone. Update " +
        "graftshim.Internals.tempViewPlan — the registerAll memo needs the RAW " +
        "stored view object (getTempView builds a fresh wrapper per call, which " +
        "makes an identity-based freshness probe never match).")
  }

  test("classic.Dataset.ofRows(classic.SparkSession, LogicalPlan) still exists") {
    val companion = Class.forName("org.apache.spark.sql.classic.Dataset$")
    val hit = companion.getMethods.exists { m =>
      m.getName == "ofRows" && m.getParameterCount == 2 && {
        val p = m.getParameterTypes
        p(0).getName == "org.apache.spark.sql.classic.SparkSession" &&
          p(1).getName == "org.apache.spark.sql.catalyst.plans.logical.LogicalPlan"
      }
    }
    assert(hit,
      "Spark upgrade broke the graftshim bridge: " +
        "org.apache.spark.sql.classic.Dataset.ofRows(classic.SparkSession, LogicalPlan) " +
        "is gone. Update org.apache.spark.sql.graftshim.Internals.ofRows — it re-roots " +
        "transformed logical plans for the SlicedFileIndex progressive partials " +
        "(plans/FileSlices.scala) — to whatever the internal constructor is now.")
  }

  test("classic.ExpressionUtils.column(Expression) and expression(Column) still exist and round-trip") {
    val companion = Class.forName("org.apache.spark.sql.classic.ExpressionUtils$")
    def has(name: String, param: String) = companion.getMethods.exists { m =>
      m.getName == name && m.getParameterCount == 1 && m.getParameterTypes()(0).getName == param
    }
    assert(has("column", "org.apache.spark.sql.catalyst.expressions.Expression") &&
      has("expression", "org.apache.spark.sql.Column"),
      "Spark upgrade broke the graftshim bridge: " +
        "org.apache.spark.sql.classic.ExpressionUtils.column/expression is gone. Update " +
        "org.apache.spark.sql.graftshim.Internals.column/expression — every graft " +
        "column helper (VectorExprs.fdot, NextKPage.page, ...) builds its Catalyst " +
        "expression through them.")
    import org.apache.spark.sql.graftshim.Internals
    val e = org.apache.spark.sql.catalyst.expressions.Literal(1)
    assert(Internals.expression(Internals.column(e)) eq e,
      "a column built from an expression must hand back that same expression")
  }
}

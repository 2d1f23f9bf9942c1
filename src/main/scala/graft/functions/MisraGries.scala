package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, struct}
import org.apache.spark.sql.graftshim.Internals.{column, expression}

/** Column forms of the Misra-Gries heavy-hitters sketch
  * ([[MisraGriesSketch]], `ref:P/sketches/FreqKSketch.java`, paper §4.4).
  */
object MisraGries {
  /** mg_sketch(col) → map<key, bigint> of candidates, keyed by the
    * column's own type.
    */
  def sketch(c: Column, k: Int): Column =
    column(MisraGriesSketch(expression(c), expression(lit(k))).toAggregateExpression())

  /** Tuple-key form — the reference sketches multi-column rows
    * (`ref:P/sketches/FreqKSketch.java` over a schema subset). The key is
    * the actual column-value STRUCT, so null parts and separator-containing
    * strings are faithful tuple keys (see MisraGriesSketch's scaladoc).
    * Output: map<struct<...>, bigint>.
    */
  def sketchStruct(cols: Seq[Column], k: Int): Column =
    sketch(struct(cols: _*), k)
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column-level "maps": projection, rename, type conversion, derived
  * columns, JSON key extraction.
  *
  * Reference analogs: `ref:P/maps/ProjectMap.java`, `IdMap.java`,
  * `ConvertColumnMap.java`, `CreateColumnJSMap.java` (derived column — we
  * use Catalyst `expr` instead of a JS engine so the result stays inside
  * whole-stage codegen), `ExtractValueFromKeyMap.java`,
  * `LinearProjectionMap.java`.
  */
object Projections {

  /** Keep only the named columns (`ref:P/maps/ProjectMap.java`). Catalyst
    * turns this into parquet column pruning (ReadSchema shrinks).
    */
  def project(df: DataFrame, columns: Seq[String]): DataFrame =
    df.select(columns.map(col).toIndexedSeq: _*)

  def dropColumns(df: DataFrame, columns: Seq[String]): DataFrame =
    df.drop(columns: _*)

  def rename(df: DataFrame, from: String, to: String): DataFrame =
    df.withColumnRenamed(from, to)

  /** Derived column from a SQL expression — the engine's answer to the
    * reference's JS-UDF column (`ref:P/maps/CreateColumnJSMap.java`):
    * Catalyst-compiled, codegen'd, optimizable; no interpreter in the row
    * loop.
    */
  def derive(df: DataFrame, name: String, sqlExpr: String): DataFrame =
    df.withColumn(name, expr(sqlExpr))

  /** Extract a key from a JSON string column into a new column
    * (`ref:P/maps/ExtractValueFromKeyMap.java`).
    */
  def jsonExtract(df: DataFrame, jsonCol: String, key: String, out: String): DataFrame =
    df.withColumn(out, get_json_object(col(jsonCol), s"$$.$key"))

  /** Pack several columns into ONE struct key column — the documented
    * multi-column-cohort path for every single-`groupCol` per-group
    * operator ([[Quantiles.exactPerGroup]], [[Histograms.equiDepthPerGroup]],
    * [[Sampling.qualityTiers]], [[Sampling.topKPerGroup]],
    * [[Sampling.selectByBudget]], [[Sampling.uniformPerGroup]], ...):
    * a (source, language)-style cohort is
    * `op(withStructKey(df, Seq("source", "language"), "__k"), "__k", ...)`
    * with `.drop("__k")` after. Works because those operators only ever
    * groupBy / join / driver-map the group key generically, and struct
    * values carry Spark's null-safe field-wise equality and ordering
    * (the [[Windows.ntileMapSide]] struct-key machinery, exposed as a
    * composition). Null semantics shift ON PURPOSE: the struct value is
    * never null even when a member column is, so a (null, "en") cohort
    * is a REAL group — it survives operators that drop a null group key
    * outright (e.g. [[Sampling.qualityTiers]]'s inner threshold join).
    * Pre-filter the member columns if drop-on-null is the intent.
    * Zero extra shuffle: the struct is a map-side expression.
    */
  def withStructKey(df: DataFrame, columns: Seq[String],
                    outCol: String): DataFrame = {
    require(columns.nonEmpty, "withStructKey needs at least one column")
    df.withColumn(outCol, struct(columns.map(col): _*))
  }

  /** Linear projection: rows of `matrix` are projection vectors over
    * `inputs`; emits one new double column per row
    * (`ref:P/maps/LinearProjectionMap.java` — PCA screen projection).
    * Expressed as weighted column sums so it codegens; no vector UDF.
    */
  def linearProjection(df: DataFrame, inputs: Seq[String],
                       matrix: Seq[Seq[Double]], outPrefix: String): DataFrame =
    matrix.zipWithIndex.foldLeft(df) { case (d, (weights, i)) =>
      require(weights.length == inputs.length, "matrix arity mismatch")
      val e = inputs.zip(weights)
        .map { case (c, w) => col(c).cast("double") * lit(w) }
        .reduce(_ + _)
      d.withColumn(s"$outPrefix$i", e)
    }
}

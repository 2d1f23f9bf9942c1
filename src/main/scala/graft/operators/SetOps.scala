package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Set operations over selections.
  *
  * Reference analog: `zip` + `ref:P/maps/SetOperationMap.java` — union /
  * intersection / exclude / replace of two membership sets over the same
  * table. In Spark the zero-copy form is predicate algebra (two filters of
  * the same parent share lineage); materialized frames use
  * union/intersect/except.
  */
object SetOps {

  /** Predicate algebra on two selections of the SAME parent — the faithful
    * zero-copy form (`p1 OR p2`, `p1 AND p2`, `p1 AND NOT p2`).
    */
  def unionView(df: DataFrame, p1: Column, p2: Column): DataFrame     = df.filter(p1 || p2)
  def intersectView(df: DataFrame, p1: Column, p2: Column): DataFrame = df.filter(p1 && p2)
  def minusView(df: DataFrame, p1: Column, p2: Column): DataFrame     = df.filter(p1 && !p2)

  /** Materialized set ops (arbitrary frames, bag semantics where noted). */
  def unionAll(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)
  def intersect(a: DataFrame, b: DataFrame): DataFrame = a.intersect(b)
  def except(a: DataFrame, b: DataFrame): DataFrame    = a.exceptAll(b)
}

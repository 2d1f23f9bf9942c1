package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType}

/** Native Count-Min aggregates for [[graft.operators.SketchTables]], the
  * one sketch-table family Spark does not ship a merge aggregate for
  * (the HLL, theta and KLL families call Spark's own DataSketches
  * functions). Both follow the [[MisraGriesSketch]] contract: a
  * commutative-monoid `TypedImperativeAggregate` whose partials are
  * sketch-sized, serialized in Spark's own `CountMinSketch` wire format.
  */
private[graft] object DataSketchAggs {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.graftshim.Internals.{column, expression}

  /** [[CmsSketchAgg]] over a LONG column. */
  def cmsSketch(c: Column, depth: Int, width: Int, seed: Int): Column =
    column(CmsSketchAgg(expression(c), expression(lit(depth)), expression(lit(width)),
      expression(lit(seed))).toAggregateExpression())

  /** [[CmsMergeAgg]] over a sketch-bytes column. */
  def cmsMerge(c: Column): Column =
    column(CmsMergeAgg(expression(c)).toAggregateExpression())

  /** Foldable int parameter check for the Count-Min builder. */
  def checkFoldableInt(e: Expression, name: String, param: String,
                       lo: Int, hi: Int): TypeCheckResult =
    e.dataType match {
      case IntegerType if e.foldable =>
        e.eval(null) match {
          case null => TypeCheckFailure(s"$name $param must not be NULL")
          case i: Integer if i < lo || i > hi =>
            TypeCheckFailure(s"$name $param must be in [$lo, $hi], got $i")
          case _ => TypeCheckSuccess
        }
      case t => TypeCheckFailure(s"$name needs a foldable int $param, got ${t.simpleString}")
    }
}

/** Count-Min sketch build aggregate:
  * `graft_cms_sketch(longCol, depth, width, seed)` → sketch bytes
  * (Spark's own `org.apache.spark.util.sketch.CountMinSketch` wire
  * format). The fourth mergeable-sketch family: per-key FREQUENCY
  * estimates — "how often did key X occur per group", where HLL/theta
  * answer distinct counts and KLL answers quantiles. Estimates
  * overcount only (never under), by ≤ εN with probability 1-δ where
  * ε = 2/width and δ = 2^-depth; merge is exact counter addition, so a
  * merged rollup equals the directly-built sketch bit-for-bit
  * (CmsSpec pins that equality — stronger than the HLL/theta families
  * can promise). Deterministic: the hash family is seeded.
  *
  * Nulls are skipped (a null key is not an observation). depth/width/
  * seed are plan-time literals so every partial in one aggregation is
  * structurally mergeable; merging sketches with mismatched parameters
  * throws Spark's own IncompatibleMergeException rather than degrading.
  */
case class CmsSketchAgg(
    child: Expression,
    depthExpr: Expression,
    widthExpr: Expression,
    seedExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[org.apache.spark.util.sketch.CountMinSketch] {
  import org.apache.spark.util.sketch.CountMinSketch

  override def children: Seq[Expression] = Seq(child, depthExpr, widthExpr, seedExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_cms_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType =>
        val d = DataSketchAggs.checkFoldableInt(depthExpr, prettyName, "depth", 1, 64)
        if (d != TypeCheckSuccess) d
        else {
          val w = DataSketchAggs.checkFoldableInt(widthExpr, prettyName, "width", 1, 1 << 26)
          if (w != TypeCheckSuccess) w
          else DataSketchAggs.checkFoldableInt(seedExpr, prettyName, "seed",
            Int.MinValue, Int.MaxValue)
        }
      case t => TypeCheckFailure(s"$prettyName sketches LONG values, got ${t.simpleString}")
    }

  private lazy val depth: Int = depthExpr.eval(null).asInstanceOf[Int]
  private lazy val width: Int = widthExpr.eval(null).asInstanceOf[Int]
  private lazy val seed: Int = seedExpr.eval(null).asInstanceOf[Int]

  override def createAggregationBuffer(): CountMinSketch =
    CountMinSketch.create(depth, width, seed)

  override def update(b: CountMinSketch, input: InternalRow): CountMinSketch = {
    val v = child.eval(input)
    if (v != null) b.addLong(v.asInstanceOf[Long])
    b
  }

  override def merge(b1: CountMinSketch, b2: CountMinSketch): CountMinSketch = {
    b1.mergeInPlace(b2)
    b1
  }

  private def toBytes(b: CountMinSketch): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    b.writeTo(out)
    out.toByteArray
  }

  override def eval(b: CountMinSketch): Any = toBytes(b)
  override def serialize(b: CountMinSketch): Array[Byte] = toBytes(b)
  override def deserialize(storage: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(storage))

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), depthExpr = newChildren(1),
      widthExpr = newChildren(2), seedExpr = newChildren(3))
}

/** Count-Min rollup aggregate: `graft_cms_merge(sketchBytesCol)` —
  * exact counter addition of already-built sketches. Null sketches are
  * skipped; mixed (depth, width, seed) inputs throw (merging
  * incompatible tables is a caller bug, not a degradation).
  */
case class CmsMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[org.apache.spark.util.sketch.CountMinSketch] {
  import org.apache.spark.util.sketch.CountMinSketch

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_cms_merge"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckSuccess
      case t => TypeCheckFailure(s"$prettyName merges sketch BYTES, got ${t.simpleString}")
    }

  // adopt the FIRST input's (depth, width, seed) — a default-parameter
  // empty buffer could not merge with differently-sized inputs
  override def createAggregationBuffer(): CountMinSketch = null

  override def update(b: CountMinSketch, input: InternalRow): CountMinSketch = {
    val v = child.eval(input)
    if (v == null) b
    else {
      val s = CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(v.asInstanceOf[Array[Byte]]))
      if (b == null) s else { b.mergeInPlace(s); b }
    }
  }

  override def merge(b1: CountMinSketch, b2: CountMinSketch): CountMinSketch =
    if (b1 == null) b2
    else if (b2 == null) b1
    else { b1.mergeInPlace(b2); b1 }

  private def toBytes(b: CountMinSketch): Array[Byte] =
    if (b == null) Array.emptyByteArray
    else {
      val out = new java.io.ByteArrayOutputStream()
      b.writeTo(out)
      out.toByteArray
    }

  // an all-null group evals to empty bytes (no parameters to build an
  // empty sketch with) — estimate treats empty as zero everywhere
  override def eval(b: CountMinSketch): Any = toBytes(b)
  override def serialize(b: CountMinSketch): Array[Byte] = toBytes(b)
  override def deserialize(storage: Array[Byte]): CountMinSketch =
    if (storage.isEmpty) null
    else CountMinSketch.readFrom(new java.io.ByteArrayInputStream(storage))

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

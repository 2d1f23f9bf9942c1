package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, MapType}

/** Misra-Gries heavy-hitters sketch as a native
  * `TypedImperativeAggregate`, keyed by the ACTUAL key value — any atomic
  * or struct type, so a multi-column key is sketched as its struct with
  * full null fidelity. This replaces the earlier string-rendered tuple key
  * (`concat_ws`), whose two documented defects were (1) null parts
  * silently skipped — a genuinely heavy (x, NULL) tuple was dropped from
  * the two-phase probe — and (2) separator-containing parts injecting
  * false tuple boundaries.
  *
  * The reference's trickiest sketch (`ref:P/sketches/FreqKSketch.java`,
  * paper §4.4): ≤ k counters, pairwise-mergeable; candidate counts are
  * lower bounds within N/(k+1), and every value with true frequency
  * > N/(k+1) is present, under any partitioning/merge order
  * (MisraGriesSpec pins these laws). Algorithm (from the published
  * Misra-Gries construction, not the reference code):
  *  - update: increment; past k counters, compress;
  *  - merge: sum counts, then compress;
  *  - compress: subtract the (k+1)-th largest count from all and drop
  *    non-positives (standard mergeable-summaries result).
  *
  * Keys are held as single-field `UnsafeRow`s (byte-wise equals/hashCode,
  * one `UnsafeProjection` per task, copied on first sight only), so the
  * hot update path is a hash-map probe on raw bytes with no string
  * rendering.
  *
  * Scale shape: partial aggregation yields one ≤ k-entry map per
  * partition; only sketch-sized partials shuffle. The exact
  * `HeavyHitters.exact` path shuffles (key, partialCount) pairs instead;
  * tests cross-check the two.
  */
case class MisraGriesSketch(
    child: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UnsafeRow, Long]] {

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(child.dataType, LongType, valueContainsNull = false)
  override def prettyName: String = "graft_mg_sketch"

  override def checkInputDataTypes(): TypeCheckResult = {
    child.dataType match {
      // Spark forbids map-typed map KEYS (the output is map<key, count>)
      case _: MapType => return TypeCheckFailure(
        s"$prettyName cannot sketch map-typed keys (map keys of the result)")
      case _ =>
    }
    kExpr.dataType match {
      case IntegerType if kExpr.foldable =>
        kExpr.eval(null) match {
          case null => TypeCheckFailure(s"$prettyName k must not be NULL")
          case i: Integer if i <= 0 => TypeCheckFailure(s"$prettyName k must be > 0, got $i")
          case _ => TypeCheckSuccess
        }
      case t => TypeCheckFailure(
        s"$prettyName needs a foldable int k, got ${t.simpleString}")
    }
  }

  private lazy val k: Int = kExpr.eval(null).asInstanceOf[Int]
  // per-(deserialized)-instance scratch — each task deserializes its own
  // expression tree, and a task is single-threaded. Floating keys are
  // normalized (-0.0 → 0.0, canonical NaN) so sketch keys group exactly
  // like SQL GROUP BY, not by raw bytes.
  @transient private lazy val keyProj = UnsafeProjection.create(Seq(
    org.apache.spark.sql.graftshim.Internals.normalizeFloats(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, child.dataType, nullable = true))))
  @transient private lazy val scratch = new GenericInternalRow(1)

  override def createAggregationBuffer(): mutable.HashMap[UnsafeRow, Long] =
    mutable.HashMap.empty

  override def update(b: mutable.HashMap[UnsafeRow, Long],
                      input: InternalRow): mutable.HashMap[UnsafeRow, Long] = {
    scratch.update(0, child.eval(input))
    val projected = keyProj(scratch) // reused instance — copy only on insert
    b.get(projected) match {
      // updating an existing entry keeps the originally-inserted (copied)
      // key object; the reused probe instance never becomes a map key
      case Some(c) => b.update(projected, c + 1L)
      case None =>
        b.update(projected.copy(), 1L)
        if (b.size > k) compress(b)
    }
    b
  }

  override def merge(b1: mutable.HashMap[UnsafeRow, Long],
                     b2: mutable.HashMap[UnsafeRow, Long]): mutable.HashMap[UnsafeRow, Long] = {
    val (into, from) = if (b1.size >= b2.size) (b1, b2) else (b2, b1)
    from.foreach { case (v, c) => into(v) = into.getOrElse(v, 0L) + c }
    if (into.size > k) compress(into)
    into
  }

  /** Subtract the (k+1)-th largest count from every counter; drop ≤ 0. */
  private def compress(m: mutable.HashMap[UnsafeRow, Long]): Unit = {
    val d = m.values.toArray.sortInPlace()(Ordering[Long].reverse).apply(k)
    m.mapValuesInPlace((_, c) => c - d)
    m.filterInPlace((_, c) => c > 0)
  }

  override def eval(buffer: mutable.HashMap[UnsafeRow, Long]): Any = {
    val keys = new Array[Any](buffer.size)
    val vals = new Array[Any](buffer.size)
    var i = 0
    buffer.foreach { case (kr, c) =>
      // unwrap the single-field carrier; the view aliases kr's private
      // buffer, which outlives eval — safe to emit without another copy
      keys(i) = kr.get(0, child.dataType)
      vals(i) = c
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override def serialize(buffer: mutable.HashMap[UnsafeRow, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buffer.size)
    buffer.foreach { case (kr, c) =>
      val bytes = kr.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(storage: Array[Byte]): mutable.HashMap[UnsafeRow, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(storage))
    val n = in.readInt()
    val b = mutable.HashMap.empty[UnsafeRow, Long]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val bytes = new Array[Byte](len)
      in.readFully(bytes)
      val row = new UnsafeRow(1)
      row.pointTo(bytes, len)
      b(row) = in.readLong()
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

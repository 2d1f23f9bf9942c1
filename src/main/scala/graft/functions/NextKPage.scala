package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Column form of [[NextKPageAgg]]. */
object NextKPage {
  import org.apache.spark.sql.functions.{lit, typedlit}
  import org.apache.spark.sql.graftshim.Internals.{column, expression}

  /** The page of the `key` struct column: its k smallest distinct values
    * under per-field `asc` flags, each with its count, in page order.
    */
  def page(key: Column, asc: Seq[Boolean], k: Int): Column =
    column(NextKPageAgg(expression(key), expression(typedlit(asc)), expression(lit(k)))
      .toAggregateExpression())
}

/** The NextK page sketch as a native bounded-buffer aggregate — the
  * reference's signature paging monoid (`ref:P/sketches/NextKSketch.java`,
  * paper §4.2): the k smallest DISTINCT key tuples under a RecordOrder,
  * each with its exact occurrence count.
  *
  * Why not `groupBy(keys).count().orderBy.limit(k)`: that plan shuffles
  * EVERY distinct key (at 100 TB, billions of rows) to return k of them.
  * This aggregate keeps a ≤ k-entry sorted buffer per partition and
  * merges buffers pairwise, so only `partitions · k` tiny rows ever move —
  * the same per-leaf/merge shape the reference runs.
  *
  * Exactness (not an approximation): a key evicted from (or refused by) a
  * full buffer has, at that moment, k distinct smaller keys IN THAT
  * PARTITION; the buffer's key set only ever improves toward smaller
  * keys, so the evictee can never re-enter (the max is non-increasing)
  * and it provably cannot be among the global k smallest. Conversely any
  * globally-top-k key has < k smaller keys in EVERY partition, so each
  * partition retains it from first sight with a complete local count, and
  * the merged counts are exact sums. Same argument covers merge-time
  * eviction.
  *
  * Ordering: per-field asc/desc with the engine's canonical null
  * placement (ASC → NULLS FIRST, DESC → NULLS LAST — the same contract as
  * `SortKey.toCol` and `Filters.rowAtLeast`), via a codegen'd Catalyst
  * `GenerateOrdering` comparator, so any orderable key type works.
  *
  * Output: array<struct<key:<key struct>, cnt:bigint>> in page order.
  */
case class NextKPageAgg(
    child: Expression,
    ascExpr: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeMap[InternalRow, java.lang.Long]] {

  override def children: Seq[Expression] = Seq(child, ascExpr, kExpr)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_nextk_page"

  private def keySchema: StructType = child.dataType.asInstanceOf[StructType]

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("key", child.dataType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val nFields = child.dataType match {
      case s: StructType => s.size
      case t => return TypeCheckFailure(
        s"$prettyName needs a struct key, got ${t.simpleString}")
    }
    ascExpr.dataType match {
      case ArrayType(BooleanType, _) if ascExpr.foldable =>
        val folded = ascExpr.eval(null)
        if (folded == null || folded.asInstanceOf[ArrayData].numElements() != nFields)
          return TypeCheckFailure(
            s"$prettyName needs one asc/desc flag per key field ($nFields)")
      case t => return TypeCheckFailure(
        s"$prettyName needs a foldable array<boolean> of directions, got ${t.simpleString}")
    }
    kExpr.dataType match {
      case IntegerType if kExpr.foldable =>
        kExpr.eval(null) match {
          case null => TypeCheckFailure(s"$prettyName k must not be NULL")
          case i: Integer if i <= 0 => TypeCheckFailure(s"$prettyName k must be > 0, got $i")
          case _ => TypeCheckSuccess
        }
      case t => TypeCheckFailure(s"$prettyName needs a foldable int k, got ${t.simpleString}")
    }
  }

  private lazy val k: Int = kExpr.eval(null).asInstanceOf[Int]
  // codegen'd comparator (GenerateOrdering), not InterpretedOrdering: the
  // comparison runs once per input ROW in the hot buffer path, and the
  // compiled form is several× cheaper. Semantics are identical — the same
  // SortOrder seq with the engine's canonical null placement. @transient:
  // generated classes don't serialize; each executor compiles its own
  @transient private lazy val ordering: Ordering[InternalRow] = {
    val asc = ascExpr.eval(null).asInstanceOf[ArrayData].toBooleanArray()
    org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering.generate(
      keySchema.fields.zipWithIndex.toIndexedSeq.map {
        case (f, i) =>
          SortOrder(BoundReference(i, f.dataType, f.nullable),
            if (asc(i)) Ascending else Descending) // canonical null placement
      })
  }
  // floating keys are normalized (-0.0 → 0.0, canonical NaN) so the page
  // groups exactly like SQL GROUP BY / the groupBy plan this replaces —
  // without it, 0.0 and -0.0 would be distinct byte-wise UnsafeRow keys
  @transient private lazy val keyProj = UnsafeProjection.create(
    keySchema.fields.zipWithIndex.toIndexedSeq.map { case (f, i) =>
      org.apache.spark.sql.graftshim.Internals.normalizeFloats(
        BoundReference(i, f.dataType, f.nullable))
    })

  override def createAggregationBuffer(): java.util.TreeMap[InternalRow, java.lang.Long] =
    new java.util.TreeMap[InternalRow, java.lang.Long](ordering)

  /** Insert/count a key, keeping only the k smallest distinct keys.
    * The value type is the BOXED java.lang.Long on purpose: with
    * scala.Long, `get` on an absent key would unbox null to 0 and the
    * null check would silently always pass (storing the reused probe row
    * as a map key — every distinct key would collapse into one entry).
    */
  private def offer(b: java.util.TreeMap[InternalRow, java.lang.Long],
                    key: InternalRow, cnt: Long, copyOnInsert: Boolean): Unit = {
    val cur = b.get(key)
    if (cur ne null)
      b.put(key, cur + cnt) // TreeMap keeps the existing key object
    else if (b.size < k)
      b.put(if (copyOnInsert) key.asInstanceOf[UnsafeRow].copy() else key, cnt)
    else if (ordering.compare(key, b.lastKey()) < 0) {
      b.put(if (copyOnInsert) key.asInstanceOf[UnsafeRow].copy() else key, cnt)
      b.remove(b.lastKey()) // evict the (now) largest — provably not top-k
    } // else: ≥ k smaller keys exist; the key can never be in the page
  }

  override def update(b: java.util.TreeMap[InternalRow, java.lang.Long],
                      input: InternalRow): java.util.TreeMap[InternalRow, java.lang.Long] = {
    val v = child.eval(input).asInstanceOf[InternalRow]
    // CreateStruct never yields null, but the function is SQL-registered —
    // a caller passing a nullable struct column directly gets skip-the-row
    // semantics (matching how agg functions ignore null inputs), not an NPE
    if (v ne null) offer(b, keyProj(v), 1L, copyOnInsert = true)
    b
  }

  override def merge(b1: java.util.TreeMap[InternalRow, java.lang.Long],
                     b2: java.util.TreeMap[InternalRow, java.lang.Long]): java.util.TreeMap[InternalRow, java.lang.Long] = {
    val it = b2.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      offer(b1, e.getKey, e.getValue, copyOnInsert = false) // keys already owned copies
    }
    b1
  }

  override def eval(buffer: java.util.TreeMap[InternalRow, java.lang.Long]): Any = {
    val out = new Array[Any](buffer.size)
    val it = buffer.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = InternalRow(e.getKey, e.getValue)
      i += 1
    }
    new GenericArrayData(out) // TreeMap iterates in page order
  }

  override def serialize(buffer: java.util.TreeMap[InternalRow, java.lang.Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buffer.size)
    val it = buffer.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val bytes = e.getKey.asInstanceOf[UnsafeRow].getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(storage: Array[Byte]): java.util.TreeMap[InternalRow, java.lang.Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(storage))
    val n = in.readInt()
    val b = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val bytes = new Array[Byte](len)
      in.readFully(bytes)
      val row = new UnsafeRow(keySchema.size)
      row.pointTo(bytes, len)
      b.put(row, in.readLong())
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): NextKPageAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NextKPageAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), ascExpr = newChildren(1), kExpr = newChildren(2))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst expression for the float-vector dot product — the hot
  * scalar of every similarity path (SURVEY.md §2.11). A lambda-fold
  * (`aggregate(zip_with(...))`) evaluates interpreted with per-element
  * boxing; this expression generates a primitive Java loop inside
  * whole-stage codegen. Accumulation is the same sequential left-to-right
  * double sum as the fold and the oracle's list_sum, so results are
  * bit-identical.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_fdot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  // Null semantics mirror the fold baseline (zip_with + aggregate):
  // mismatched lengths or any null element → NULL result, never a
  // silently-truncated partial dot.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native nearest-centroid assignment for the IVF coarse quantizer: the
  * `nprobe` centroid indices nearest (L2) to a float vector, ascending by
  * (distance, index) — index order breaks ties, matching a stable sort
  * over distances. The centroid matrix rides the plan as a foldable
  * literal (sketch-sized: nlist·dim doubles) and is decoded ONCE into a
  * primitive double[][] shared by all rows via a codegen reference
  * object; the per-row work is a pure primitive loop inside whole-stage
  * codegen — no row-boundary boxing, unlike a Scala UDF.
  *
  * Distances iterate the VECTOR's length (same contract as the Lloyd-pass
  * kernel); a vector longer than the centroids is a caller error and
  * throws. A null vector or null element yields NULL.
  */
case class NearestCentroids(vec: Expression, centroidsExpr: Expression, nprobeExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = centroidsExpr
  override def third: Expression = nprobeExpr
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_nearest_centroids"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    vec.dataType match {
      case ArrayType(FloatType, _) =>
      case t => return TypeCheckFailure(s"$prettyName needs array<float> vectors, got ${t.simpleString}")
    }
    centroidsExpr.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) if centroidsExpr.foldable =>
        // the expression is SQL-reachable: a foldable-but-NULL matrix (e.g.
        // CAST(NULL AS ARRAY<ARRAY<DOUBLE>>)) or a null row must fail here
        // with the function's name, not NPE later in the lazy decode
        val folded = centroidsExpr.eval(null)
        if (folded == null)
          return TypeCheckFailure(s"$prettyName centroid matrix must not be NULL")
        val ad = folded.asInstanceOf[ArrayData]
        if ((0 until ad.numElements()).exists(ad.isNullAt))
          return TypeCheckFailure(s"$prettyName centroid matrix must not contain NULL rows")
      case t => return TypeCheckFailure(
        s"$prettyName needs a foldable array<array<double>> centroid matrix, got ${t.simpleString}")
    }
    nprobeExpr.dataType match {
      case IntegerType if nprobeExpr.foldable =>
        nprobeExpr.eval(null) match {
          case null => return TypeCheckFailure(s"$prettyName nprobe must not be NULL")
          case n: Integer if n < 0 =>
            return TypeCheckFailure(s"$prettyName nprobe must be >= 0, got $n")
          case _ =>
        }
      case t => return TypeCheckFailure(s"$prettyName needs a foldable int nprobe, got ${t.simpleString}")
    }
    TypeCheckSuccess
  }

  private lazy val centroids: Array[Array[Double]] = {
    val ad = centroidsExpr.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
  }
  private lazy val nprobe: Int = nprobeExpr.eval(null).asInstanceOf[Int]

  /** Shared by eval and the generated code (via reference object). A
    * NaN distance (a corrupt vector element) ranks LAST, like +Inf —
    * selection must still return nprobe indices rather than crash on a
    * single bad embedding.
    */
  def pick(a: Array[Float]): Array[Int] = {
    val nlist = centroids.length
    val d = new Array[Double](nlist)
    var j = 0
    while (j < nlist) {
      val c = centroids(j)
      // a vector longer than the centroid dim is a caller error — name it
      // instead of surfacing a bare ArrayIndexOutOfBounds from generated code
      if (a.length > c.length)
        throw new IllegalArgumentException(
          s"graft_nearest_centroids: vector length ${a.length} exceeds centroid dimension ${c.length}")
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - c(i); s += t * t; i += 1 }
      d(j) = if (java.lang.Double.isNaN(s)) Double.PositiveInfinity else s
      j += 1
    }
    val k = math.min(nprobe, nlist)
    val picked = new Array[Int](k)
    val used = new Array[Boolean](nlist)
    var t = 0
    while (t < k) {
      var best = -1; var bd = Double.PositiveInfinity; var jj = 0
      while (jj < nlist) {
        if (!used(jj) && (best == -1 || d(jj) < bd)) { bd = d(jj); best = jj }
        jj += 1
      }
      used(best) = true; picked(t) = best; t += 1
    }
    picked
  }

  override def nullSafeEval(v: Any, c: Any, p: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    val a = new Array[Float](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      a(i) = x.getFloat(i); i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(pick(a))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, _, _) => {
      val self = ctx.addReferenceObj("nearestCentroids", this, classOf[NearestCentroids].getName)
      val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val a = ctx.freshName("a")
      s"""
         |int $n = $v.numElements();
         |float[] $a = new float[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $a[$i] = $v.getFloat($i);
         |}
         |if (!${ev.isNull}) ${ev.value} = new $gad($self.pick($a));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): Expression =
    copy(vec = f, centroidsExpr = s, nprobeExpr = t)
}

/** Native random-hyperplane LSH signature: `bits` sign bits of the
  * vector's projections onto the rows of a (foldable literal) plane
  * matrix, packed into a LONG. One codegen'd primitive loop replaces
  * bits-many interpreted `aggregate(zip_with(...))` folds — plan size
  * drops from O(bits) expressions to one, and the row loop stays inside
  * whole-stage codegen.
  *
  * Semantics are BIT-COMPATIBLE with the fold construction it replaces
  * (`Similarity.hyperplaneSignature`): a bit is set when proj >= 0 under
  * SPARK comparison semantics (NaN ranks above every value, so a NaN
  * projection sets the bit); a null vector or any null element yields
  * signature 0 (the fold's `when(null-proj >= 0, bit).otherwise(0)`
  * collapses every plane to 0). Total function — never null.
  */
case class HyperplaneSignature(vec: Expression, planesExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = planesExpr
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hyperplane_sig"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    vec.dataType match {
      case ArrayType(FloatType, _) =>
      case t => return TypeCheckFailure(s"$prettyName needs array<float> vectors, got ${t.simpleString}")
    }
    planesExpr.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) if planesExpr.foldable =>
        // a foldable-but-NULL matrix (CAST(NULL AS ...)) must fail with the
        // function's name, not NPE in the lazy decode below
        val folded = planesExpr.eval(null)
        if (folded == null)
          TypeCheckFailure(s"$prettyName plane matrix must not be NULL")
        else if ((0 until folded.asInstanceOf[ArrayData].numElements())
                   .exists(folded.asInstanceOf[ArrayData].isNullAt))
          TypeCheckFailure(s"$prettyName plane matrix must not contain NULL rows")
        // one sign bit per plane packs into a LONG; plane 64 would wrap
        // (Java shifts count mod 64) and silently corrupt bit 0
        else if (folded.asInstanceOf[ArrayData].numElements() > 64)
          TypeCheckFailure(s"$prettyName packs sign bits into a 64-bit long; more than 64 planes given")
        else TypeCheckSuccess
      case t => TypeCheckFailure(
        s"$prettyName needs a foldable array<array<double>> plane matrix, got ${t.simpleString}")
    }
  }

  private lazy val planes: Array[Array[Double]] = {
    val ad = planesExpr.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
  }

  /** Shared by eval and the generated code (via reference object). */
  def sig(x: Any): Long = {
    if (x == null) return 0L
    val v = x.asInstanceOf[ArrayData]
    val n = v.numElements()
    val a = new Array[Float](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return 0L
      a(i) = v.getFloat(i); i += 1
    }
    var out = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      // a length mismatch leaves the bit unset: zip_with pads the shorter
      // side with nulls, so the fold's projection is null and its
      // when(proj >= 0) takes the otherwise(0) branch
      if (p.length == a.length) {
        var s = 0.0; var j = 0
        while (j < a.length) { s += a(j).toDouble * p(j); j += 1 }
        // Spark comparison semantics: NaN >= 0 is TRUE (NaN ranks last)
        if (s >= 0 || java.lang.Double.isNaN(s)) out |= (1L << b)
      }
      b += 1
    }
    out
  }

  override def eval(input: InternalRow): Any = sig(vec.eval(input))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val self = ctx.addReferenceObj("hyperplaneSig", this, classOf[HyperplaneSignature].getName)
    val v = vec.genCode(ctx)
    ev.copy(
      code = code"${v.code}\nlong ${ev.value} = $self.sig(${v.isNull} ? null : ${v.value});",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(vec = l, planesExpr = r)
}

object VectorExprs {
  import org.apache.spark.sql.functions.{lit, typedlit}
  import org.apache.spark.sql.graftshim.Internals.{column, expression}

  /** Dot product of two array<float> columns. */
  def fdot(a: Column, b: Column): Column =
    column(FloatVectorDot(expression(a), expression(b)))

  /** The `nprobe` nearest centroid indices for each vector (ascending by
    * distance, ties to the lower index).
    */
  def nearestCentroids(v: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column =
    column(NearestCentroids(expression(v), expression(typedlit(centroids)),
      expression(lit(nprobe))))

  /** Packed sign-bit LSH signature of `v` against the plane matrix. */
  def hyperplaneSig(v: Column, planes: Seq[Seq[Double]]): Column =
    column(HyperplaneSignature(expression(v), expression(typedlit(planes))))
}

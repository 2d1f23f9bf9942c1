package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, QuaternaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-dedup hot kernels (SURVEY.md
  * §2.11). The fold constructions they replace — `transform`/`array_min`
  * lambdas over per-doc token/shingle arrays — are higher-order functions,
  * which are CodegenFallback in Spark: every element evaluates through the
  * interpreted expression walker with per-element boxing, and the
  * surrounding projection drops out of whole-stage codegen (the measured
  * cutSpans precedent in NgramSpans). Each expression here is
  * BIT-COMPATIBLE with its fold twin (parity-pinned in TextHashExprsSpec)
  * and runs as one primitive loop per row:
  *
  *  - [[LshBandSigs]]: the MinHash band-signature array — replaces
  *    bands×rowsPerBand interpreted `array_min(transform(ids, xxhash64))`
  *    passes with ONE pass per (band, row) over a primitive long array,
  *    using the same `XXH64` kernel Spark's own codegen'd `xxhash64`
  *    calls;
  *  - [[TokenWindows]]: the n-token sliding-window join (`shingles`) —
  *    replaces the interpreted per-window `concat_ws(element_at...)`
  *    lambda;
  *  - [[TokenWindowMd5s]]: the n-token window md5 array (`windowHashes`)
  *    — same windows, digested to the md5 hex string the decontam family
  *    keys on (commons-codec `md5Hex`, the exact function Spark's `md5`
  *    evaluates).
  */
object TextHashExprs {
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.graftshim.Internals.{column, expression}

  def lshBandSigs(ids: Column, bands: Int, rowsPerBand: Int, seed: Long): Column =
    column(LshBandSigs(expression(ids), expression(lit(bands)),
      expression(lit(rowsPerBand)), expression(lit(seed))))

  def tokenWindows(toks: Column, n: Int): Column =
    column(TokenWindows(expression(toks), expression(lit(n))))

  def tokenWindowMd5s(toks: Column, n: Int): Column =
    column(TokenWindowMd5s(expression(toks), expression(lit(n))))

  def winnowMinMd5s(toks: Column, k: Int, window: Int): Column =
    column(WinnowMinMd5s(expression(toks), expression(lit(k)), expression(lit(window))))
}

/** MinHash band signatures over a doc's (sorted, distinct) shingle-hash
  * array: one `(band, bsig)` struct per band, where
  * bsig = xxhash64-fold over the band's `rowsPerBand` min-rehashes and
  * each min-rehash r is `min over ids of xxhash64(id, seed + band*rpb + r)`.
  *
  * Bit-compatible with the fold construction it replaces
  * (`array_min(transform(ids, x => xxhash64(x, lit(s))))` per (band, row),
  * then `xxhash64(min_0.., min_rpb-1)`), reproduced exactly via Spark's
  * own `XXH64` kernel with the same accumulation order: per element the
  * running hash starts at 42 (Spark's xxhash64 default seed), folds the
  * element, then folds the per-(band,row) seed; a NULL element skips only
  * its own fold (Spark hash expressions skip null children); an EMPTY or
  * NULL array yields no min for any row, so every band's bsig is the bare
  * seed 42 — all exactly the fold's semantics. Total function: never
  * null, always `bands` structs.
  */
case class LshBandSigs(ids: Expression, bandsExpr: Expression,
                       rowsExpr: Expression, seedExpr: Expression)
    extends QuaternaryExpression {

  override def first: Expression = ids
  override def second: Expression = bandsExpr
  override def third: Expression = rowsExpr
  override def fourth: Expression = seedExpr
  override def prettyName: String = "graft_lsh_band_sigs"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bsig", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    ids.dataType match {
      case ArrayType(LongType, _) =>
      case t => return TypeCheckFailure(
        s"$prettyName needs an array<bigint> shingle-hash column, got ${t.simpleString}")
    }
    def foldableInt(e: Expression, what: String, min: Int): Option[org.apache.spark.sql.catalyst.analysis.TypeCheckResult] =
      e.dataType match {
        case IntegerType if e.foldable =>
          e.eval(null) match {
            case null => Some(TypeCheckFailure(s"$prettyName $what must not be NULL"))
            case v: Integer if v < min =>
              Some(TypeCheckFailure(s"$prettyName $what must be >= $min, got $v"))
            case _ => None
          }
        case t => Some(TypeCheckFailure(s"$prettyName needs a foldable int $what, got ${t.simpleString}"))
      }
    val bad = foldableInt(bandsExpr, "bands", 1)
      .orElse(foldableInt(rowsExpr, "rowsPerBand", 1))
    if (bad.isDefined) return bad.get
    seedExpr.dataType match {
      case LongType if seedExpr.foldable =>
        if (seedExpr.eval(null) == null)
          return TypeCheckFailure(s"$prettyName seed must not be NULL")
      case t => return TypeCheckFailure(
        s"$prettyName needs a foldable bigint seed, got ${t.simpleString}")
    }
    TypeCheckSuccess
  }

  private lazy val bands: Int = bandsExpr.eval(null).asInstanceOf[Int]
  private lazy val rowsPerBand: Int = rowsExpr.eval(null).asInstanceOf[Int]
  private lazy val seed: Long = seedExpr.eval(null).asInstanceOf[Long]

  /** Shared by eval and the generated code (via reference object). */
  def sigs(x: Any): ArrayData = {
    val arr = if (x == null) null else x.asInstanceOf[ArrayData]
    val n = if (arr == null) 0 else arr.numElements()
    // xxhash64(x, lit(s)) evaluates as fold(s, fold(x, 42)) — the inner
    // fold(x, 42) is independent of the per-(band, row) seed s, so hoist
    // it once per element instead of recomputing it bands×rowsPerBand
    // times (a NULL element skips only its own fold, leaving the bare 42)
    val h0 = new Array[Long](n)
    var e = 0
    while (e < n) {
      h0(e) = if (arr.isNullAt(e)) 42L else XXH64.hashLong(arr.getLong(e), 42L)
      e += 1
    }
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var bsig = 42L // xxhash64's default seed — the fold over the mins
      var r = 0
      while (r < rowsPerBand) {
        val s = seed + (b.toLong * rowsPerBand + r)
        var min = 0L
        var found = false
        var i = 0
        while (i < n) {
          val h = XXH64.hashLong(s, h0(i))
          if (!found || h < min) { min = h; found = true }
          i += 1
        }
        if (found) bsig = XXH64.hashLong(min, bsig)
        r += 1
      }
      out(b) = new GenericInternalRow(Array[Any](b, bsig))
      b += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any = sigs(ids.eval(input))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val self = ctx.addReferenceObj("lshBandSigs", this, classOf[LshBandSigs].getName)
    val v = ids.genCode(ctx)
    val ad = classOf[ArrayData].getName
    ev.copy(
      code = code"""${v.code}
        |$ad ${ev.value} = $self.sigs(${v.isNull} ? null : ${v.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression, q: Expression): Expression =
    copy(ids = f, bandsExpr = s, rowsExpr = t, seedExpr = q)
}

/** Shared kernel of the two window expressions: per row, the n-token
  * sliding windows of a string array, joined by single spaces with
  * concat_ws semantics (NULL elements contribute nothing — no token, no
  * separator). An array shorter than `n` yields an EMPTY result; a NULL
  * array yields NULL — exactly the fold twins' behavior under the
  * engine's ANSI default, where `size(NULL)` is NULL, the `size < n`
  * guard is therefore not-true, and the otherwise-branch `transform`
  * propagates the NULL (parity-pinned in TextHashExprsSpec).
  */
abstract class TokenWindowExpression extends BinaryExpression {
  def toks: Expression
  def nExpr: Expression
  override def left: Expression = toks
  override def right: Expression = nExpr
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    toks.dataType match {
      case ArrayType(StringType, _) =>
      case t => return TypeCheckFailure(
        s"$prettyName needs an array<string> token column, got ${t.simpleString}")
    }
    nExpr.dataType match {
      case IntegerType if nExpr.foldable =>
        nExpr.eval(null) match {
          case null => TypeCheckFailure(s"$prettyName n must not be NULL")
          case v: Integer if v < 2 => TypeCheckFailure(s"$prettyName n must be >= 2, got $v")
          case _ => TypeCheckSuccess
        }
      case t => TypeCheckFailure(s"$prettyName needs a foldable int n, got ${t.simpleString}")
    }
  }

  protected lazy val n: Int = nExpr.eval(null).asInstanceOf[Int]

  /** Render window [p, p+n) of `arr` into `sb` with concat_ws(" ")
    * semantics; `sb` arrives cleared.
    */
  protected final def joinWindow(arr: ArrayData, p: Int,
                                 sb: java.lang.StringBuilder): Unit = {
    var k = 0
    var first = true
    while (k < n) {
      if (!arr.isNullAt(p + k)) {
        if (!first) sb.append(' ')
        sb.append(arr.getUTF8String(p + k).toString)
        first = false
      }
      k += 1
    }
  }

  /** Shared by eval and generated code: one output value per window
    * (null array → null, the ANSI fold parity).
    */
  def windows(x: Any): ArrayData = {
    if (x == null) return null
    val arr = x.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var p = 0
    while (p <= m - n) {
      sb.setLength(0)
      joinWindow(arr, p, sb)
      out(p) = emit(sb)
      p += 1
    }
    new GenericArrayData(out)
  }

  /** The per-window payload (the join itself, or its digest). */
  protected def emit(sb: java.lang.StringBuilder): Any

  override def eval(input: InternalRow): Any = windows(toks.eval(input))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val self = ctx.addReferenceObj("tokenWindows", this, getClass.getName)
      s"${ev.value} = $self.windows($v);"
    })
}

/** The n-token sliding-window join (`TextOps.shingles`' fold twin):
  * array of space-joined windows, empty below n tokens.
  */
case class TokenWindows(toks: Expression, nExpr: Expression)
    extends TokenWindowExpression {
  override def prettyName: String = "graft_token_windows"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def emit(sb: java.lang.StringBuilder): Any =
    UTF8String.fromString(sb.toString)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(toks = l, nExpr = r)
}

/** The n-token window md5 array (`NgramSpans.windowHashes`' fold twin):
  * md5 hex of each space-joined window — `DigestUtils.md5Hex` over UTF-8
  * bytes, the exact evaluation of Spark's `md5(cast(string as binary))`.
  */
case class TokenWindowMd5s(toks: Expression, nExpr: Expression)
    extends TokenWindowExpression {
  override def prettyName: String = "graft_token_window_md5s"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def emit(sb: java.lang.StringBuilder): Any =
    UTF8String.fromString(org.apache.commons.codec.digest.DigestUtils.md5Hex(
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(toks = l, nExpr = r)
}

/** The complete winnowing-fingerprint kernel (Schleimer/Wilkerson/Aiken)
  * as ONE map-side expression: per row, md5-hex each k-token window of
  * the string array (concat_ws(" ") join semantics, the
  * [[TokenWindowExpression]] kernel), then the DISTINCT minima of each
  * sliding `window` of consecutive k-gram hashes, in first-occurrence
  * order. Fewer than `window` k-grams yield the single global minimum
  * (the clipped first window); fewer than `k` tokens yield an EMPTY
  * array; a NULL token array yields NULL.
  *
  * This replaces `TextOps.winnowFingerprints`' distributed form — explode
  * to k-gram positions, a per-doc window-min (one Exchange + sort), a
  * DISTINCT (second Exchange) and a per-doc rollup (third Exchange) —
  * with zero shuffles: n_fp/min_fp derive map-side as size()/array_min()
  * of this array. Value-identical by construction (same md5 hex, same
  * lexicographic minima — hex is ASCII, so java.lang.String ordering,
  * UTF8String binary ordering and the SQL ORDER BY agree); parity-pinned
  * in TextHashExprsSpec against the shuffle form and the local
  * `TextOps.winnow` library twin.
  */
case class WinnowMinMd5s(toks: Expression, kExpr: Expression, windowExpr: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = toks
  override def second: Expression = kExpr
  override def third: Expression = windowExpr
  override def prettyName: String = "graft_winnow_min_md5s"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    toks.dataType match {
      case ArrayType(StringType, _) =>
      case t => return TypeCheckFailure(
        s"$prettyName needs an array<string> token column, got ${t.simpleString}")
    }
    def foldablePos(e: Expression, what: String): Option[org.apache.spark.sql.catalyst.analysis.TypeCheckResult] =
      e.dataType match {
        case IntegerType if e.foldable =>
          e.eval(null) match {
            case null => Some(TypeCheckFailure(s"$prettyName $what must not be NULL"))
            case v: Integer if v < 1 =>
              Some(TypeCheckFailure(s"$prettyName $what must be >= 1, got $v"))
            case _ => None
          }
        case t => Some(TypeCheckFailure(
          s"$prettyName needs a foldable int $what, got ${t.simpleString}"))
      }
    foldablePos(kExpr, "k").orElse(foldablePos(windowExpr, "window"))
      .getOrElse(TypeCheckSuccess)
  }

  private lazy val k: Int = kExpr.eval(null).asInstanceOf[Int]
  private lazy val window: Int = windowExpr.eval(null).asInstanceOf[Int]

  /** Shared by eval and the generated code (via reference object). */
  def mins(x: Any): ArrayData = {
    if (x == null) return null
    val arr = x.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val ng = m - k + 1 // number of k-grams
    if (ng < 1) return new GenericArrayData(Array.empty[Any])
    // md5-hex each k-gram (concat_ws(" ") semantics: null tokens
    // contribute nothing — no token, no separator)
    val hashes = new Array[String](ng)
    val sb = new java.lang.StringBuilder(64)
    var p = 0
    while (p < ng) {
      sb.setLength(0)
      var j = 0
      var firstTok = true
      while (j < k) {
        if (!arr.isNullAt(p + j)) {
          if (!firstTok) sb.append(' ')
          sb.append(arr.getUTF8String(p + j).toString)
          firstTok = false
        }
        j += 1
      }
      hashes(p) = org.apache.commons.codec.digest.DigestUtils.md5Hex(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      p += 1
    }
    // window minima: every full window of `window` consecutive k-gram
    // hashes; a doc with fewer than one full window keeps the single
    // clipped minimum of ALL its k-grams. Distinct in first-occurrence
    // order (the local TextOps.winnow `.distinct` contract).
    val seen = new java.util.LinkedHashSet[String]()
    if (ng <= window) {
      var best = hashes(0)
      var i = 1
      while (i < ng) { if (hashes(i).compareTo(best) < 0) best = hashes(i); i += 1 }
      seen.add(best)
    } else {
      var s = 0
      while (s <= ng - window) {
        var best = hashes(s)
        var i = s + 1
        while (i < s + window) { if (hashes(i).compareTo(best) < 0) best = hashes(i); i += 1 }
        seen.add(best)
        s += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(out)
  }

  // TernaryExpression's null-safe plumbing: a NULL token array (the only
  // nullable child — k/window are non-null foldables by the check above)
  // yields NULL, exactly the kernel's contract
  override def nullSafeEval(t: Any, kk: Any, ww: Any): Any = mins(t)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, _, _) => {
      val self = ctx.addReferenceObj("winnowMinMd5s", this, classOf[WinnowMinMd5s].getName)
      s"${ev.value} = $self.mins($v);"
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): Expression =
    copy(toks = f, kExpr = s, windowExpr = t)
}

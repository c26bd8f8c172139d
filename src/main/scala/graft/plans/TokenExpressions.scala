package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Row-local token kernels callable from generated code. Each works on
  * one row's arrays only, so an operator that used to explode a row,
  * shuffle on the row's own id and join back runs as one scan.
  */
object TokenMath {

  /** Every n-gram occurrence of the non-empty, non-null elements of
    * `toks`, in position order, each joined with `sep`. Empty when
    * fewer than `n` elements remain.
    */
  def ngrams(toks: ArrayData, n: Int, sep: UTF8String): ArrayData = {
    val len = toks.numElements()
    val ts = new Array[UTF8String](len)
    var m = 0
    var i = 0
    while (i < len) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        if (t.numBytes() > 0) { ts(m) = t; m += 1 }
      }
      i += 1
    }
    val g = m - n + 1
    if (g <= 0) return new GenericArrayData(Array.empty[Any])
    val sepBytes = sep.numBytes()
    val out = new Array[Any](g)
    var j = 0
    while (j < g) {
      var bytes = sepBytes * (n - 1)
      var p = 0
      while (p < n) { bytes += ts(j + p).numBytes(); p += 1 }
      // copy, never alias: the input tokens point into the row buffer
      val buf = new Array[Byte](bytes)
      var off = Platform.BYTE_ARRAY_OFFSET.toLong
      p = 0
      while (p < n) {
        if (p > 0) { sep.writeToMemory(buf, off); off += sepBytes }
        val t = ts(j + p)
        t.writeToMemory(buf, off)
        off += t.numBytes()
        p += 1
      }
      out(j) = UTF8String.fromBytes(buf)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Σₜ min(countₐ(t), count_b(t)) over the non-null elements: the
    * size of the multiset intersection, in O(|a| + |b|).
    */
  def overlap(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0L
    val counts = new java.util.HashMap[UTF8String, Array[Int]](na * 2)
    var i = 0
    while (i < na) {
      if (!a.isNullAt(i)) {
        val t = a.getUTF8String(i)
        var c = counts.get(t)
        if (c == null) { c = new Array[Int](1); counts.put(t, c) }
        c(0) += 1
      }
      i += 1
    }
    var common = 0L
    i = 0
    while (i < nb) {
      if (!b.isNullAt(i)) {
        val c = counts.get(b.getUTF8String(i))
        if (c != null && c(0) > 0) { c(0) -= 1; common += 1 }
      }
      i += 1
    }
    common
  }

  private[plans] def stringArray(dt: DataType): Boolean = dt match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
}

/** `token_ngrams(array<string>, n, sep) -> array<string>`: every
  * n-gram occurrence of the array's non-empty elements, in position
  * order, joined with `sep` ([[TokenMath.ngrams]]). `n` must be a
  * positive integer literal.
  */
final case class TokenNgramsExpression(first: Expression,
    second: Expression, third: Expression) extends TernaryExpression {

  private lazy val n: Int = second match {
    case Literal(v: Int, IntegerType) => v
    case _ => -1
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!TokenMath.stringArray(first.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"token_ngrams requires ARRAY<STRING>, got ${first.dataType.sql}")
    else if (!second.foldable || n <= 0)
      TypeCheckResult.TypeCheckFailure(
        "token_ngrams requires a positive INT literal gram width")
    else if (third.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"token_ngrams requires a STRING separator, got ${third.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(toks: Any, nv: Any, sep: Any): Any =
    TokenMath.ngrams(toks.asInstanceOf[ArrayData], n,
      sep.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (toks, _, sep) =>
      s"graft.plans.TokenMath.ngrams($toks, $n, $sep)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): TokenNgramsExpression =
    copy(newFirst, newSecond, newThird)

  override def prettyName: String = "token_ngrams"
}

/** `multiset_overlap(array<string>, array<string>) -> bigint`: the
  * size of the two arrays' multiset intersection
  * ([[TokenMath.overlap]]); null elements are skipped.
  */
final case class MultisetOverlapExpression(left: Expression,
    right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (!TokenMath.stringArray(left.dataType) ||
        !TokenMath.stringArray(right.dataType))
      TypeCheckResult.TypeCheckFailure(
        "multiset_overlap requires two ARRAY<STRING>, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(a: Any, b: Any): Any =
    TokenMath.overlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.TokenMath.overlap($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): MultisetOverlapExpression =
    copy(newLeft, newRight)

  override def prettyName: String = "multiset_overlap"
}

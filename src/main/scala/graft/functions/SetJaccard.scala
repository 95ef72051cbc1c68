package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass Jaccard kernel over two arrays of DISTINCT strings (sets, as
  * [[ShingleSetImpl]] produces them), shared by interpreted eval and the
  * generated code.
  *
  * The smaller array goes into an open-addressing table of its element
  * indices keyed on `UTF8String.hashCode`; every element of the other
  * array probes it once, comparing bytes only on an equal hash. The
  * result is `inter / (|a| + |b| − inter)` in doubles — the same IEEE
  * value as `size(array_intersect(a, b)).cast("double") / (size(a) +
  * size(b) − inter)` on sets. Two empty arrays give NaN, where that
  * column formulation divides by zero (an error under ANSI mode, null
  * without); `shingle_set` never yields an empty array. A null element
  * is one value, as in `array_intersect`.
  *
  * Why a kernel: `array_intersect` builds a hash set and a result array
  * per call, and a filter on the ratio pushed into a join condition
  * evaluates it once for the numerator and once for the denominator, then
  * once more in the projection. The kernel allocates one table, hashes
  * each element once and builds no result array; a verify evaluates it
  * twice per pair (join condition and projection) instead of three times.
  */
object SetJaccardImpl {
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val ns = small.numElements()
    val nb = big.numElements()
    // power-of-two table at load ≤ 1/2; slot = element index + 1, 0 = empty
    val mask = Integer.highestOneBit(math.max(ns, 1) * 2 + 1) * 2 - 1
    val slots = new Array[Int](mask + 1)
    val hashes = new Array[Int](mask + 1)
    val elems = new Array[UTF8String](ns)
    var smallHasNull = false
    var i = 0
    while (i < ns) {
      if (small.isNullAt(i)) smallHasNull = true
      else {
        val s = small.getUTF8String(i)
        val h = s.hashCode
        var p = h & mask
        while (slots(p) != 0) p = (p + 1) & mask
        slots(p) = i + 1
        hashes(p) = h
        elems(i) = s
      }
      i += 1
    }
    var inter = 0
    i = 0
    while (i < nb) {
      if (big.isNullAt(i)) { if (smallHasNull) inter += 1 }
      else {
        val t = big.getUTF8String(i)
        val h = t.hashCode
        var p = h & mask
        var found = false
        while (!found && slots(p) != 0) {
          found = hashes(p) == h && elems(slots(p) - 1) == t
          p = (p + 1) & mask
        }
        if (found) inter += 1
      }
      i += 1
    }
    inter.toDouble / (ns + nb - inter)
  }
}

/** `set_jaccard(a, b)` — double Jaccard similarity of two array<string>
  * sets ([[SetJaccardImpl]]); null if either array is null.
  */
case class SetJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"set_jaccard needs two array<string>, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "set_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any =
    SetJaccardImpl.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SetJaccardImpl.jaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SetJaccard =
    copy(left = newLeft, right = newRight)
}

object SetJaccardFn {
  def setJaccard(a: Column, b: Column): Column =
    ColumnBridge.column(
      SetJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass MinHash signature kernel, shared by interpreted eval and the
  * generated code (the loop is plain JIT-compiled Scala either way).
  *
  * For every k-char window of the string (one window of the whole string if
  * it is shorter than k) it computes two XXH64 hashes of the window bytes
  * and derives the i-th of n permutations as h1 + i*h2
  * (Kirsch–Mitzenmacher double hashing; Long wrap-around is intentional),
  * keeping a running minimum per permutation. Duplicate windows cannot
  * change a minimum, so the set-semantics of shingle-based MinHash hold
  * without materializing a distinct shingle set.
  *
  * The windows come from [[ShingleWindows]]: two byte-offset cursors walk
  * the string once and each window is hashed in place, so a document costs
  * time linear in its bytes and allocates nothing per window. A truncated
  * multi-byte tail is clamped at `numBytes`: the signature reads no byte
  * past the end of the string.
  */
object MinHashImpl {
  def sig(s: UTF8String, k: Int, n: Int): ArrayData = {
    val out = Array.fill(n)(Long.MaxValue)
    val win = new ShingleWindows(s, k)
    while (win.next()) {
      val h1 = win.hash(42L)
      val h2 = win.hash(7L)
      var i = 0
      var h = h1
      while (i < n) {
        if (h < out(i)) out(i) = h
        h += h2
        i += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** `minhash_sig(text)` — array<long> of n MinHash values over k-char
  * shingles, computed in a single projection: no shingle explode, no
  * n-column aggregation, no shuffle. The LSH banding that follows is the
  * only exchange in the whole signature pipeline.
  */
case class MinHashSig(child: Expression, k: Int, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashImpl.sig(input.asInstanceOf[UTF8String], k, n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashImpl.sig($c, $k, $n)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSigFn {
  def minhashSig(text: Column, k: Int, n: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(text), k, n))
}

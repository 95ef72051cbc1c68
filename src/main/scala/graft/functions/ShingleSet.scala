package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass distinct-shingle kernel, shared by interpreted eval and the
  * generated code.
  *
  * The distinct k-char windows of the string (one window of the whole
  * string if it is shorter than k), in first-occurrence order. Windows come
  * from [[ShingleWindows]]; each is hashed in place and probed in an
  * open-addressing table of distinct-shingle indices keyed on that hash,
  * comparing bytes only on an equal hash, and copied out only when it is
  * new — so a document costs time linear in its bytes, one copy per
  * distinct shingle and no per-window object.
  */
object ShingleSetImpl {
  def shingles(s: UTF8String, k: Int): ArrayData = {
    val win = new ShingleWindows(s, k)
    var out = new Array[UTF8String](16)
    var outHash = new Array[Long](16)
    var n = 0
    // power-of-two table at load ≤ 1/2; slot = shingle index + 1, 0 = empty
    var slots = new Array[Int](32)
    def slotOf(h: Long): Int = (h ^ (h >>> 32)).toInt & (slots.length - 1)
    def emptySlot(h: Long): Int = {
      var p = slotOf(h)
      while (slots(p) != 0) p = (p + 1) & (slots.length - 1)
      p
    }
    while (win.next()) {
      val h = win.hash(42L)
      var p = slotOf(h)
      var found = false
      while (!found && slots(p) != 0) {
        val i = slots(p) - 1
        found = outHash(i) == h && win.sameBytes(out(i))
        p = (p + 1) & (slots.length - 1)
      }
      if (!found) {
        // p is the empty slot the probe stopped at, unless the table grows
        if (n == out.length) {
          out = java.util.Arrays.copyOf(out, n * 2)
          outHash = java.util.Arrays.copyOf(outHash, n * 2)
          slots = new Array[Int](slots.length * 2)
          var i = 0
          while (i < n) { slots(emptySlot(outHash(i))) = i + 1; i += 1 }
          p = emptySlot(h)
        }
        out(n) = win.view().copy()
        outHash(n) = h
        n += 1
        slots(p) = n
      }
    }
    val res = new Array[Any](n)
    System.arraycopy(out, 0, res, 0, n)
    new GenericArrayData(res)
  }
}

/** `shingle_set(text)` — array<string> of the distinct k-char shingles of
  * a string, in first-occurrence order: one projection per document, no
  * per-window substring scan, no array-wide distinct pass.
  */
case class ShingleSet(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set"

  override def nullSafeEval(input: Any): Any =
    ShingleSetImpl.shingles(input.asInstanceOf[UTF8String], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleSetImpl.shingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

object ShingleSetFn {
  def shingleSet(text: Column, k: Int): Column =
    ColumnBridge.column(ShingleSet(ColumnBridge.expression(text), k))
}

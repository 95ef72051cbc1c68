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
  * from [[ShingleWindows]]; each is probed in a hash set as a view over the
  * input bytes and copied out only when it is new, so a document costs time
  * linear in its bytes and one copy per distinct shingle.
  */
object ShingleSetImpl {
  def shingles(s: UTF8String, k: Int): ArrayData = {
    val seen = new java.util.HashSet[UTF8String]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val win = new ShingleWindows(s, k)
    while (win.next()) {
      val sh = win.view()
      if (seen.add(sh)) out += sh.copy()
    }
    new GenericArrayData(out.toArray)
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

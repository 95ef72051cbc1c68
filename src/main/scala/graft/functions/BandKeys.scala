package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** One-pass LSH band-key kernel, shared by interpreted eval and the
  * generated code.
  *
  * Band j of a signature is the slice `sig[j·rows ..< (j+1)·rows]`; its
  * key chains `XXH64.hashLong` over the slice from seed 42, skipping null
  * elements — exactly Spark's `xxhash64(sig[j·rows], ..., sig[j·rows +
  * rows − 1])`, so the keys are bit-identical to that column formulation.
  *
  * Why a kernel: the column formulation is `bands` structs of `rows`
  * `element_at`s each inside one `explode(array(...))`. For 21 × 6 its
  * generated consume method is larger than HotSpot's 8 000-byte
  * huge-method limit (`-XX:-DontCompileHugeMethods` is off by default),
  * so the JIT never compiles it and every signature is banded by the
  * bytecode interpreter. Here the generated code is one static call and
  * the loop is ordinary JIT-compiled Scala.
  */
object BandKeysImpl {
  val Seed = 42L

  def keys(sig: ArrayData, rows: Int, bands: Int): ArrayData = {
    val n = sig.numElements()
    if (n < rows * bands) throw new IllegalArgumentException(
      s"band_keys: a signature of $n values has no $bands bands of $rows rows")
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var h = Seed
      var r = j * rows
      val end = r + rows
      while (r < end) {
        if (!sig.isNullAt(r)) h = XXH64.hashLong(sig.getLong(r), h)
        r += 1
      }
      out(j) = h
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `band_keys(sig, rows, bands)` — array<long> of the `bands` LSH band
  * keys of a MinHash signature ([[BandKeysImpl]]): one projection per
  * signature, so `posexplode` of it is the whole band table.
  */
case class BandKeys(child: Expression, rows: Int, bands: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"band_keys needs an array<bigint> signature, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_keys"

  override def nullSafeEval(input: Any): Any =
    BandKeysImpl.keys(input.asInstanceOf[ArrayData], rows, bands)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BandKeysImpl.keys($c, $rows, $bands)")

  override protected def withNewChildInternal(newChild: Expression): BandKeys =
    copy(child = newChild)
}

object BandKeysFn {
  def bandKeys(sig: Column, rows: Int, bands: Int): Column =
    ColumnBridge.column(BandKeys(ColumnBridge.expression(sig), rows, bands))
}

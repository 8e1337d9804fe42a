package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The `k`-token shingles of a token array: element i joins tokens
  * i .. i+k-1 with single spaces, as `concat_ws(' ', ...)` does (null
  * tokens are skipped). Fewer than `k` tokens give an empty array; a null
  * array gives null.
  *
  * The higher-order-function form (`transform` over a `sequence`) is
  * interpreted, so the operator that evaluates it cannot join whole-stage
  * code: every explode of its shingles split its stage in two, with an
  * interpreted Generate between. This kernel generates one static call.
  */
case class Shingles(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingles need k >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"

  override protected def nullSafeEval(tokens: Any): Any =
    Shingles.of(tokens.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Shingles.of($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {
  private val Space = UTF8String.fromString(" ")

  /** Static so the generated code is a single call. */
  def of(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Any](math.max(0, n - k + 1))
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i < out.length) {
      var j = 0
      while (j < k) {
        parts(j) = if (tokens.isNullAt(i + j)) null else tokens.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

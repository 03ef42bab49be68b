package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: dot product of two `array<double>`
  * columns with LEFT-TO-RIGHT double accumulation.
  *
  * Why a custom `Expression`: the built-in formulation is
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — and higher-order
  * functions are CodegenFallback in Spark 4.1, so every similarity
  * comparison pays ~|dims| interpreted expression-node evaluations plus
  * a zipped intermediate array. This is the inner loop of every ANN /
  * embedding-dedup candidate pair, exactly where interpreted eval
  * hurts most. One compiled multiply-add loop ([[DotF64Kernel]]), no
  * intermediate array.
  *
  * Accumulation order is left-to-right in double — BIT-IDENTICAL to the
  * retained column form (`Similarity.dotViaColumns`, property-asserted)
  * and to the DuckDB oracles' `list_sum(list_zip...)` mirror, which is
  * what keeps the similarity queries hash-exact across engines.
  *
  * Null semantics mirror the column form: null if either array is null,
  * lengths differ (zip_with would pad with nulls → null sum), or any
  * element is null.
  */
case class DotF64(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_f64"

  /** `dot_f64` is session-registered SQL: without this check an
    * `array<float>` / `array<int>` argument passes analysis and
    * `ArrayData.getDouble` reads garbage bits at runtime. Fail at
    * analysis instead (internal callers cast via `Similarity.asDouble`;
    * SQL users get the error). `checkInputDataTypes` rather than
    * `ExpectsInputTypes`: the latter's `AbstractDataType` signature is
    * `private[sql]`.
    */
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def nullSafeEval(l: Any, r: Any): Any = {
    val k = kernel.get()
    val d = k.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (k.wasNull) null else d
  }

  @transient private lazy val kernel = ThreadLocal.withInitial(() => new DotF64Kernel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => KernelCall(ctx, ev, classOf[DotF64Kernel],
      s"dot($a, $b)", KernelCall.IfFlagged))

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotF64 {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def dotF64(a: Column, b: Column): Column = call_function("dot_f64", a, b)
}

/** The `dot_f64` row kernel. NOT thread-safe: `wasNull` reports the
  * last call.
  */
final class DotF64Kernel {
  /** True when the last `dot` was a null result. */
  var wasNull = false

  /** Left-to-right dot product; a null result on a length mismatch or a
    * null element.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    wasNull = true
    val n = a.numElements()
    if (b.numElements() != n) return 0.0
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return 0.0
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    wasNull = false
    acc
  }
}

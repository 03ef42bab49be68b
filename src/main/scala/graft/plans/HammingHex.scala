package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Hamming distance between two equal-length
  * hex fingerprint strings (e.g. 64-bit SimHashes as 16 hex chars),
  * counted in BITS.
  *
  * Why a custom `Expression` and not built-ins: the built-in route is
  * explode(16 positions) × nibble-decode × bit-count × re-aggregate —
  * a Generate + Aggregate (i.e. real plan nodes, and a shuffle for the
  * re-aggregate) per comparison. Fingerprint comparison belongs in the
  * innermost loop of a candidate-pair join, so it must stay a scalar,
  * whole-stage-codegen-friendly expression: one loop over the two byte
  * arrays with `Integer.bitCount` ([[HammingHexKernel]]).
  *
  * Null/length semantics: null if either side is null (BinaryExpression
  * default), lengths differ, or a non-hex char appears — malformed input
  * surfaces as null, never as a wrong distance.
  */
case class HammingHex(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "hamming_hex"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val d = kernel.get().distance(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
    if (d < 0) null else d
  }

  @transient private lazy val kernel = ThreadLocal.withInitial(() => new HammingHexKernel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => KernelCall(ctx, ev, classOf[HammingHexKernel],
      s"distance($a, $b)", KernelCall.IfEquals("-1")))

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HammingHex {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def hammingHex(a: Column, b: Column): Column =
    call_function("hamming_hex", a.cast("string"), b.cast("string"))
}

/** The `hamming_hex` row kernel; stateless. */
final class HammingHexKernel {
  private def nibble(b: Byte): Int = {
    val c = b & 0xff
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1
  }

  /** Bit distance, or -1 (a null result) on a length mismatch or a
    * non-hex character.
    */
  def distance(l: UTF8String, r: UTF8String): Int = {
    val a = l.getBytes
    val b = r.getBytes
    if (a.length != b.length) return -1
    var d = 0
    var i = 0
    while (i < a.length) {
      val na = nibble(a(i)); val nb = nibble(b(i))
      if (na < 0 || nb < 0) return -1
      d += Integer.bitCount(na ^ nb)
      i += 1
    }
    d
  }
}

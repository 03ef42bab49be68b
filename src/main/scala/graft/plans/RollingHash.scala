package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Rabin-Karp ROLLING hashes of every
  * width-`w` byte window of a string — the primitive behind
  * winnowing-style document fingerprinting (sample `h % k == 0` windows
  * downstream and two documents sharing any w-byte run share sampled
  * fingerprints).
  *
  * Why a custom `Expression` and not built-ins: built-ins can only
  * express the O(n·w) from-scratch per-window sum (a nested
  * transform/aggregate over every offset — w multiplications per
  * window). The rolling recurrence h' = (h - c₀·B^(w-1))·B + c_w is
  * O(n) total and belongs inside whole-stage codegen, not in a
  * Generate + lambda pipeline: one loop ([[RollingHashesKernel]]).
  *
  * Arithmetic is engine-portable BY CONSTRUCTION (the DuckDB oracle
  * re-derives the same values): h(window) = Σ byte_j · B^(w-1-j) mod P
  * with B=257, P=2^31-1. All intermediates fit a signed 64-bit integer
  * (P·B ≈ 5.5e11; direct 16-term sums ≈ 8.8e12).
  *
  * Hashes are over UTF-8 BYTES; feed ASCII-normalized text (e.g.
  * `Text.normalize`) when cross-engine parity with codepoint-based SQL
  * (`ascii(substr(...))`) is required. Null if either input is null or
  * `w <= 0`; shorter-than-w strings yield an empty array.
  */
case class RollingHashes(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "rolling_hashes"

  override def nullSafeEval(str: Any, w: Any): Any =
    kernel.get().hashes(str.asInstanceOf[UTF8String], w.asInstanceOf[Int])

  @transient private lazy val kernel = ThreadLocal.withInitial(() => new RollingHashesKernel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (str, w) => KernelCall(ctx, ev, classOf[RollingHashesKernel],
      s"hashes($str, $w)", KernelCall.IfNullRef))

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object RollingHashes {
  /** Polynomial base and modulus — small enough that every intermediate
    * (and the oracle's 16-term direct sums) fits signed 64-bit in ANY
    * engine, large enough for a ~2^31 hash space. Constants, so the
    * kernel's `% Modulus` compiles to a division by a literal.
    */
  final val Base = 257L
  final val Modulus = 2147483647L

  /** The direct-sum coefficients B^(w-1-j) mod P for j < w — embedded as
    * literals in the DuckDB oracle so both engines compute the identical
    * polynomial.
    */
  def coefficients(w: Int): Seq[Long] = {
    require(w > 0)
    // [B^(w-1), ..., B^1, B^0]
    (0 until w).scanRight(1L)((_, acc) => acc * Base % Modulus).tail
  }

  /** Column API. Requires `GraftExtensions` installed in the session. */
  def rollingHashes(str: Column, w: Int): Column =
    call_function("rolling_hashes", str.cast("string"),
      org.apache.spark.sql.functions.lit(w))
}

/** The `rolling_hashes` row kernel; stateless. */
final class RollingHashesKernel {
  /** The window hashes, or null (a null result) when `w <= 0`. */
  def hashes(str: UTF8String, w: Int): GenericArrayData = {
    if (w <= 0) return null
    val bytes = str.getBytes
    val n = bytes.length - w + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val B = RollingHashes.Base
    val P = RollingHashes.Modulus
    // B^(w-1) mod P — the coefficient of the byte leaving the window
    var c0 = 1L
    var k = 1
    while (k < w) { c0 = c0 * B % P; k += 1 }
    val out = new Array[Long](n)
    var h = 0L
    var i = 0
    while (i < w) { h = (h * B + (bytes(i) & 0xff)) % P; i += 1 }
    out(0) = h
    var j = 1
    while (j < n) {
      h = ((h - (bytes(j - 1) & 0xff) * c0 % P + P) % P * B + (bytes(j + w - 1) & 0xff)) % P
      out(j) = h
      j += 1
    }
    new GenericArrayData(out)
  }
}

package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: per element of a string array, the first
  * 32 bits of md5 as an unsigned long — the one-permutation-MinHash base
  * hash (`Dedup.hashValues`) in a single pass.
  *
  * Why a custom `Expression`: the built-in formulation is two NESTED
  * higher-order-function lambdas (md5 → hex substring, then an 8-step
  * nibble decode), and lambdas are CodegenFallback in Spark 4.1 — ~30
  * interpreted expression nodes per shingle. This expression is one
  * loop over one reused `MessageDigest` ([[Md5Kernel]]) and a direct
  * big-endian read of the first 4 digest bytes — bit-identical to
  * decoding the first 8 hex chars (property-asserted).
  *
  * Null input → null; a null ELEMENT → null result (the tokenizer never
  * produces one; garbage in surfaces as null, not a wrong hash).
  */
case class Md5Prefix32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "md5_prefix32"

  override def nullSafeEval(input: Any): Any =
    kernel.get().prefixes(input.asInstanceOf[ArrayData])

  @transient private lazy val kernel = ThreadLocal.withInitial(() => new Md5Kernel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => KernelCall(ctx, ev, classOf[Md5Kernel],
      s"prefixes($arr)", KernelCall.IfNullRef))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Prefix32 {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def md5Prefix32(arr: Column): Column = call_function("md5_prefix32", arr)
}

/** The row kernel of `md5_prefix32` and `simhash_hex`. NOT thread-safe:
  * it holds one `MessageDigest`, reset by each `digest` call.
  */
final class Md5Kernel {
  private val md = java.security.MessageDigest.getInstance("MD5")

  /** Per element, the first 32 md5 bits as an unsigned long; null (a
    * null result) on a null element.
    */
  def prefixes(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val d = md.digest(arr.getUTF8String(i).getBytes)
      out(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The 16-hex-char SimHash of the terms (see [[SimHashHex]]); null (a
    * null result) on an empty array or a null element.
    */
  def simhash(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    if (n == 0) return null
    val cnt = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val d = md.digest(arr.getUTF8String(i).getBytes)
      var j = 0
      while (j < 8) { // first 8 digest bytes = first 16 hex nibbles
        val b = d(j) & 0xff
        var k = 0
        while (k < 8) { // bit 7..0 of the byte = 2 nibbles' 4 bits each
          cnt(j * 8 + k) += (b >>> (7 - k)) & 1
          k += 1
        }
        j += 1
      }
      i += 1
    }
    val out = new Array[Byte](16)
    var p = 0
    while (p < 16) {
      var v = 0
      var k = 0
      while (k < 4) {
        v = (v << 1) | (if (2 * cnt(p * 4 + k) > n) 1 else 0)
        k += 1
      }
      out(p) = Md5Kernel.Hex(v)
      p += 1
    }
    UTF8String.fromBytes(out)
  }
}

object Md5Kernel {
  private val Hex: Array[Byte] = "0123456789abcdef".getBytes("US-ASCII")
}

package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: all banded one-permutation MinHash
  * signatures of a base-hash array in ONE pass — `numBands` strings,
  * band j = comma-joined `bandSize` derived minhashes
  * min_v((v·a_k + b_k) mod P) for k = j·bandSize ….
  *
  * Why a custom `Expression`: the built-in formulation is `numBands ×
  * bandSize` separate `array_min(transform(hv, …))` passes — and
  * higher-order-function lambdas are CodegenFallback in Spark 4.1, so
  * every element of every pass goes through interpreted expression eval.
  * For b=24/r=3 that is 72 interpreted array traversals per document.
  * This expression is the same arithmetic as ONE codegen'd tight loop
  * ([[MinHashSigsKernel]]): O(numBands · bandSize · |hv|) multiply-mods
  * on a primitive long[].
  *
  * The kernel reads the (a_k, b_k) family and modulus from
  * `Dedup.hashParams` / `HashModulus` — signatures are bit-identical to
  * the column formulation (asserted by DedupProperties) and to the
  * DuckDB oracle's embedded literals. Null on null/empty input (callers
  * filter empty-shingle docs before signing) or non-positive band
  * counts.
  */
case class MinHashSigs(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(hvAny: Any, nbAny: Any, bsAny: Any): Any =
    kernel.get().sigs(hvAny.asInstanceOf[ArrayData], nbAny.asInstanceOf[Int],
      bsAny.asInstanceOf[Int])

  @transient private lazy val kernel = ThreadLocal.withInitial(() => new MinHashSigsKernel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hv, nb, bs) => KernelCall(ctx, ev, classOf[MinHashSigsKernel],
      s"sigs($hv, $nb, $bs)", KernelCall.IfNullRef))

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
                                                 newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object MinHashSigs {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def minhashSigs(hv: Column, numBands: Int, bandSize: Int): Column =
    call_function("minhash_sigs", hv,
      org.apache.spark.sql.functions.lit(numBands),
      org.apache.spark.sql.functions.lit(bandSize))
}

/** The `minhash_sigs` row kernel. NOT thread-safe: it keeps the hash
  * family's (a_k, b_k), computed once per instance and extended when a
  * row asks for more hashes than any row before it.
  */
final class MinHashSigsKernel {
  private var as = new Array[Long](0)
  private var bs = new Array[Long](0)

  private def params(count: Int): Unit = if (as.length < count) {
    as = new Array[Long](count)
    bs = new Array[Long](count)
    var k = 0
    while (k < count) {
      val (a, b) = graft.operators.Dedup.hashParams(k)
      as(k) = a
      bs(k) = b
      k += 1
    }
  }

  /** The band signatures, or null (a null result) on an empty hash
    * array or a non-positive band count or size.
    */
  def sigs(hvData: ArrayData, numBands: Int, bandSize: Int): GenericArrayData = {
    val hv = hvData.toLongArray()
    if (hv.isEmpty || numBands <= 0 || bandSize <= 0) return null
    params(numBands * bandSize)
    val out = new Array[Any](numBands)
    var j = 0
    while (j < numBands) {
      val sb = new java.lang.StringBuilder
      var k = 0
      while (k < bandSize) {
        val a = as(j * bandSize + k)
        val b = bs(j * bandSize + k)
        var m = Long.MaxValue
        var i = 0
        while (i < hv.length) {
          val h = (hv(i) * a + b) % graft.operators.Dedup.HashModulus
          if (h < m) m = h
          i += 1
        }
        if (k > 0) sb.append(',')
        sb.append(m)
        k += 1
      }
      out(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new GenericArrayData(out)
  }
}

package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}

/** Native Catalyst expression: the 64-bit SimHash of a term array as a
  * 16-char hex string, computed in ONE map-side pass.
  *
  * Why a custom `Expression`: the relational formulation
  * (`Dedup.simhashViaAgg`, kept as the cross-check oracle) explodes
  * every document into |terms| × 16 nibble rows and majority-votes in a
  * `groupBy(doc_id, position)` — the explode multiplies the shuffle by
  * 16× the term count, and fingerprinting is per-document arithmetic
  * that needs no exchange at all. This expression digests each term
  * once (one reused `MessageDigest`, [[Md5Kernel]]), accumulates the
  * 64 bit-counts in a local array, and emits the
  * majority fingerprint — the whole SimHash pass becomes a narrow
  * projection, zero shuffles.
  *
  * Bit semantics (identical to the agg form, spec-asserted on the real
  * corpus): per term, the first 16 hex nibbles of md5(term); per bit,
  * strict majority across terms sets it (`2·ones > n`), ties clear it.
  * Null input or an EMPTY term array → null (the agg form emits no row
  * for a termless doc — callers filter nulls to match); a null element
  * → null.
  */
case class SimHashHex(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_hex"

  /** Session-registered SQL function — reject non-`array<string>` input
    * at analysis (`getUTF8String` on e.g. array<binary> would read
    * garbage). See DotF64 for why not `ExpectsInputTypes`.
    */
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    kernel.get().simhash(input.asInstanceOf[ArrayData])

  @transient private lazy val kernel = ThreadLocal.withInitial(() => new Md5Kernel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => KernelCall(ctx, ev, classOf[Md5Kernel],
      s"simhash($arr)", KernelCall.IfNullRef))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashHex {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def simhashHex(terms: Column): Column = call_function("simhash_hex", terms)
}

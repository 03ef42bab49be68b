package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst expression: membership probe of a SERIALIZED Bloom
  * filter (`org.apache.spark.util.sketch.BloomFilter`, Spark's public
  * sketch API) against a string column.
  *
  * `bloom_contains(filter BINARY literal, value STRING) → BOOLEAN` with
  * the usual one-sided guarantee: `false` is definite ("not in the
  * set"), `true` may be a false positive at the filter's configured fpp.
  *
  * Why a custom `Expression`: Spark exposes Bloom filters for BUILDING
  * (`df.stat.bloomFilter`, `BloomFilterAggregate` behind runtime join
  * filters) but no public scalar probe function — the usual workaround
  * is a Scala UDF closing over the filter, which breaks whole-stage
  * codegen exactly where the probe belongs: the innermost loop of a
  * corpus-sized scan. Here the filter deserializes ONCE at plan time
  * (the binary child must be foldable), rides to executors in the
  * codegen references array (`ctx.addReferenceObj`, precisely how
  * Spark's own injected runtime Bloom filters travel), and the probe is
  * a codegen'd `mightContainBinary` on the value's UTF-8 bytes —
  * bit-identical to `putString`'s UTF-8 encoding on the build side
  * (property-asserted in DedupSpec, non-ASCII included).
  *
  * Null semantics: null value → null (BinaryExpression default); a null
  * or non-foldable filter child is rejected at analysis time.
  */
case class BloomContains(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_contains filter must be BINARY, got ${left.dataType.catalogString}")
    else if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_contains filter must be foldable (a serialized-filter literal)")
    else if (right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_contains value must be STRING, got ${right.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  /** Deserialized once per plan instance (left is foldable by contract),
    * then shared by every row — never per-row `readFrom`.
    */
  @transient private lazy val filter: BloomFilter = {
    val bytes = left.eval(null).asInstanceOf[Array[Byte]]
    require(bytes != null, "bloom_contains filter literal is null")
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  override def nullSafeEval(f: Any, v: Any): Any =
    filter.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)

  // the deserialized filter object itself is the kernel: executors get
  // it through the references array, not a per-row deserialization
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (_, v) => KernelCall(ctx, ev, classOf[BloomFilter],
      s"mightContainBinary($v.getBytes())", KernelCall.NeverNull,
      init = ctx.addReferenceObj("graftBloomFilter", filter, classOf[BloomFilter].getName)))

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomContains {
  /** Column API over a serialized filter. Requires `GraftExtensions`. */
  def bloomContains(filterBytes: Array[Byte], value: Column): Column =
    call_function("bloom_contains",
      org.apache.spark.sql.functions.lit(filterBytes), value)

  /** Serialize a built filter to the literal form `bloom_contains` takes. */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }
}

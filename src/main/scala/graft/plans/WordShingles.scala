package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: word n-gram shingles of a token array —
  * `["a","b","c","d"]`, n=3 → `["a b c", "b c d"]`.
  *
  * Why a custom `Expression`: the built-in formulation is
  * `filter(transform(sequence(...), i => concat_ws(slice(...))))` —
  * two CodegenFallback lambda traversals allocating a sliced array per
  * position. This is one compiled loop joining directly out of the
  * input `ArrayData` (`UTF8String.concatWs`, [[WordShinglesKernel]]).
  *
  * Semantics (identical to the column form, property-asserted): fewer
  * than n tokens → empty array; null input or n <= 0 → null; a null
  * ELEMENT → null result (the tokenizer never produces one).
  */
case class WordShingles(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(toksAny: Any, nAny: Any): Any =
    kernel.get().shingles(toksAny.asInstanceOf[ArrayData], nAny.asInstanceOf[Int])

  @transient private lazy val kernel = ThreadLocal.withInitial(() => new WordShinglesKernel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, n) => KernelCall(ctx, ev, classOf[WordShinglesKernel],
      s"shingles($toks, $n)", KernelCall.IfNullRef))

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object WordShingles {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def wordShingles(toks: Column, n: Int): Column =
    call_function("word_shingles", toks, org.apache.spark.sql.functions.lit(n))
}

/** The `word_shingles` row kernel; stateless. */
final class WordShinglesKernel {
  /** The n-token shingles, or null (a null result) when `n <= 0` or an
    * element is null.
    */
  def shingles(toks: ArrayData, n: Int): GenericArrayData = {
    if (n <= 0) return null
    val len = toks.numElements()
    val words = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (toks.isNullAt(i)) return null
      words(i) = toks.getUTF8String(i)
      i += 1
    }
    val count = math.max(len - n + 1, 0)
    val out = new Array[AnyRef](count)
    i = 0
    while (i < count) {
      val window = new Array[UTF8String](n)
      System.arraycopy(words, i, window, 0, n)
      out(i) = UTF8String.concatWs(WordShinglesKernel.Space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

object WordShinglesKernel {
  private val Space = UTF8String.fromString(" ")
}

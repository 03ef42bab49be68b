package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: per-gram character statistics of a string
  * array — the kernel of the Gopher-style repetition quality metrics
  * (`q_repetition`). The input is sorted INTERNALLY (a compiled
  * `Arrays.sort` over `UTF8String`, which is `Comparable`) so equal grams
  * form runs; for a run of length r over a gram of c characters:
  *
  *   - `top_chars` = r·c of the MOST FREQUENT gram (max r; equal-count
  *     ties resolved to the larger char mass — deterministic,
  *     engine-portable);
  *   - `dup_chars` = sum over runs with r ≥ 2 of r·c — the character
  *     mass inside DUPLICATED n-grams, counting every occurrence.
  *
  * Counting runs on a sorted copy replaces the hash-map histogram a
  * per-doc groupBy would shuffle the corpus for — and sorting inside the
  * expression keeps the whole pipeline compiled: the `array_sort`
  * alternative is a CodegenFallback higher-order function in Spark 4.x,
  * an interpreted comparator lambda per comparison.
  *
  * Why a custom `Expression`: the column formulation is `array_sort`
  * plus an `aggregate()` fold building a 5-field struct per element —
  * two CodegenFallback lambda chains (`TextAnalysis.runStatsViaColumns`,
  * retained as the independent bit-identity cross-check).
  *
  * Semantics: empty array → (0, 0); null input → null; a null ELEMENT →
  * null result (`word_shingles` never produces one). Characters are
  * counted as codepoints (`UTF8String.numChars`), matching SQL `length()`.
  */
case class RunStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("top_chars", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "run_stats"

  // registered as a user-callable SQL function (GraftExtensions): misuse
  // must fail at ANALYSIS with a readable message, not as a runtime
  // ClassCastException inside the generated code
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(arrAny: Any): Any =
    kernel.get().runStats(arrAny.asInstanceOf[ArrayData])

  @transient private lazy val kernel = ThreadLocal.withInitial(() => new RunsKernel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => KernelCall(ctx, ev, classOf[RunsKernel],
      s"runStats($arr)", KernelCall.IfNullRef))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RunStats {
  /** Column API (grams in any order — sorted internally). Requires
    * `GraftExtensions` installed in the session.
    */
  def runStats(grams: Column): Column =
    call_function("run_stats", grams)
}

/** The row kernel of `run_stats` and `entropy_stats`: both sort the
  * row's strings so equal ones form runs. Stateless.
  */
final class RunsKernel {
  /** `(top_chars, dup_chars)`, or null (a null result) on a null element. */
  def runStats(arr: ArrayData): InternalRow = {
    val grams = RunsKernel.sorted(arr)
    if (grams == null) return null
    val len = grams.length
    var bestRun = 0L
    var top = 0L
    var dup = 0L
    var i = 0
    while (i < len) {
      val g = grams(i)
      var j = i + 1
      while (j < len && g.equals(grams(j))) j += 1
      val run = (j - i).toLong
      val chars = run * g.numChars()
      if (run > bestRun || (run == bestRun && chars > top)) {
        bestRun = run
        top = chars
      }
      if (run >= 2) dup += chars
      i = j
    }
    new GenericInternalRow(Array[Any](top, dup))
  }

  /** `(dl, n_terms, s_micros)` (see [[EntropyStats]]), or null (a null
    * result) on a null element.
    */
  def entropyStats(arr: ArrayData): InternalRow = {
    val toks = RunsKernel.sorted(arr)
    if (toks == null) return null
    val len = toks.length
    var nTerms = 0L
    var sMicros = 0L
    var i = 0
    while (i < len) {
      val t = toks(i)
      var j = i + 1
      while (j < len && t.equals(toks(j))) j += 1
      val run = (j - i).toLong
      nTerms += 1L
      sMicros += run * Math.round(Math.log(run.toDouble) * 1000000.0)
      i = j
    }
    new GenericInternalRow(Array[Any](len.toLong, nTerms, sMicros))
  }
}

object RunsKernel {
  /** The array's strings in sorted order (`UTF8String` is `Comparable`),
    * or null when an element is null.
    */
  def sorted(arr: ArrayData): Array[UTF8String] = {
    val len = arr.numElements()
    val out = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (arr.isNullAt(i)) return null
      out(i) = arr.getUTF8String(i)
      i += 1
    }
    java.util.Arrays.sort(out.asInstanceOf[Array[AnyRef]])
    out
  }
}

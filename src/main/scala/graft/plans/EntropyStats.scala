package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Native Catalyst expression: per-document token-distribution statistics
  * for the Shannon-entropy quality signal — the lexical-diversity gate a
  * curation pipeline runs beside the Gopher repetition filters (a
  * low-entropy doc is boilerplate/keyword stuffing even when no single
  * gram dominates). One shuffle-free compiled pass; the compositional
  * formulation (`explode` → `groupBy(doc_id, term)` → `groupBy(doc_id)`)
  * shuffles the corpus-wide (doc, term) stream twice for a purely
  * per-row statistic.
  *
  * Returns `struct(dl, n_terms, s_micros)`:
  *
  *   - `dl`      — token count (Σ run lengths);
  *   - `n_terms` — distinct token count (number of runs);
  *   - `s_micros` — Σ over runs of `run · round(ln(run)·1e6)`, an EXACT
  *     integer so downstream summation/serving is order-independent.
  *     `H = ln(dl) − (s_micros/1e6)/dl` is assembled (and 6-dp rounded)
  *     in the query layer, where the float-op order is spelled once and
  *     mirrored verbatim by the DuckDB oracle. `ln(run) ≥ 0` for every
  *     run ≥ 1, so JVM `Math.round` (half-up) and SQL `round(x·1e6, 0)`
  *     (half away from zero) agree on every carry.
  *
  * The input is sorted INTERNALLY (compiled `Arrays.sort` over
  * `UTF8String`, [[RunsKernel]]) so equal tokens form runs — the
  * `RunStats` design: a hash-map histogram per row allocates per token,
  * and the `array_sort` column route is a CodegenFallback comparator
  * lambda in Spark 4.x.
  *
  * Semantics: empty array → (0, 0, 0); null input → null; a null
  * ELEMENT → null result (`Text.tokenize` never produces one).
  */
case class EntropyStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("dl", LongType, nullable = false),
    StructField("n_terms", LongType, nullable = false),
    StructField("s_micros", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "entropy_stats"

  // registered as a user-callable SQL function (GraftExtensions): misuse
  // must fail at ANALYSIS with a readable message
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(arrAny: Any): Any =
    kernel.get().entropyStats(arrAny.asInstanceOf[ArrayData])

  @transient private lazy val kernel = ThreadLocal.withInitial(() => new RunsKernel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => KernelCall(ctx, ev, classOf[RunsKernel],
      s"entropyStats($arr)", KernelCall.IfNullRef))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object EntropyStats {
  /** Column API (tokens in any order — sorted internally). Requires
    * `GraftExtensions` installed in the session.
    */
  def entropyStats(toks: Column): Column =
    call_function("entropy_stats", toks)
}

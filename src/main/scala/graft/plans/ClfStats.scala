package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: every integer the trained-quality-gate
  * featurizer (`AnalysisQueries.clfFeaturesFrom`) needs, for BOTH seed
  * classes, in ONE compiled pass over the token list —
  * `clf_stats(tokens, stopwords)` returns
  * `struct(n, n_stop, sum_len, sum_len_stop, n_distinct,
  * n_distinct_nonstop)`:
  *
  *   - `n` / `n_stop` — token count and stopword-token count (with
  *     multiplicity: the `size(filter(xs, isin(stop)))` value);
  *   - `sum_len` / `sum_len_stop` — Σ character lengths over all /
  *     stopword tokens (the `aggregate(xs, 0L, a + length(t))` value);
  *   - `n_distinct` / `n_distinct_nonstop` — distinct token counts over
  *     the full and the stopword-STRIPPED list.
  *
  * Why: the composed form ran three higher-order functions per class
  * (`filter` membership scans against a 153-literal IN list, an
  * `aggregate` length fold, `array_distinct`) — all CodegenFallback in
  * Spark 4.1, evaluated INTERPRETED once per class per pass, and the
  * negative class physically materialized the stripped token array
  * first. Every feature of both classes is derivable from this ONE
  * struct (stripped stats are exact differences: n − n_stop,
  * sum_len − sum_len_stop, n_distinct_nonstop), so the seed build and
  * the serve pass each run one compiled kernel per row. The float
  * feature arithmetic stays in the query layer, spelled identically to
  * the old column form (spec-pinned bit-equality).
  *
  * Distinct counting follows the `EntropyStats` design: sort the row's
  * tokens and count runs (no per-row hash map); stopword membership is
  * one `HashSet` probe per RUN, built once per task from the literal
  * stopword array. Semantics: empty array → all-zero struct; null input
  * (either side) → null; a null ELEMENT → null result (`Text.tokenize`
  * never produces one).
  */
case class ClfStats(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("sum_len_stop", LongType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("n_distinct_nonstop", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "clf_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!(Seq(first, second).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }) && third.dataType == org.apache.spark.sql.types.BooleanType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<string>, boolean), got " +
          s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
          s"${third.dataType.simpleString})")
    else StopwordArg.check(prettyName, second)

  override def nullSafeEval(toksAny: Any, stopsAny: Any, distAny: Any): Any =
    kernel.get().compute(toksAny.asInstanceOf[ArrayData],
      stopsAny.asInstanceOf[ArrayData], distAny.asInstanceOf[Boolean])

  @transient private lazy val kernel = ThreadLocal.withInitial(() => new ClfStatsKernel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, stops, dist) => KernelCall(ctx, ev,
      classOf[ClfStatsKernel], s"compute($toks, $stops, $dist)", KernelCall.IfNullRef))

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** The stopword argument of `clf_stats` and `strip_stops` must be a
  * constant: their kernel builds its stopword set from the first row
  * and keeps it, so a per-row column would silently apply the first
  * row's set to every row. Rejected at analysis instead.
  */
private object StopwordArg {
  def check(fn: String, stops: Expression): TypeCheckResult =
    if (stops.foldable) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn requires a constant stopword array, got the per-row expression ${stops.sql}")
}

/** The `clf_stats` row kernel. NOT thread-safe: one instance per task
  * (codegen mutable state) or per thread (interpreted path). The
  * stopword set is built once from the first row's stopword array —
  * the argument is a constant, identical every row (`StopwordArg`).
  */
final class ClfStatsKernel {
  private var stopSet: java.util.HashSet[UTF8String] = null

  private def stopSetOf(stops: ArrayData): java.util.HashSet[UTF8String] = {
    if (stopSet == null) {
      stopSet = new java.util.HashSet[UTF8String]()
      var i = 0
      while (i < stops.numElements()) {
        if (!stops.isNullAt(i)) stopSet.add(stops.getUTF8String(i).clone()): Unit
        i += 1
      }
    }
    stopSet
  }

  /** `withDistinct = false` skips the sort-and-count-runs pass and
    * returns 0 for both distinct cells — the ratio-only consumers
    * (stopword ratio, mean token length, the quality bands) never read
    * them, and the per-row sort was the kernel's dominant cost there.
    */
  def compute(arr: ArrayData, stops: ArrayData, withDistinct: Boolean): InternalRow = {
    val stopSet = stopSetOf(stops)
    val len = arr.numElements()
    var nStop = 0
    var sumLen = 0L
    var sumLenStop = 0L
    var nDistinct = 0
    var nDistinctNonstop = 0
    if (!withDistinct) {
      var i = 0
      while (i < len) {
        if (arr.isNullAt(i)) return null
        val t = arr.getUTF8String(i)
        val chars = t.numChars().toLong
        sumLen += chars
        if (stopSet.contains(t)) {
          nStop += 1
          sumLenStop += chars
        }
        i += 1
      }
    } else {
      val toks = RunsKernel.sorted(arr)
      if (toks == null) return null
      var i = 0
      while (i < len) {
        val t = toks(i)
        var j = i + 1
        while (j < len && t.equals(toks(j))) j += 1
        val run = j - i
        val chars = t.numChars().toLong
        val isStop = stopSet.contains(t)
        nDistinct += 1
        sumLen += run * chars
        if (isStop) {
          nStop += run
          sumLenStop += run * chars
        } else nDistinctNonstop += 1
        i = j
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](len, nStop, sumLen, sumLenStop, nDistinct, nDistinctNonstop))
  }

  /** [[StripStops]]' row kernel: tokens minus stopword-set members,
    * order/duplicates kept, NULL elements dropped (the HOF filter's
    * not-true semantics).
    */
  def strip(arr: ArrayData, stops: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val stopSet = stopSetOf(stops)
    val len = arr.numElements()
    val out = new Array[AnyRef](len)
    var n = 0
    var i = 0
    while (i < len) {
      if (!arr.isNullAt(i)) {
        val t = arr.getUTF8String(i)
        if (!stopSet.contains(t)) { out(n) = t; n += 1 }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (n == len) out else java.util.Arrays.copyOf(out, n))
  }
}

/** Native Catalyst expression: `strip_stops(tokens, stopwords)` — the
  * token list with stopword members removed, order and duplicates kept:
  * exactly `filter(tokens, t -> NOT t IN (stopwords…))` (a NULL element
  * is dropped by both forms — the HOF's NULL predicate is not-true).
  * Why: the `filter` higher-order function is CodegenFallback in Spark
  * 4.1, so every tokensNoStop consumer (index/termstats builds, the
  * tf family) evaluated an interpreted membership scan per row. One
  * compiled loop over the shared per-task stopword set instead.
  */
case class StripStops(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "strip_stops"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    else StopwordArg.check(prettyName, right)

  override def nullSafeEval(toksAny: Any, stopsAny: Any): Any =
    kernel.get().strip(toksAny.asInstanceOf[ArrayData], stopsAny.asInstanceOf[ArrayData])

  @transient private lazy val kernel = ThreadLocal.withInitial(() => new ClfStatsKernel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, stops) => KernelCall(ctx, ev, classOf[ClfStatsKernel],
      s"strip($toks, $stops)", KernelCall.NeverNull))

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object StripStops {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def stripStops(toks: Column, stopwords: Seq[String]): Column =
    call_function("strip_stops", toks,
      org.apache.spark.sql.functions.array(
        stopwords.map(org.apache.spark.sql.functions.lit): _*))
}

object ClfStats {
  /** Column API. Requires `GraftExtensions` installed in the session.
    * `withDistinct = false` skips the sort pass and zeroes the two
    * distinct cells — use it when only the count/length ratios are read.
    */
  def clfStats(toks: Column, stopwords: Seq[String],
               withDistinct: Boolean = true): Column =
    call_function("clf_stats", toks,
      org.apache.spark.sql.functions.array(
        stopwords.map(org.apache.spark.sql.functions.lit): _*),
      org.apache.spark.sql.functions.lit(withDistinct))
}

package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine Catalyst extensions, installed at session build via
  * `spark.sql.extensions=graft.plans.GraftExtensions` (`EngineSession`).
  * Registers the native expressions of [[GraftExtensions.functions]] for
  * both the SQL and Column surfaces, and the `PrunedBucketScan`
  * query-stage preparation rule.
  *
  * The kernel contract of the native scalar expressions:
  *   - One algorithm. Each expression's row algorithm is written once,
  *     as a method of a Scala kernel class. `nullSafeEval` and the
  *     generated code both call it; the generated code is the one
  *     template of [[KernelCall]], which holds no loop or arithmetic.
  *   - State. A kernel instance lives in codegen mutable state, one per
  *     task, and in a `ThreadLocal` on the interpreted path, so a kernel
  *     may keep state across rows (a `MessageDigest`, the gram memo, the
  *     stopword set, the MinHash family) and need not be thread-safe.
  *   - Nulls. A kernel returns null for a null result, or a sentinel
  *     where the range leaves one free (-1 for a Hamming distance), or
  *     sets a `wasNull` flag on its instance (`dot_f64`), so an `int` or
  *     `double` result is never boxed.
  *   - No `CodegenFallback`: it would evaluate the children interpreted,
  *     the per-row cost these expressions exist to remove. Children stay
  *     generated code and reach the kernel through `nullSafeCodeGen`.
  *
  * A new function is one entry of [[GraftExtensions.functions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectQueryStagePrepRule(_ => PrunedBucketScan)
  }
}

object GraftExtensions {
  private type Function = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** The registration of `name`: its `ExpressionInfo` names the built
    * class, and a call with other than `arity` arguments fails analysis
    * with a message naming the function and its argument count.
    */
  private def fn[E <: Expression](name: String, arity: Int)(build: Seq[Expression] => E)(
      implicit built: ClassTag[E]): Function = (
    FunctionIdentifier(name),
    new ExpressionInfo(built.runtimeClass.getName, name),
    (children: Seq[Expression]) => {
      require(children.size == arity,
        s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}, " +
          s"got ${children.size}")
      build(children)
    })

  /** Every native function of the engine. */
  private[graft] val functions: Seq[Function] = Seq(
    fn("hamming_hex", 2)(c => HammingHex(c(0), c(1))),
    fn("rolling_hashes", 2)(c => RollingHashes(c(0), c(1))),
    fn("minhash_sigs", 3)(c => MinHashSigs(c(0), c(1), c(2))),
    fn("md5_prefix32", 1)(c => Md5Prefix32(c(0))),
    fn("word_shingles", 2)(c => WordShingles(c(0), c(1))),
    fn("simhash_hex", 1)(c => SimHashHex(c(0))),
    fn("dot_f64", 2)(c => DotF64(c(0), c(1))),
    fn("run_stats", 1)(c => RunStats(c(0))),
    fn("bloom_contains", 2)(c => BloomContains(c(0), c(1))),
    fn("entropy_stats", 1)(c => EntropyStats(c(0))),
    fn("gram_buckets", 3)(c => GramBuckets(c(0), c(1), c(2))),
    fn("gram_shares", 3)(c => GramShares(c(0), c(1), c(2))),
    fn("grad_sum128", 3)(c => GradSum128(c(0), c(1), c(2))),
    fn("clf_stats", 3)(c => ClfStats(c(0), c(1), c(2))),
    fn("strip_stops", 2)(c => StripStops(c(0), c(1))))
}

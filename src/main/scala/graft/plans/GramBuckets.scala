package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the hashed char-n-gram BUCKET HISTOGRAM
  * of a string — for every byte window of width `n`, the md5-prefix32
  * bucket `h % d`, counted into a d-cell array. The fastText-shaped
  * featurizer's inner loop (`Classifier.hashedGramVector`).
  *
  * Why a custom `Expression`: the built-in formulation is a
  * transform(sequence → substr) gram list, an md5 pass, and d
  * list-filter passes — higher-order functions are CodegenFallback in
  * Spark 4.1 and the d feature projections give the interpreter no
  * common-subexpression reuse, so every row pays d full gram+md5
  * passes (measured: minutes per fit at sf0.001). This expression is
  * ONE loop — one `MessageDigest` reused via update(bytes, i, n), one
  * histogram ([[GramMd5Cache]]) — inside whole-stage codegen; the d downstream
  * `element_at` projections read the one histogram through codegen
  * subexpression elimination.
  *
  * Buckets are md5-derived and therefore ENGINE-PORTABLE: bucket =
  * (first 8 md5 hex chars as unsigned) mod d, which the DuckDB oracle
  * re-derives from the hex text (for d = 16 it is just the 8th
  * nibble). Windows are over UTF-8 BYTES; feed ASCII-normalized text
  * (tokenizer output) when parity with codepoint-based SQL is
  * required — the `RollingHashes` discipline. Null if any input is
  * null or `n <= 0` / `d <= 0`; shorter-than-n strings yield the
  * all-zero histogram.
  */
case class GramBuckets(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "gram_buckets"

  override def nullSafeEval(str: Any, nAny: Any, dAny: Any): Any =
    cache.get().buckets(str.asInstanceOf[UTF8String], nAny.asInstanceOf[Int],
      dAny.asInstanceOf[Int])

  @transient private lazy val cache = ThreadLocal.withInitial(() => new GramMd5Cache)

  // ONE md5-prefix cache per generated operator instance (= per task):
  // char n-grams are Zipf-repeated (≤ |alphabet|^n distinct over
  // tokenizer output), so after warm-up nearly every window is a cache
  // probe instead of a full MessageDigest round — bit-identical buckets
  // (the cache stores the md5 prefix itself, keyed by the raw window
  // bytes).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (str, n, d) => KernelCall(ctx, ev, classOf[GramMd5Cache],
      s"buckets($str, $n, $d)", KernelCall.IfNullRef))

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Open-addressing memo of `md5_prefix32` values for byte windows of
  * length ≤ 7, keyed by the raw window bytes (length-tagged, packed into
  * one long — injective, so a hit can never alias a different gram).
  * NOT thread-safe: one instance per task (codegen mutable state) or per
  * thread (interpreted path). Grows ×4 from 4 Ki to a 512 Ki-entry cap (8 MB);
  * past the cap new grams simply hash directly — correctness never
  * depends on a hit, every value IS the md5 prefix. Windows longer than
  * 7 bytes bypass the cache (no packed key).
  */
final class GramMd5Cache {
  private var keys = new Array[Long](1 << 12)
  private var vals = new Array[Long](1 << 12)
  private var used = 0
  private val md = java.security.MessageDigest.getInstance("MD5")

  private def md5Of(bytes: Array[Byte], off: Int, n: Int): Long = {
    md.update(bytes, off, n)
    val dg = md.digest() // digest() resets the instance
    ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
      ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
  }

  private def grow(): Unit = {
    val ok = keys
    val ov = vals
    keys = new Array[Long](ok.length << 2)
    vals = new Array[Long](ok.length << 2)
    val mask = keys.length - 1
    var i = 0
    while (i < ok.length) {
      val k = ok(i)
      if (k != 0L) {
        var s = (java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L)) & mask
        while (keys(s) != 0L) s = (s + 1) & mask
        keys(s) = k
        vals(s) = ov(i)
      }
      i += 1
    }
  }

  def prefix32(bytes: Array[Byte], off: Int, n: Int): Long = {
    if (n > 7) return md5Of(bytes, off, n)
    var key = n.toLong // length tag in the high bits — never 0 for n >= 1
    var i = 0
    while (i < n) { key = (key << 8) | (bytes(off + i) & 0xffL); i += 1 }
    val mask = keys.length - 1
    var slot = (java.lang.Long.hashCode(key * 0x9E3779B97F4A7C15L)) & mask
    while (keys(slot) != 0L) {
      if (keys(slot) == key) return vals(slot)
      slot = (slot + 1) & mask
    }
    val v = md5Of(bytes, off, n)
    if (used >= (keys.length >> 1)) {
      if (keys.length >= (1 << 19)) return v // cap: serve uncached, ≤50% load
      grow()
      val m2 = keys.length - 1
      slot = (java.lang.Long.hashCode(key * 0x9E3779B97F4A7C15L)) & m2
      while (keys(slot) != 0L) slot = (slot + 1) & m2
    }
    keys(slot) = key
    vals(slot) = v
    used += 1
    v
  }

  /** Adds the bucket `prefix32 % counts.length` of every width-n byte
    * window of `bytes` to `counts`.
    */
  private def countWindows(counts: Array[Long], bytes: Array[Byte], n: Int): Unit = {
    val m = bytes.length - n + 1
    var k = 0
    while (k < m) {
      counts((prefix32(bytes, k, n) % counts.length).toInt) += 1
      k += 1
    }
  }

  /** The `gram_buckets` row kernel (see [[GramBuckets]]); null (a null
    * result) when `n <= 0` or `d <= 0`.
    */
  def buckets(s: UTF8String, n: Int, d: Int): GenericArrayData = {
    if (n <= 0 || d <= 0) return null
    val counts = new Array[Long](d)
    countWindows(counts, s.getBytes, n)
    new GenericArrayData(counts)
  }

  /** The full `gram_shares` row kernel (see [[GramShares]]) — lives on
    * the cache object so generated code reaches it through the one
    * mutable-state reference. Returns null to signal the composed
    * form's NULL cases (non-positive d, non-positive or NULL n).
    */
  def shares(s: UTF8String, d: Int, ns: ArrayData)
      : GenericArrayData = {
    if (d <= 0) return null
    val nn = ns.numElements()
    var i = 0
    while (i < nn) {
      if (ns.isNullAt(i) || ns.getInt(i) <= 0) return null
      i += 1
    }
    val bytes = s.getBytes
    val nchars = s.numChars()
    val counts = new Array[Long](d)
    var ng = 0
    i = 0
    while (i < nn) {
      val n = ns.getInt(i)
      // ng over CHARACTERS (the composed form's length(s)), windows
      // over UTF-8 BYTES (GramBuckets' contract) — identical on the
      // ASCII-normalized tokenizer output both run on
      if (nchars - (n - 1) > 0) ng += nchars - (n - 1)
      countWindows(counts, bytes, n)
      i += 1
    }
    val out = new Array[Double](d)
    if (ng > 0) {
      var j = 0
      while (j < d) {
        // exactly Spark's round(double, 6): shortest-repr BigDecimal,
        // HALF_UP — the interpreted transform() this kernel replaces
        out(j) = java.math.BigDecimal.valueOf(counts(j) * 10.0 / ng)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        j += 1
      }
    }
    new GenericArrayData(out)
  }
}

/** Native Catalyst expression: the COMPLETE hashed-gram share vector of
  * `Classifier.hashedGramVector` in one codegen'd row kernel —
  * `gram_shares(s, d, array(n1, n2, …))` ≡
  * `transform(zip_with(gram_buckets(s,n1,d), gram_buckets(s,n2,d), +),
  *            c -> round(when(ng <= 0, 0) otherwise c*10.0/ng, 6))`.
  *
  * Why: `zip_with`/`transform` are CodegenFallback in Spark 4.1, so the
  * composed form evaluates the whole featurize projection INTERPRETED —
  * d-cell array churn per row per higher-order node (the dominant cost
  * of the ft seed featurize, ~12.6 s at sf0.1). This expression is the
  * same arithmetic in one compiled loop over one md5-prefix cache
  * ([[GramMd5Cache]]), bit-identical by the shared round/valueOf
  * semantics (spec-pinned against the composed form on real rows).
  *
  * Null semantics mirror the composed form: NULL string/d/ns (or any
  * NULL or non-positive element of ns, or d ≤ 0) → NULL.
  */
case class GramShares(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "gram_shares"

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == IntegerType &&
        (third.dataType match {
          case ArrayType(IntegerType, _) => true
          case _ => false
        })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, int, array<int>), got " +
        s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
        s"${third.dataType.simpleString})")

  override def nullSafeEval(str: Any, dAny: Any, nsAny: Any): Any =
    cache.get().shares(str.asInstanceOf[UTF8String], dAny.asInstanceOf[Int],
      nsAny.asInstanceOf[ArrayData])

  @transient private lazy val cache = ThreadLocal.withInitial(() => new GramMd5Cache)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (str, d, ns) => KernelCall(ctx, ev, classOf[GramMd5Cache],
      s"shares($str, $d, $ns)", KernelCall.IfNullRef))

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object GramShares {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def gramShares(str: Column, d: Int, ns: Seq[Int]): Column =
    call_function("gram_shares", str, lit(d),
      org.apache.spark.sql.functions.array(ns.map(n => lit(n)): _*))
}

object GramBuckets {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def gramBuckets(str: Column, n: Int, d: Int): Column =
    call_function("gram_buckets", str, lit(n), lit(d))
}

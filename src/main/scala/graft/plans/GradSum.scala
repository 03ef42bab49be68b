package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native aggregate: the wide-fit GRADIENT VECTOR in one pass —
  * per position j, the EXACT sum over rows of
  * `CAST(r AS DECIMAL(12,6)) * CAST(x_j AS DECIMAL(18,6))`, returned as
  * the d-cell `array<double>` of `BigDecimal.doubleValue()` conversions.
  *
  * Why a custom aggregate: `fitLogRegWide` previously computed this as
  * `posexplode(features) → groupBy(position) → sum(decimal product)` —
  * a d× row amplification (every seed row becomes d shuffled rows) plus
  * a d-group exchange, paid ONCE PER DESCENT ROUND (48 rounds/fit, the
  * single largest build cost in the bench: `ft_seed` 61 s quiet-host).
  * This aggregate folds the same arithmetic into one map-side-combining
  * pass (guide §2.3 "aggregate before you shuffle"): each task carries
  * d 128-bit accumulators, the exchange moves d cells per task, and the
  * explode never exists.
  *
  * EXACTNESS (the DECIMAL gradient protocol, spec-pinned): r and every
  * feature cell live on the 6dp grid by contract, so each is exactly an
  * integer count of 1e-6 ("micros"); the per-row product is exactly an
  * integer count of 1e-12, accumulated in SIGNED 128-BIT integers
  * (hi/lo long pairs — a 64-bit sum could overflow at corpus-scale row
  * counts × large standardized cells). The final per-position value is
  * the exact `BigDecimal(acc, scale = 12)` — the same rational number
  * Spark's DECIMAL sum produces — so `.doubleValue()` is bit-identical
  * to the exploded formulation's `getDecimal.doubleValue()`. Off-grid
  * inputs fall back to the exact `BigDecimal.valueOf(double)` →
  * `setScale(6, HALF_UP)` conversion (the same rounding Spark's
  * double→DECIMAL cast applies), so even a contract-violating input
  * cannot diverge from the decimal formulation.
  *
  * Null semantics mirror the exploded form: a NULL r or NULL feature
  * array contributes nothing (the decimal product would be NULL and SUM
  * skips it); a NULL cell skips that position only. A row whose array
  * length differs from `dims` fails loudly (ragged seed — the wide-fit
  * contract is fixed-length arrays).
  */
case class GradSum128(resid: Expression, feats: Expression, dimsExpr: Expression,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(resid, feats, dimsExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "grad_sum128"

  override def checkInputDataTypes(): TypeCheckResult =
    if (resid.dataType == DoubleType &&
        (feats.dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }) && dimsExpr.dataType == IntegerType && dimsExpr.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (double, array<double>, int literal), got " +
        s"(${resid.dataType.simpleString}, ${feats.dataType.simpleString}, " +
        s"${dimsExpr.dataType.simpleString})")

  private lazy val dims: Int = {
    val d = dimsExpr.eval().asInstanceOf[Int]
    require(d > 0, s"$prettyName: dims must be positive, got $d")
    d
  }

  /** Exact 6dp-grid micros of a double — the integer k with value
    * k·1e-6 equal to Spark's `CAST(x AS DECIMAL(_,6))`. Fast path: on
    * the grid with |x| ≤ 1e6 the scaled value sits within ~1e-4 of the
    * integer (injective grid→double map), so `Math.round` is exact; any
    * doubt (big magnitude, off-grid residue) takes the slow exact path —
    * `BigDecimal.valueOf` is the same shortest-representation conversion
    * Spark's Decimal(double) applies, HALF_UP at scale 6 ditto.
    */
  private def micros(x: Double): Long = {
    val s = x * 1e6
    if (math.abs(x) <= 1e6) {
      val k = Math.round(s)
      if (math.abs(s - k) < 0.01) k else microsExact(x)
    } else microsExact(x)
  }

  private def microsExact(x: Double): Long =
    java.math.BigDecimal.valueOf(x).movePointRight(6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  // buffer layout: [hi_0, lo_0, hi_1, lo_1, ...] — 2 longs per position
  override def createAggregationBuffer(): Array[Long] = new Array[Long](2 * dims)

  private def add128(buf: Array[Long], j: Int, hi: Long, lo: Long): Unit = {
    val i = 2 * j
    val aLo = buf(i + 1)
    val nLo = aLo + lo
    val carry = ((aLo & lo) | ((aLo | lo) & ~nLo)) >>> 63
    buf(i) = buf(i) + hi + carry
    buf(i + 1) = nLo
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val rAny = resid.eval(input)
    if (rAny == null) return buf
    val fAny = feats.eval(input)
    if (fAny == null) return buf
    val arr = fAny.asInstanceOf[ArrayData]
    require(arr.numElements() == dims,
      s"$prettyName: feature array has ${arr.numElements()} cells, expected $dims")
    val rm = micros(rAny.asInstanceOf[Double])
    var j = 0
    while (j < dims) {
      if (!arr.isNullAt(j)) {
        val xm = micros(arr.getDouble(j))
        add128(buf, j, Math.multiplyHigh(rm, xm), rm * xm)
      }
      j += 1
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var j = 0
    while (j < dims) {
      add128(buf, j, other(2 * j), other(2 * j + 1))
      j += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Double](dims)
    val bytes = new Array[Byte](16)
    var j = 0
    while (j < dims) {
      val hi = buf(2 * j)
      val lo = buf(2 * j + 1)
      var b = 0
      while (b < 8) {
        bytes(b) = (hi >>> (56 - 8 * b)).toByte
        bytes(8 + b) = (lo >>> (56 - 8 * b)).toByte
        b += 1
      }
      // signed two's-complement 128-bit value, scale 12 — the exact sum
      out(j) = new java.math.BigDecimal(new java.math.BigInteger(bytes), 12)
        .doubleValue()
      j += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GradSum128 =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GradSum128 =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(resid = newChildren(0), feats = newChildren(1), dimsExpr = newChildren(2))
}

object GradSum128 {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def gradSum128(resid: Column, feats: Column, dims: Int): Column =
    call_function("grad_sum128", resid, feats, lit(dims))
}

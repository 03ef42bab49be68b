package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Hamming distance between two equal-length
  * hex fingerprint strings (e.g. 64-bit SimHashes as 16 hex chars),
  * counted in BITS.
  *
  * Why a custom `Expression` and not built-ins: the built-in route is
  * explode(16 positions) × nibble-decode × bit-count × re-aggregate —
  * a Generate + Aggregate (i.e. real plan nodes, and a shuffle for the
  * re-aggregate) per comparison. Fingerprint comparison belongs in the
  * innermost loop of a candidate-pair join, so it must stay a scalar,
  * whole-stage-codegen-friendly expression. `doGenCode` emits a tight
  * loop over the two byte arrays with `Integer.bitCount`; the
  * interpreted path mirrors it exactly.
  *
  * Null/length semantics: null if either side is null (BinaryExpression
  * default), lengths differ, or a non-hex char appears — malformed input
  * surfaces as null, never as a wrong distance.
  */
case class HammingHex(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "hamming_hex"

  private def nibble(b: Byte): Int = {
    val c = b & 0xff
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[UTF8String].getBytes
    val b = r.asInstanceOf[UTF8String].getBytes
    if (a.length != b.length) null
    else {
      var d = 0
      var i = 0
      while (i < a.length) {
        val na = nibble(a(i)); val nb = nibble(b(i))
        if (na < 0 || nb < 0) return null
        d += Integer.bitCount(na ^ nb)
        i += 1
      }
      d
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ba = ctx.freshName("ba")
      val bb = ctx.freshName("bb")
      val i = ctx.freshName("i")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val acc = ctx.freshName("acc")
      // nibble decode inlined: '0'-'9' → 0-9, 'a'-'f'/'A'-'F' → 10-15, else -1
      def dec(c: String, out: String): String =
        s"""int $out = ($c >= '0' && $c <= '9') ? $c - '0'
           |  : ($c >= 'a' && $c <= 'f') ? $c - 'a' + 10
           |  : ($c >= 'A' && $c <= 'F') ? $c - 'A' + 10 : -1;""".stripMargin
      s"""
         |byte[] $ba = $a.getBytes();
         |byte[] $bb = $b.getBytes();
         |if ($ba.length != $bb.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $acc = 0;
         |  for (int $i = 0; $i < $ba.length; $i++) {
         |    ${dec(s"$ba[$i]", na)}
         |    ${dec(s"$bb[$i]", nb)}
         |    if ($na < 0 || $nb < 0) { ${ev.isNull} = true; break; }
         |    $acc += Integer.bitCount($na ^ $nb);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HammingHex {
  /** Column API. Requires `GraftExtensions` installed in the session. */
  def hammingHex(a: Column, b: Column): Column =
    call_function("hamming_hex", a.cast("string"), b.cast("string"))
}

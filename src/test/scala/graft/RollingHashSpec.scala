package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.RollingHashes
import graft.plans.RollingHashes.rollingHashes

class RollingHashSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Independent from-scratch reimplementation: direct polynomial sum per
    * window (the ORACLE form), not the rolling recurrence under test.
    */
  private def direct(s: String, w: Int): Seq[Long] = {
    val bytes = s.getBytes("UTF-8")
    val cs = RollingHashes.coefficients(w)
    (0 to bytes.length - w).map { i =>
      cs.zipWithIndex.map { case (c, j) => (bytes(i + j) & 0xff) * c }.sum % RollingHashes.Modulus
    }
  }

  private def viaExpr(s: String, w: Int): Option[Seq[Long]] =
    Seq(s).toDF("s").select(rollingHashes($"s", w).as("h"))
      .as[Option[Seq[Long]]].head()

  test("rolling recurrence equals the direct polynomial sum") {
    for (s <- Seq("abcdef", "the quick brown fox jumps over the lazy dog",
                  "aaaaaaaaaa", "ab ab ab ab ab"); w <- Seq(1, 3, 5)) {
      assert(viaExpr(s, w) === Some(direct(s, w)), s"mismatch for ($s, $w)")
    }
  }

  test("window count and edge cases") {
    assert(viaExpr("abc", 3).map(_.length) === Some(1))
    assert(viaExpr("abc", 4) === Some(Seq.empty)) // shorter than w → empty
    assert(viaExpr("", 2) === Some(Seq.empty))
    assert(viaExpr("abc", 0) === None) // invalid width → null
  }

  test("equal windows hash equal; different windows (almost surely) differ") {
    val hs = viaExpr("abcXabcY", 3).get
    assert(hs(0) === hs(4)) // both "abc"
    assert(hs(0) !== hs(1))
  }

  test("codegen and interpreted paths agree") {
    spark // force session init (codegen touches SQLConf.get)
    val expr = RollingHashes(
      org.apache.spark.sql.catalyst.expressions.Literal.create("rolling hash parity check"),
      org.apache.spark.sql.catalyst.expressions.Literal.create(4))
    val viaCodegen = org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
      .generate(Seq(expr)).apply(org.apache.spark.sql.catalyst.InternalRow.empty)
      .getArray(0).toLongArray().toSeq
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    assert(viaCodegen === interp)
    assert(viaExpr("rolling hash parity check", 4) === Some(interp))
  }
}

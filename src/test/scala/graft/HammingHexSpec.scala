package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.HammingHex.hammingHex
import graft.operators.Dedup

class HammingHexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def dist(a: String, b: String): Option[Int] =
    Seq((a, b)).toDF("a", "b").select(hammingHex($"a", $"b").as("d"))
      .as[Option[Int]].head()

  test("hamming_hex counts bit differences between hex strings") {
    assert(dist("0000", "0000") === Some(0))
    assert(dist("0000", "000f") === Some(4))
    assert(dist("ffff", "0000") === Some(16))
    assert(dist("a", "b") === Some(1)) // 1010 vs 1011 → 1 bit
  }

  test("hamming_hex handles case, length mismatch and junk") {
    assert(dist("AB", "ab") === Some(0))
    assert(dist("abc", "ab") === None) // length mismatch → null
    assert(dist("zz", "aa") === None) // non-hex → null
  }

  test("codegen and interpreted paths agree") {
    spark // force session init (codegen touches SQLConf.get)
    val expr = graft.plans.HammingHex(
      org.apache.spark.sql.catalyst.expressions.Literal.create("deadbeefdeadbeef"),
      org.apache.spark.sql.catalyst.expressions.Literal.create("deadbeffdeadbeef"))
    val viaCodegen = org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
      .generate(Seq(expr)).apply(org.apache.spark.sql.catalyst.InternalRow.empty).getInt(0)
    assert(viaCodegen === expr.eval(null))
    assert(dist("deadbeefdeadbeef", "deadbeffdeadbeef") === Some(viaCodegen))
  }

  test("simhashPairs: banding finds identical and near fingerprints") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // identical → hamming 0
      (3L, "completely different words entirely unrelated")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 2L, 0)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }
}

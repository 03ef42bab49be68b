package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Text

object SparkTestSession {
  // all pins live in the ONE shared builder (graft.util.EngineSession)
  lazy val spark: SparkSession = graft.util.EngineSession
    .builder("local[4]", "4")
    .appName("graft-test")
    .getOrCreate()
}

class TokenizerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tokensOf(text: String): Seq[String] =
    Seq(text).toDF("text").select(Text.tokenize($"text")).as[Seq[String]].head()

  private def termsOf(text: String): Seq[String] =
    Seq(text).toDF("text").select(Text.terms($"text")).as[Seq[String]].head()

  test("P1: lowercase + strip non-letters, hyphenated words merge") {
    assert(tokensOf("Rock-Band plays 7 SONGS!") === Seq("rockband", "plays", "songs"))
  }

  test("P1: leading/trailing/repeated whitespace yields no empty tokens") {
    assert(tokensOf("  the   cat\n\tsat  ") === Seq("the", "cat", "sat"))
    assert(tokensOf("") === Seq.empty)
    assert(tokensOf("42 %$#") === Seq.empty)
  }

  test("tokenize ≡ the filter(split) formulation on real corpus rows and edge strings") {
    // r22 spells tokenize as regexp_extract_all (codegen) — this pins
    // bit-equality against the original filter/split HOF form
    val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
    val oldForm = filter(split(Text.normalize(col("text")), "\\s+"), t => t =!= "")
    assert(docs.filter(!(Text.tokenize(col("text")) <=> oldForm)).count() === 0)
    val edges = Seq("", " ", "  a  b ", "\t\nx\r", "7 %$#", "Rock-Band!").toDF("text")
    assert(edges.filter(!(Text.tokenize(col("text")) <=> filter(
      split(Text.normalize(col("text")), "\\s+"), t => t =!= ""))).count() === 0)
  }

  test("langScore ≡ the filter(isin) formulation on real corpus rows") {
    // r22 serves the hit count from the clf_stats kernel — pin equality
    val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
    val toks = Text.tokenize(col("text"))
    for ((lang, words) <- graft.functions.TextAnalysis.FunctionWords) {
      val old = round(when(size(toks) === 0, 0.0)
        .otherwise(size(filter(toks, t => t.isin(words: _*))).cast("double")
          / size(toks)), 6)
      assert(docs.filter(!(old <=>
        graft.functions.TextAnalysis.langScore(toks, words))).count() === 0,
        s"langScore diverged for $lang")
    }
  }

  test("tokensNoStop ≡ the filter(isin) formulation on real corpus rows") {
    // r22 serves the strip from the strip_stops kernel — pin equality
    val docs = graft.sources.Corpus.documents(spark, "/root/testdata/sf0.001")
    val toks = Text.tokenize(col("text"))
    val old = filter(toks, t => !t.isin(Text.EffectiveStopwords: _*))
    assert(docs.filter(!(old <=> Text.tokensNoStop(col("text")))).count() === 0)
  }

  test("strip_stops / clf_stats reject a per-row stopword column at analysis") {
    // the kernels build their stopword set from the first row and keep
    // it: rows (t=[a,b], s=[a]) and (t=[a,b], s=[b]) came back [b], [b]
    val rows = Seq((Seq("a", "b"), Seq("a")), (Seq("a", "b"), Seq("b"))).toDF("t", "s")
    for (q <- Seq("strip_stops(t, s)", "clf_stats(t, s, true)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](rows.selectExpr(q).collect())
      assert(e.getMessage.contains("constant stopword array"), s"$q: ${e.getMessage}")
    }
    // a literal stopword array still analyzes and strips
    assert(rows.select(graft.plans.StripStops.stripStops($"t", Seq("a")))
      .as[Seq[String]].collect().toSeq === Seq(Seq("b"), Seq("b")))
  }

  test("F1+D1: stopwords dropped, duplicates collapsed, first-seen order") {
    assert(termsOf("the cat and the dog saw the cat") === Seq("cat", "dog", "saw"))
  }

  test("stopword list has the NLTK cardinality (179)") {
    assert(Text.NltkStopwords.size === 179)
    assert(Text.NltkStopwords.distinct.size === 179)
  }

  test("shingles: 3-gram over token stream") {
    val sh = Seq("a b c d").toDF("text").select(Text.shingles($"text", 3)).as[Seq[String]].head()
    assert(sh === Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("text").select(Text.shingles($"text", 3)).as[Seq[String]].head()
    assert(short === Seq.empty)
  }

  test("repetition fracs: planted repetitive docs, hand-computed char masses") {
    def fracsOf(text: String): (Double, Double) = {
      val (top2, dup5) = graft.functions.TextAnalysis.repetitionFracs(Text.tokenize($"text"))
      Seq(text).toDF("text").select(top2, dup5).as[(Double, Double)].head()
    }
    // "spark spark" ×3 occurrences × 11 chars = 33; total chars 23;
    // no 5-grams (4 tokens) → dup5 0
    assert(fracsOf("spark spark spark spark") === (math.rint(33.0 / 23 * 1e6) / 1e6, 0.0))
    // non-repetitive: top 2-gram "a b" (or "b c") once × 3 chars; total 5
    assert(fracsOf("a b c") === (0.6, 0.0))
    // 3×"a b c d e": every 5-gram window duplicated — "a b c d e" ×3 (27
    // chars) + 4 distinct rotations ×2 (72) = 99 dup chars; total 29;
    // top 2-gram: 5 distinct 2-grams, max count 3 ("a b" etc.) × 3 chars
    assert(fracsOf("a b c d e a b c d e a b c d e") ===
      (math.rint(9.0 / 29 * 1e6) / 1e6, math.rint(99.0 / 29 * 1e6) / 1e6))
    // empty doc: guarded division
    assert(fracsOf("") === (0.0, 0.0))
    // MOST FREQUENT wins, not max char mass: "b c" ×3 (mass 9) must beat
    // the longer single-occurrence "aaaaaa aaaaaa" (mass 13); total 25
    assert(fracsOf("aaaaaa aaaaaa b c b c b c")._1 === 0.36)
  }
}

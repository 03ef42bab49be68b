package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{InvertedIndex, TermScoring}
import graft.sources.TermStatsStore

/** The persisted term-statistics store must serve results BIT-FOR-BIT
  * equal to the direct (tokenize-the-corpus) formulations — same
  * pinning style as SimilaritySpec's stored-vs-direct ANN checks — and
  * the serving plans must carry none of the term-keyed windows the
  * store exists to kill.
  */
class TermStatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private def docs = graft.sources.Corpus.documents(spark, dir)

  /** Multiset equality with EXACT values (doubles compared bitwise via
    * Row equality) — `except` would set-dedupe and mask cardinality
    * drift.
    */
  private def assertSameRows(stored: DataFrame, direct: DataFrame): Unit = {
    assert(stored.columns.toSeq === direct.columns.toSeq)
    val cols = stored.columns
    def rows(df: DataFrame) =
      df.orderBy(cols.head, cols.tail: _*).collect().toSeq
    assert(rows(stored) === rows(direct))
  }

  test("stored tfidf ≡ direct, bit-for-bit") {
    assertSameRows(TermStatsStore.tfidf(spark, dir), TermScoring.tfidfOver(docs))
  }

  test("stored lmScore ≡ direct, bit-for-bit") {
    assertSameRows(TermStatsStore.lmScore(spark, dir), TermScoring.lmScoreOver(docs))
  }

  test("stored rankedSearch ≡ direct, bit-for-bit") {
    assertSameRows(
      TermStatsStore.rankedSearch(spark, dir, Seq("spark", "hash"), 10),
      InvertedIndex.rankedSearch(docs, Seq("spark", "hash"), 10))
  }

  test("stored bm25 ≡ direct, bit-for-bit") {
    assertSameRows(
      TermStatsStore.bm25(spark, dir, Seq("spark", "hash"), 10),
      InvertedIndex.bm25Search(docs, Seq("spark", "hash"), 10))
  }

  test("store tf stats match first principles on a tiny corpus") {
    // df counts DOCS containing the term, c counts OCCURRENCES, and the
    // stopword flag matches the engine list ("the" is a stopword)
    val st = TermStatsStore.stats(spark, dir)
      .filter(org.apache.spark.sql.functions.col("term").isin("spark", "the"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    val toks = docs
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.Text.tokenize(org.apache.spark.sql.functions.col("text"))).as("t"),
        org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def expect(term: String) = {
      val hits = toks.filter(_._1 == term)
      (hits.map(_._2).distinct.length.toLong, hits.length.toLong)
    }
    assert(st("spark")._1 === expect("spark")._1)
    assert(st("spark")._2 === expect("spark")._2)
    assert(!st("spark")._3)
    assert(st("the")._3, "'the' must be flagged as a stopword")
  }

  test("no serving plan windows on term; store queries are window-free") {
    // the straggler shape the store replaces: count/sum over
    // Window.partitionBy(term) serializes each hot term onto one task
    // AQE cannot split. None of the four scoring queries may plan ANY
    // window — df/c come from vocab-sized aggregates joined back.
    for (q <- Seq("q_tfidf", "q_lm_score", "q_ranked_search", "q_bm25")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect() // AQE: inspect the final plan the run actually used
      val wins = PlanScans.nodes(df.queryExecution.executedPlan) {
        case w: WindowExec => w
      }
      assert(wins.isEmpty, s"$q plans a window: ${wins.mkString(";")}")
    }
  }

  test("ranked/bm25 prune the bucketed tf scan to the query terms' buckets") {
    val df = TermStatsStore.rankedSearch(spark, dir, Seq("spark", "hash"), 10)
    df.collect()
    val scans = PlanScans.fileScans(df.queryExecution.executedPlan)
    val tfScans = scans.filter(_.schema.fieldNames.contains("tf"))
    assert(tfScans.nonEmpty, "ranked search must read the stored tf relation")
    assert(tfScans.forall(_.optionalBucketSet.isDefined),
      "query-term filter must bucket-prune the tf scan")
  }

  test("the public tf accessor serves exactly (doc_id, term, tf)") {
    // tfidf, lmScore and dsir join df/c columns onto it; the stored
    // relation's dl and df would make those joins ambiguous
    val tf = TermStatsStore.tf(spark, dir)
    assert(tf.schema.map(f => f.name -> f.dataType.simpleString) ===
      Seq("doc_id" -> "bigint", "term" -> "string", "tf" -> "bigint"))
    assert(tf.count() === TermStatsStore.stats(spark, dir).agg(
      org.apache.spark.sql.functions.sum("df")).head().getLong(0))
  }
}

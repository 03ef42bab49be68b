package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.TermScoring

/** Session-scoped PERSISTED term statistics — the build-once-serve-many
  * counterpart of `IndexStore`/`VectorStore` for the scoring family
  * (tf-idf, ranked retrieval, BM25, unigram LM score). A 100 TB LM
  * filter scores against precomputed unigram counts; re-deriving
  * df/c(term)/N from the raw corpus inside every query charges one full
  * tokenization pass per call.
  *
  * Four relations, built with the two posting tables as one concurrent
  * job set (`IndexFamily`): each is its own job over the corpus, and
  * none reads another's output.
  *
  *   - `tf`: (doc_id, term, tf) over the FULL token stream (stopwords
  *     INCLUDED — the LM score needs them; the stopword-free variant is
  *     an inner join against the non-stop vocabulary, identical row-set
  *     to tokenizing with the filter because `tokensNoStop` IS
  *     `filter(tokenize, !stop)`). Term-bucketed catalog table, so a
  *     query-term filter prunes to its buckets — ranked/BM25 point
  *     queries never touch the rest of the corpus.
  *   - `stats`: (term, df, c, stop) — VOCAB-sized; df = docs containing
  *     the term, c = total occurrences, stop = membership in the
  *     engine's stopword list (precomputed so serving never plans a
  *     200-literal `isin` over a corpus-sized relation). Aggregated from
  *     the same `tfRows` that `tf` writes.
  *   - `docLengths`: (doc_id, dl, dl_all) — per-doc stopword-free / full
  *     token counts, a map-side projection of `documents` (NOT from the
  *     tf rows: zero-token docs have no tf rows but must count in
  *     N/avgdl).
  *   - `scalars`: ONE row (n_docs, n_docs_distinct, avgdl, n_corpus) —
  *     broadcast by every consumer. Aggregated from the same
  *     `docLengthRows` that `docLengths` writes.
  *
  * Serving plans the same `TermScoring` combinators as the direct path,
  * so stored ≡ direct bit-for-bit (TermStatsSpec pins it): df/c/N
  * values are identical and the float op order is shared code.
  */
object TermStatsStore {

  /** (doc_id, term, tf) over the full token stream: the rows `tf` stores
    * and `stats` aggregates.
    */
  private def tfRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** (doc_id, dl, dl_all), one row per document: the rows `docLengths`
    * stores and `scalars` aggregates.
    */
  private def docLengthRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(Text.tokensNoStop(col("text"))).as("dl"),
      size(Text.tokenize(col("text"))).as("dl_all"))

  /** The persisted full-stream term-frequency relation for `dir`,
    * term-bucketed (its family built on first use).
    */
  def tf(spark: SparkSession, dir: String): DataFrame = {
    IndexFamily.ensure(spark, dir)
    servedTf(spark, dir)
  }

  /** The vocab-sized per-term statistics (term, df, c, stop). */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    IndexFamily.ensure(spark, dir)
    servedStats(spark, dir)
  }

  /** Per-doc token lengths (doc_id, dl, dl_all); includes zero-token docs. */
  def docLengths(spark: SparkSession, dir: String): DataFrame = {
    IndexFamily.ensure(spark, dir)
    servedDocLengths(spark, dir)
  }

  /** The 1-row corpus scalars (n_docs, n_docs_distinct, avgdl, n_corpus),
    * with exact integer sums: avg over INT is an exact long sum divided
    * once, so the value is identical to computing it inline over the same
    * per-doc lengths.
    */
  def scalars(spark: SparkSession, dir: String): DataFrame = {
    IndexFamily.ensure(spark, dir)
    servedScalars(spark, dir)
  }

  private[sources] def servedTf(spark: SparkSession, dir: String): DataFrame =
    SessionStores.bucketed(spark, "graft_termstats", "tf", dir, "term") {
      tfRows(Corpus.documents(spark, dir))
    }

  private[sources] def servedStats(spark: SparkSession, dir: String): DataFrame =
    SessionStores.parquet(spark, "graft_termstats", "stats", dir) {
      tfRows(Corpus.documents(spark, dir))
        .groupBy("term")
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("c"))
        .withColumn("stop", col("term").isin(Text.EffectiveStopwords: _*))
    }

  private[sources] def servedDocLengths(spark: SparkSession, dir: String): DataFrame =
    SessionStores.parquet(spark, "graft_termstats", "doclen", dir) {
      docLengthRows(Corpus.documents(spark, dir))
    }

  private[sources] def servedScalars(spark: SparkSession, dir: String): DataFrame =
    SessionStores.parquet(spark, "graft_termstats", "scalars", dir) {
      docLengthRows(Corpus.documents(spark, dir))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("doc_id")).as("n_docs_distinct"),
          avg(col("dl")).as("avgdl"),
          sum(col("dl_all")).cast("long").as("n_corpus"))
        .coalesce(1)
    }

  // ---- serving surface: the stored twins of the TermScoring queries ----

  private def nonStopDf(spark: SparkSession, dir: String): DataFrame =
    stats(spark, dir).filter(!col("stop")).select("term", "df")

  /** tf-idf over every (doc, non-stop term): the stored tf joined with
    * the non-stop vocabulary (the inner join IS the stopword filter —
    * stopword tf rows find no partner and drop).
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame =
    TermScoring.tfidf(
      tf(spark, dir),
      nonStopDf(spark, dir),
      scalars(spark, dir).select(col("n_docs_distinct").as("n_docs")))

  /** Unigram LM score served from the store (all terms, stopwords in). */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    TermScoring.lmScore(
      tf(spark, dir),
      stats(spark, dir).select("term", "c"),
      scalars(spark, dir).select("n_corpus"))

  /** DSIR importance weights served from the store: target unigram
    * counts come from the stored tf relation joined (on doc_id) to the
    * target-source doc set — no corpus re-tokenization; everything else
    * is vocab-sized or a broadcast scalar (`TermScoring.dsirWeights`).
    */
  def dsir(spark: SparkSession, dir: String, targetSources: Seq[String]): DataFrame = {
    val t = tf(spark, dir)
    val srcs = Corpus.documents(spark, dir).select(col("doc_id"), col("source"))
    val tgt = t.join(srcs.filter(col("source").isin(targetSources: _*)), Seq("doc_id"))
      .groupBy("term").agg(sum(col("tf")).as("ct"))
    val nT = tgt.agg(coalesce(sum(col("ct")), lit(0L)).as("n_t"))
    val v = stats(spark, dir).agg(count(lit(1)).cast("double").as("v"))
    TermScoring.dsirWeights(
      t, stats(spark, dir).select("term", "c"),
      scalars(spark, dir).select("n_corpus"), tgt, nT, v)
  }

  /** Ranked (tf-idf) retrieval served from the store: the query-term
    * filter prunes the bucketed tf scan to its terms' buckets.
    */
  def rankedSearch(spark: SparkSession, dir: String, queryTerms: Seq[String],
                   k: Int): DataFrame = {
    graft.operators.InvertedIndex.requireIndexableQuery(queryTerms, "ranked search")
    TermScoring.ranked(
      tf(spark, dir).filter(col("term").isin(queryTerms: _*)),
      stats(spark, dir).filter(col("term").isin(queryTerms: _*)).select("term", "df"),
      scalars(spark, dir).select(col("n_docs_distinct").as("n_docs")),
      k)
  }

  /** BM25 retrieval served from the store (same bucket-pruned tf slice,
    * doc lengths and corpus scalars from their persisted relations).
    */
  def bm25(spark: SparkSession, dir: String, queryTerms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    graft.operators.InvertedIndex.requireIndexableQuery(queryTerms, "BM25 search")
    TermScoring.bm25(
      tf(spark, dir).filter(col("term").isin(queryTerms: _*)),
      stats(spark, dir).filter(col("term").isin(queryTerms: _*)).select("term", "df"),
      docLengths(spark, dir).select("doc_id", "dl"),
      scalars(spark, dir).select("n_docs", "avgdl"),
      k, k1, b)
  }
}

package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.plans.StripStops
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
  *   - `tf`: (doc_id, term, tf, dl, df) over the FULL token stream
  *     (stopwords INCLUDED — the LM score needs them; the stopword-free
  *     variant is an inner join against the non-stop vocabulary,
  *     identical row-set to tokenizing with the filter because
  *     `tokensNoStop` IS `filter(tokenize, !stop)`). Every posting
  *     carries what a ranking needs of its document and its term: dl =
  *     the doc's stopword-free token count (the largest, for a doc_id
  *     that labels several documents), df = docs containing the term.
  *     Term-bucketed catalog table, so a query-term filter prunes to its
  *     buckets, and ranked/BM25 point queries are one pruned scan, one
  *     aggregate and a top-k. The public accessor `tf` serves the
  *     3-column (doc_id, term, tf) view the tf-idf, LM and DSIR joins
  *     expect.
  *   - `stats`: (term, df, c, stop) — VOCAB-sized; df = docs containing
  *     the term, c = total occurrences, stop = membership in the
  *     engine's stopword list (precomputed so serving never plans a
  *     200-literal `isin` over a corpus-sized relation). Aggregated from
  *     the same `tfRows` the `tf` rows extend.
  *   - `docLengths`: (doc_id, dl, dl_all) — per-doc stopword-free / full
  *     token counts, a map-side projection of `documents` (NOT from the
  *     tf rows: zero-token docs have no tf rows but must count in
  *     N/avgdl).
  *   - `scalars`: ONE row (n_docs, n_docs_distinct, avgdl, n_corpus).
  *     Aggregated from the same `docLengthRows` that `docLengths`
  *     writes. `rankedSearch` and `bm25` bind its values as LITERALS:
  *     the row is read once per (session, dir) through
  *     `SessionStores.memo` and lives as long as the session's other
  *     memos (`SessionStores.release` drops it); the stored relation
  *     itself is written once per process.
  *
  * Serving plans the same `TermScoring` combinators as the direct path,
  * so stored ≡ direct bit-for-bit (TermStatsSpec pins it): df/c/N
  * values are identical and the float op order is shared code.
  */
object TermStatsStore {

  /** (doc_id, term, tf) over the full token stream: the rows `stats`
    * aggregates and `tf` extends.
    */
  private def tfRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** (doc_id, term, tf, dl, df): the rows `tf` stores. dl is computed
    * once per document in a projection BELOW the explode (in the
    * explode's own select Spark evaluates it above the `Generate`, once
    * per token), and `explode_outer` + a null filter keeps the
    * optimizer from inferring a `size(toks) > 0` filter that would
    * re-run the tokenizer under the projection. df counts the (doc,
    * term) rows of a term after one `repartition(term)`, on which the
    * (doc_id, term) aggregate and the term window both run.
    */
  private def wideTfRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Text.tokenize(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(StripStops.stripStops(col("toks"), Text.EffectiveStopwords)).as("dl"))
      .select(col("doc_id"), col("dl"), explode_outer(col("toks")).as("term"))
      .filter(col("term").isNotNull)
      .repartition(col("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))

  /** (doc_id, dl, dl_all), one row per document: the rows `docLengths`
    * stores and `scalars` aggregates.
    */
  private def docLengthRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(Text.tokensNoStop(col("text"))).as("dl"),
      size(Text.tokenize(col("text"))).as("dl_all"))

  /** The persisted full-stream term-frequency relation for `dir` as
    * (doc_id, term, tf), term-bucketed (its family built on first use).
    */
  def tf(spark: SparkSession, dir: String): DataFrame =
    wideTf(spark, dir).select("doc_id", "term", "tf")

  /** The stored tf relation with every column (doc_id, term, tf, dl, df). */
  private def wideTf(spark: SparkSession, dir: String): DataFrame = {
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

  /** The `scalars` row, read once per (session, dir). */
  private def scalarRow(spark: SparkSession, dir: String): Row =
    SessionStores.memo(spark, "termstats.scalars:" + dir)(scalars(spark, dir).head())

  /** One value of the `scalars` row as a literal of its stored type. */
  private def scalar(spark: SparkSession, dir: String, name: String): Column = {
    val r = scalarRow(spark, dir)
    lit(r.get(r.fieldIndex(name))).cast(r.schema(name).dataType)
  }

  private[sources] def servedTf(spark: SparkSession, dir: String): DataFrame =
    SessionStores.bucketed(spark, "graft_termstats", "tf", dir, "term") {
      wideTfRows(Corpus.documents(spark, dir))
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

  /** Ranked (tf-idf) retrieval served from the store: one scan of the
    * stored tf relation, pruned to the query terms' buckets, whose rows
    * already carry df; N is a literal (`scalarRow`).
    */
  def rankedSearch(spark: SparkSession, dir: String, queryTerms: Seq[String],
                   k: Int): DataFrame = {
    graft.operators.InvertedIndex.requireIndexableQuery(queryTerms, "ranked search")
    TermScoring.ranked(
      wideTf(spark, dir).filter(col("term").isin(queryTerms: _*)).select("doc_id", "tf", "df"),
      scalar(spark, dir, "n_docs_distinct"), k)
  }

  /** BM25 retrieval served from the store: the same pruned scan, whose
    * rows carry dl and df; N and avgdl are literals (`scalarRow`).
    */
  def bm25(spark: SparkSession, dir: String, queryTerms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    graft.operators.InvertedIndex.requireIndexableQuery(queryTerms, "BM25 search")
    TermScoring.bm25(
      wideTf(spark, dir).filter(col("term").isin(queryTerms: _*)).select("doc_id", "tf", "dl", "df"),
      scalar(spark, dir, "n_docs"), scalar(spark, dir, "avgdl"), k, k1, b)
  }
}

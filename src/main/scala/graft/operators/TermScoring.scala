package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Scoring combinators over PREPARED term-statistics relations — the
  * shared math behind tf-idf, ranked retrieval, BM25 and the unigram
  * LM score, factored out so the direct (tokenize-the-corpus) path and
  * the store-served path (`graft.sources.TermStatsStore`) plan the
  * IDENTICAL expressions over either input and stay bit-for-bit equal.
  *
  * Scale design: document frequency / corpus term counts arrive as a
  * VOCAB-SIZED relation joined back onto the (doc, term) relation — not
  * as a `count over Window.partitionBy(term)`. The window formulation
  * puts every row of a hot term into ONE task, and AQE cannot split
  * window partitions; the join is a plain shuffle join AQE can
  * skew-split, and the df relation itself is built with map-side
  * partial aggregation that collapses hot terms before their rows move.
  * (The reference applies the same discipline in miniature: group
  * map-side before transferring — `mapper/src/processor.py:80-134`.)
  * Corpus-level scalars (N, avgdl) are 1-row relations, broadcast at
  * any scale — or, for `ranked`/`bm25`, `Column`s: the store binds
  * them as literals, so a served query plans no join at all.
  */
object TermScoring {

  /** tf-idf per (doc, term): tf × ln(N/df), rounded to 6dp (libm ln
    * rounding is engine-specific; the DuckDB oracle mirrors the exact
    * op order).
    *
    * @param tf    (doc_id, term, tf) — STOPWORD-FREE term frequencies
    * @param dfRel (term, df) — stopword-free document frequencies
    * @param nDocs 1 row, column `n_docs` = distinct document count
    */
  def tfidf(tf: DataFrame, dfRel: DataFrame, nDocs: DataFrame): DataFrame =
    tf.join(dfRel, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))

  /** Ranked retrieval: per-doc sum of tf-idf term weights over the
    * query terms, top-k with a (score desc, doc_id) tie-break. The ONE
    * scorer of the stored and the direct path: both hand it the same
    * rows, so the float op order is shared and the scores bit-equal.
    *
    * @param rows  (doc_id, tf, df), one row per (doc, query term) —
    *              already filtered to the query's terms
    * @param nDocs the distinct document count: a literal on the stored
    *              path, a broadcast 1-row column on the direct path
    */
  def ranked(rows: DataFrame, nDocs: Column, k: Int): DataFrame =
    topK(rows.select(col("doc_id"),
      round(col("tf") * log(nDocs.cast("double") / col("df")), 6).as("w")), k)

  /** BM25: Robertson +1-smoothed idf × saturated tf ÷ length norm, per
    * term rounded to 6dp, summed per doc, top-k. The ONE scorer of the
    * stored and the direct path (see `ranked`).
    *
    * @param rows  (doc_id, tf, dl, df), one row per (doc, query term);
    *              dl = the doc's stopword-free token count
    * @param nDocs the document count, zero-token docs included
    * @param avgdl the mean dl over the same documents
    */
  def bm25(rows: DataFrame, nDocs: Column, avgdl: Column,
           k: Int, k1: Double, b: Double): DataFrame = {
    val idf = log((nDocs - col("df") + 0.5) / (col("df") + 0.5) + 1)
    val norm = col("tf") + lit(k1) * (lit(1) - b + lit(b) * col("dl") / avgdl)
    topK(rows.select(col("doc_id"),
      round(idf * (col("tf") * (k1 + 1)) / norm, 6).as("w")), k)
  }

  /** Per-doc score = rounded sum of the term weights `w`, with the
    * matched-term count; top-k by (score desc, doc_id).
    */
  private def topK(weights: DataFrame, k: Int): DataFrame =
    weights
      .groupBy("doc_id")
      .agg(round(sum("w"), 6).as("score"), count(lit(1)).as("n_matched"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Unigram LM score (CCNet shape): per-doc average ln p(term) under
    * the corpus's own unigram distribution. Per-term ln(c/N) is rounded
    * to 6dp then summed as DECIMAL so the per-doc sum is EXACT and
    * order-independent (a raw double sum diverges on association order
    * at corpus width).
    *
    * @param tfAll   (doc_id, term, tf) — ALL tokens, stopwords INCLUDED
    * @param cRel    (term, c) — total corpus occurrences per term
    * @param nCorpus 1 row, column `n_corpus` = total corpus token count
    */
  def lmScore(tfAll: DataFrame, cRel: DataFrame, nCorpus: DataFrame): DataFrame =
    tfAll.join(cRel, Seq("term"))
      .crossJoin(broadcast(nCorpus))
      .withColumn("w",
        round(log(col("c").cast("double") / col("n_corpus")), 6)
          .cast("decimal(20,6)") * col("tf"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("dl"), sum(col("w")).as("sw"))
      .select(col("doc_id"), col("dl"),
        round(col("sw").cast("double") / col("dl"), 6).as("avg_logp"))

  /** DSIR-style importance weight per document (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * the per-token average log-ratio of an add-one-smoothed TARGET
    * unigram LM to the corpus LM — the data-selection score a pipeline
    * resamples against to shift the mixture toward a target domain.
    * Both log-probabilities are rounded to 6dp and the per-doc sum runs
    * in DECIMAL (the `lmScore` determinism protocol), so the result is
    * exact and association-order-independent at corpus width.
    *
    * Scale shape: two vocab-sized relations joined onto the (doc, term)
    * tf relation on term (AQE-skew-splittable, never a term window) +
    * three broadcast 1-row scalars. Smoothing denominators use the SAME
    * vocabulary V (corpus distinct-term count) on both sides so
    * unseen-in-target terms get a finite penalty instead of −∞.
    *
    * @param tfAll   (doc_id, term, tf) — ALL tokens, stopwords INCLUDED
    * @param cRel    (term, c) — corpus occurrences per term
    * @param nCorpus 1 row, `n_corpus` = corpus token count
    * @param tgtRel  (term, ct) — TARGET-subset occurrences per term
    * @param nTarget 1 row, `n_t` = target token count (0 if empty)
    * @param vocab   1 row, `v` = corpus vocabulary size AS DOUBLE
    */
  def dsirWeights(tfAll: DataFrame, cRel: DataFrame, nCorpus: DataFrame,
                  tgtRel: DataFrame, nTarget: DataFrame,
                  vocab: DataFrame): DataFrame =
    tfAll.join(cRel, Seq("term"))
      .join(tgtRel, Seq("term"), "left_outer")
      .crossJoin(broadcast(nCorpus))
      .crossJoin(broadcast(nTarget))
      .crossJoin(broadcast(vocab))
      .withColumn("w",
        (round(log((coalesce(col("ct"), lit(0L)) + lit(1.0)) /
            (col("n_t") + col("v"))), 6).cast("decimal(20,6)")
          - round(log((col("c") + lit(1.0)) /
              (col("n_corpus") + col("v"))), 6).cast("decimal(20,6)"))
          * col("tf"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("dl"), sum(col("w")).as("sw"))
      .select(col("doc_id"), col("dl"),
        round(col("sw").cast("double") / col("dl"), 6).as("logratio"))

  // ---- direct derivations (tokenize the corpus, no store) ----
  // Each builds the prepared relations with a vocab-sized groupBy
  // partial aggregate — hot terms collapse map-side before the shuffle —
  // and feeds the combinator above. The cost vs the store path is the
  // corpus tokenization; the SHAPES are identical.

  /** Direct tf-idf over every (doc, term) of the corpus. */
  def tfidfOver(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(Text.tokensNoStop(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    tfidf(tf, dfRel, n)
  }

  /** Direct unigram LM score over the corpus. */
  def lmScoreOver(docs: DataFrame): DataFrame = {
    val tfAll = docs
      .select(col("doc_id"), explode(Text.tokenize(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val cRel = tfAll.groupBy("term").agg(sum(col("tf")).as("c"))
    // N = total token count — a MAP-SIDE size(tokenize) projection to a
    // scalar, NOT tfAll.agg(sum): that formulation re-derives the whole
    // (doc,term) aggregate, re-tokenizing and re-shuffling the corpus
    // for one number (measured: a full extra corpus exchange)
    val n = docs
      .agg(sum(size(Text.tokenize(col("text")))).cast("long").as("n_corpus"))
    lmScore(tfAll, cRel, n)
  }
}

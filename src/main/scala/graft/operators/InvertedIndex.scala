package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Inverted-index construction — the reference's entire data plane
  * (S3→K2, SURVEY §2.1) as one declarative Spark pipeline.
  *
  * Scale notes (100 TB): the only shuffle is the `groupBy(term)` exchange;
  * per-document distinct (`array_except`) happens BEFORE `explode`, so the
  * shuffle carries one row per (term, doc) — the same cardinality reduction
  * the reference gets from its map-side `set()` + grouping
  * (`mapper/src/processor.py:92-99`). Partial aggregation (map-side combine)
  * is planned automatically by Catalyst (`ObjectHashAggregate` partial mode).
  * Everything before the exchange is a single whole-stage-codegen span over
  * the parquet scan, with column pruning down to (doc_id, url, text).
  */
object InvertedIndex {

  /** M1: one row per unique (term, doc) — the reference's posting record
    * `{term, doc_id, url}` (`mapper/src/processor.py:190-192`).
    */
  def postings(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("url"), explode(Text.terms(col("text"))).as("term"))
      .select("term", "doc_id", "url")

  /** G1+R1+R2: full index — term → doc_id-sorted posting list. Dedupe (R3)
    * is already guaranteed by the per-doc distinct in `postings`; struct
    * sort_array orders by the first field (doc_id).
    */
  def index(docs: DataFrame): DataFrame =
    postings(docs)
      .groupBy("term")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("url")))).as("postings"))

  /** Point lookup: posting list for one term. Serve from the persisted
    * term-bucketed index (`graft.sources.IndexStore.postings` /
    * `Sinks.writeIndex`) so the scan prunes to the term's bucket instead
    * of re-tokenizing the corpus.
    */
  def lookup(postingsDf: DataFrame, term: String): DataFrame =
    postingsDf.filter(col("term") === term).select("doc_id", "url")

  /** POSITIONAL postings (term, doc_id, pos) — the phrase-query
    * extension of `postings`. The reference's posting record is
    * presence-only by design (`mapper/src/processor.py:190-192` drops
    * tf/positions), which leaves phrase queries unanswerable; this
    * variant keeps the position of each term in the NORMALIZED,
    * STOPWORD-FILTERED token stream (the same stream every other
    * operator sees), so a phrase matches when its terms sit at
    * consecutive filtered positions. (term, doc_id, pos) is unique by
    * construction — `posexplode` emits each position exactly once — so
    * downstream joins need no dedup pass. Scale shape is `postings`'
    * (one codegen span over the scan; the only shuffle is whatever the
    * consumer adds), with ~tokens rows instead of ~distinct terms.
    */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(Text.tokensNoStop(col("text"))).as(Seq("pos", "term")))
      .select("term", "doc_id", "pos")

  /** PHRASE query over the positional relation: documents where the
    * phrase's terms occupy consecutive (filtered-stream) positions,
    * with the occurrence count. Stopwords and unindexable terms are
    * rejected loudly (same contract as `rankedSearch` — they can never
    * match and would silently return nothing).
    *
    * Scale shape: ONE scan filtered to the phrase's distinct terms
    * (bucket-pruned to their buckets on the persisted positional index,
    * `IndexStore.positionalPostings`) and ONE exchange, by `doc_id`; no
    * join. Each posting votes for the phrase start `pos − i` at every
    * offset `i` its term holds in the phrase (a repeated term holds
    * several), and a `(doc_id, start)` group with `phrase.length` votes
    * is one match: `(term, doc_id, pos)` is unique, so each offset adds
    * at most one vote to a group. Both aggregates — votes per start,
    * matches per doc — run on the one `doc_id` partitioning, which
    * clusters `(doc_id, start)` as well. The corpus is never
    * re-tokenized at query time.
    */
  def phraseQuery(positional: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.length >= 2, "phrase query needs at least two terms")
    val unindexable = phrase.filterNot(_.matches("[a-z]+"))
    require(unindexable.isEmpty,
      s"phrase terms can never match a normalized token (lowercase a-z only): ${unindexable.mkString(", ")}")
    val stop = phrase.filter(Text.EffectiveStopwords.contains)
    require(stop.isEmpty, s"phrase terms are stopwords (never indexed): ${stop.mkString(", ")}")
    val offsets = phrase.zipWithIndex.groupMap(_._1)(_._2)
    positional
      .filter(col("term").isin(offsets.keys.toSeq: _*))
      .select(col("doc_id"), explode(transform(element_at(typedLit(offsets), col("term")),
        i => col("pos") - i)).as("start"))
      .repartition(col("doc_id"))
      .groupBy("doc_id", "start").agg(count(lit(1)).as("votes"))
      .filter(col("votes") === phrase.length)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"))
  }

  /** PROXIMITY query (phrase-with-slop, unordered): documents where two
    * terms occur within `slop` positions of each other in the
    * stopword-filtered stream, with the qualifying position-pair count
    * and the minimum observed distance — the "terms near each other"
    * relevance signal sitting between boolean AND (any distance) and
    * `phraseQuery` (distance exactly 1, ordered).
    *
    * Scale shape: two term-filtered slices of the persisted positional
    * index (each bucket-pruned to its term — the corpus is never
    * re-tokenized), equi-joined on doc_id with the band predicate as a
    * post-join filter; both branches are posting-set-sized so AQE
    * broadcasts the smaller. Per-doc pair multiplicity is tf(a)·tf(b) —
    * bounded by document length, never corpus-sized.
    */
  def proximityQuery(positional: DataFrame, a: String, b: String,
                     slop: Int): DataFrame = {
    requireIndexableQuery(Seq(a, b), "proximity query")
    require(a != b, "proximity terms must differ (same-term proximity is trivially 0)")
    require(slop >= 1, s"slop must be >= 1, got $slop")
    val pa = positional.filter(col("term") === a)
      .select(col("doc_id"), col("pos").as("pa"))
    val pb = positional.filter(col("term") === b)
      .select(col("doc_id"), col("pos").as("pb"))
    pa.join(pb, Seq("doc_id"))
      .filter(abs(col("pa") - col("pb")) <= slop)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("pa") - col("pb"))).cast("long").as("min_dist"))
  }

  /** Typed surface (SURVEY §1.3): the same pipeline over case-class
    * Datasets for compile-time-safe composition in Scala.
    */
  def typedPostings(docs: org.apache.spark.sql.Dataset[graft.model.Doc])
      : org.apache.spark.sql.Dataset[graft.model.Posting] = {
    val spark = docs.sparkSession
    import spark.implicits._
    postings(docs.toDF()).as[graft.model.Posting]
  }

  /** Typed index build via the PostingListAgg Aggregator (UDAF surface). */
  def typedIndex(docs: org.apache.spark.sql.Dataset[graft.model.Doc])
      : org.apache.spark.sql.Dataset[graft.model.PostingList] =
    graft.functions.PostingListAgg.buildIndex(typedPostings(docs))

  /** Document frequency per term (size of the posting set). */
  def docFreq(postingsDf: DataFrame): DataFrame =
    postingsDf.groupBy("term").agg(count(lit(1)).as("df"))

  /** Top-k terms by document frequency, deterministic tie-break on term. */
  def topKByDocFreq(postingsDf: DataFrame, k: Int): DataFrame =
    docFreq(postingsDf).orderBy(col("df").desc, col("term")).limit(k)

  /** Shared query-term validation for the scoring family: a query term
    * must be able to survive the tokenizer at all — the normalizer
    * lowercases and strips non-[a-z], so "Spark", "c++" or "42" can
    * never match a token and would silently zero-score — and must be a
    * non-stopword (the tokenizer drops stopwords, so a stopword query
    * term would silently score zero). Enforced loudly rather than
    * silently returning nothing.
    */
  private[graft] def requireIndexableQuery(queryTerms: Seq[String], what: String): Unit = {
    require(queryTerms.nonEmpty, s"$what needs at least one query term")
    val unindexable = queryTerms.filterNot(_.matches("[a-z]+"))
    require(unindexable.isEmpty,
      s"query terms can never match a normalized token (lowercase a-z only): ${unindexable.mkString(", ")}")
    val stop = queryTerms.filter(Text.EffectiveStopwords.contains)
    require(stop.isEmpty, s"query terms are stopwords (never indexed): ${stop.mkString(", ")}")
  }

  /** RANKED retrieval — the query an inverted index exists to serve
    * beyond boolean matching: documents scored by tf-idf over the query
    * terms, top-k with a deterministic (score desc, doc_id) tie-break.
    * score(doc) = Σ_{t ∈ query ∩ doc} round(tf(t,doc) · ln(N/df(t)), 6),
    * the classic sum-of-term-weights ranking.
    *
    * Scale shape: the `isin` filter lands immediately after the explode,
    * so only rows of the query's terms survive the first aggregation —
    * the corpus is tokenized ONCE and everything downstream runs on the
    * matching docs only. df is a ≤|query|-row partial aggregate joined
    * back (EXACT — the filtered relation keeps every doc containing a
    * query term); the former `count over Window.partitionBy(term)`
    * serialized each query term's whole posting set onto one task, a
    * straggler AQE cannot split, where the join can be. The scalar N is
    * one row, broadcast at any scale. The joins build the (doc_id, tf,
    * df) rows `TermStatsStore.rankedSearch` reads from its stored tf
    * relation, and both paths score them with `TermScoring.ranked`.
    */
  def rankedSearch(docs: DataFrame, queryTerms: Seq[String], k: Int): DataFrame = {
    requireIndexableQuery(queryTerms, "ranked search")
    val tf = queryTf(docs, queryTerms)
    val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    TermScoring.ranked(
      tf.join(dfRel, Seq("term")).crossJoin(broadcast(n)), col("n_docs"), k)
  }

  /** BM25-ranked retrieval — the industry-standard upgrade of the tf-idf
    * ranking (`rankedSearch`): term saturation (k1) and document-length
    * normalization (b) so long documents can't dominate on raw counts.
    * score(doc) = Σ_t round(idf_t · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), 6)
    * with the Robertson +1-smoothed idf ln((N−df+0.5)/(df+0.5)+1) — never
    * negative, Lucene's form.
    *
    * Scale shape adds ONE relation to `rankedSearch`: per-doc token
    * length (a map-side `size` projection, no explode), whose single
    * aggregate yields BOTH N and avgdl (one broadcast scalar row). A
    * doc_id that labels several documents has its tf summed over them,
    * so its dl is the largest of their lengths (the stored tf relation
    * keeps the same one dl per doc_id). The query-term tf relation is
    * post-filter small, so its join against the length relation
    * broadcasts the tf side; everything downstream runs on matching docs
    * only. df is the same partial-agg-join as `rankedSearch` (no
    * term-keyed window). The joins build the (doc_id, tf, dl, df) rows
    * `TermStatsStore.bm25` reads from its stored tf relation, and both
    * paths score them with `TermScoring.bm25`: plain double ops in one
    * fixed order (integer length sums are exact), so the DuckDB oracle
    * reproduces scores bit-for-bit at 6 dp.
    */
  def bm25Search(docs: DataFrame, queryTerms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    requireIndexableQuery(queryTerms, "BM25 search")
    val len = docs.select(col("doc_id"), size(Text.tokensNoStop(col("text"))).as("dl"))
    val stats = len.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = queryTf(docs, queryTerms)
    val dfRel = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val rows = tf.join(dfRel, Seq("term"))
      .join(len.groupBy("doc_id").agg(max(col("dl")).as("dl")), Seq("doc_id"))
      .crossJoin(broadcast(stats))
    TermScoring.bm25(rows, col("n_docs"), col("avgdl"), k, k1, b)
  }

  /** (doc_id, term, tf) of the query's terms, stopword-free stream. */
  private def queryTf(docs: DataFrame, queryTerms: Seq[String]): DataFrame =
    docs
      .select(col("doc_id"), explode(Text.tokensNoStop(col("text"))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
}

/** Boolean multi-term queries over the posting relation (SURVEY §2.2 —
  * AND = posting-set intersection, OR = union, NOT = difference).
  *
  * Scale design: each operator is a SINGLE pass over the posting relation —
  * one `isin` filter (pushed to the scan; prunes to the matching term
  * buckets when the input is the term-bucketed persisted index) followed by
  * one aggregation keyed on doc_id — one shuffle, no join. The round-1 shape
  * (N per-term branches chained with intersect/except) re-scanned the corpus
  * once per term and shuffled once per set-op; at 100 TB that is N full
  * tokenization passes to answer a point query.
  */
object BooleanQuery {

  /** Documents containing ALL of the given terms. One scan, one shuffle:
    * filter to the wanted terms, then keep doc_ids that matched every one.
    *
    * PRECONDITION: `postings` is unique on (term, doc_id) — guaranteed by
    * `InvertedIndex.postings` (per-doc distinct before explode) and by the
    * persisted index. That uniqueness lets the match counter be a plain
    * `count` (partial/final, no Expand) instead of `countDistinct`, whose
    * two-phase distinct aggregate doubles the shuffle. Duplicate query
    * terms are deduplicated first (`countDistinct(term)` can never reach
    * `terms.size` when the list repeats a term).
    */
  def and(postings: DataFrame, terms: Seq[String]): DataFrame = {
    val ts = terms.distinct
    require(ts.nonEmpty, "BooleanQuery.and: terms must be non-empty")
    postings
      .filter(col("term").isin(ts: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === ts.size)
      .select("doc_id")
  }

  /** Documents containing ANY of the given terms: filter + distinct —
    * one scan, one shuffle.
    */
  def or(postings: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "BooleanQuery.or: terms must be non-empty")
    postings.filter(col("term").isin(terms: _*)).select("doc_id").distinct()
  }

  /** Documents containing `include` but NONE of `exclude`: one scan
    * filtered to all the named terms (bucket-pruned on the persisted
    * index) and one aggregation keyed on doc_id that keeps a doc when
    * one of its postings is `include` and none is in `exclude` — one
    * shuffle, no join. An `include` that is also excluded matches
    * nothing.
    */
  def andNot(postings: DataFrame, include: String, exclude: Seq[String]): DataFrame = {
    postings
      .filter(col("term").isin(include +: exclude: _*))
      .groupBy("doc_id")
      .agg(bool_or(col("term") === include).as("inc"),
        bool_or(col("term").isin(exclude: _*)).as("exc"))
      .filter(col("inc") && !col("exc"))
      .select("doc_id")
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.{BooleanQuery, InvertedIndex}
import graft.sources.{Corpus, SessionStores}

/** Inverted-index + text-pipeline queries with their DuckDB oracles.
  *
  * Oracle conventions (driver hash-compares after sorting columns by name):
  *   - every aggregate/computed column aliased identically on both sides;
  *   - counts are BIGINT on both sides (Spark `size()` is INT → cast);
  *   - any SUM over an integer column must be wrapped CAST(... AS BIGINT)
  *     in the ORACLE: DuckDB's SUM(BIGINT) returns HUGEINT, which pandas
  *     materializes as float64 ("549.0" vs Spark's "549") and the driver's
  *     canonical-string hash fails (r20: q_cat_top_rank/q_channel_report);
  *     scripts/check.py now carries a dtype-parity assertion for this class;
  *   - no raw timestamp columns in outputs (tz representation differs);
  *   - the stopword list is embedded literally in the SQL so both sides
  *     filter with the identical set.
  */
object TextQueries {

  private val stopList = Text.EffectiveStopwords.map(w => s"'$w'").mkString(", ")

  /** Shared CTE: tokenize documents the way `Text.tokenize` does, then the
    * distinct stopword-filtered (doc, term) relation = `InvertedIndex.postings`.
    */
  private val termsCte =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |         unnest(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+')) AS term
       |  FROM documents
       |), terms AS (
       |  SELECT DISTINCT doc_id, source, term FROM toks
       |  WHERE term <> '' AND term NOT IN ($stopList)
       |)""".stripMargin

  private val urlSql = "'doc://' || source || '/' || CAST(doc_id AS VARCHAR)"

  /** The shared LPA state chain over the fuzzy URL graph: pair CTEs,
    * symmetric unit edges, 4 unrolled rounds ending in `lab4`. Shared
    * by the q_communities and q_modularity oracles.
    */
  private lazy val lpaStateCte: String =
    s"""WITH u AS (
       |  SELECT DISTINCT $urlSql AS url FROM documents
       |), dels AS (
       |  SELECT url,
       |         unnest(list_concat([url], list_transform(range(1, len(url)+1),
       |                i -> substr(url, 1, i-1) || substr(url, i+1, len(url))))) AS v
       |  FROM u
       |), cand AS (
       |  SELECT DISTINCT a.url AS url_a, b.url AS url_b
       |  FROM dels a JOIN dels b ON a.v = b.v AND a.url < b.url
       |), prs AS (
       |  SELECT url_a, url_b FROM cand WHERE levenshtein(url_a, url_b) = 1
       |), sym AS MATERIALIZED (
       |  SELECT url_a AS src, url_b AS dst, 1 AS w FROM prs
       |  UNION ALL
       |  SELECT url_b AS src, url_a AS dst, 1 AS w FROM prs
       |), lab0 AS MATERIALIZED (
       |  SELECT url AS node, url AS label FROM u
       |), ${(1 to 4).map(lpaIterSql).mkString(", ")}""".stripMargin

  /** One unrolled synchronous label-propagation round over `sym`
    * (src, dst, w) from state lab{r-1}: weighted neighbor-label votes,
    * max weight per node, MIN label among the tied winners, own label
    * kept when no in-edges — Graph.labelPropagation's exact rule.
    */
  private def lpaIterSql(r: Int): String = {
    val p = s"lab${r - 1}"
    s"""v$r AS MATERIALIZED (
       |  SELECT e.dst, l.label, CAST(sum(e.w) AS BIGINT) AS vw
       |  FROM sym e JOIN $p l ON e.src = l.node GROUP BY 1, 2
       |), m$r AS (
       |  SELECT dst, max(vw) AS mv FROM v$r GROUP BY 1
       |), w$r AS (
       |  SELECT v.dst, min(v.label) AS nl
       |  FROM v$r v JOIN m$r m ON v.dst = m.dst AND v.vw = m.mv GROUP BY 1
       |), lab$r AS MATERIALIZED (
       |  SELECT l.node, coalesce(w.nl, l.label) AS label
       |  FROM $p l LEFT JOIN w$r w ON l.node = w.dst
       |)""".stripMargin
  }

  /** q_fuzzy_urls' oracle — shared verbatim by the streamed twin (the
    * accumulated pair store must equal the batch ED-1 pair relation).
    */
  private val fuzzyUrlsOracleSql: String =
    s"""WITH u AS (
       |  SELECT DISTINCT $urlSql AS url FROM documents
       |), dels AS (
       |  SELECT url,
       |         unnest(list_concat([url], list_transform(range(1, len(url)+1),
       |                i -> substr(url, 1, i-1) || substr(url, i+1, len(url))))) AS v
       |  FROM u
       |), pairs AS (
       |  SELECT DISTINCT a.url AS url_a, b.url AS url_b
       |  FROM dels a JOIN dels b ON a.v = b.v AND a.url < b.url
       |)
       |SELECT url_a, url_b FROM pairs
       |WHERE levenshtein(url_a, url_b) = 1""".stripMargin

  private def docs(s: SparkSession, dir: String): DataFrame = Corpus.documents(s, dir)
  private def postings(s: SparkSession, dir: String): DataFrame =
    InvertedIndex.postings(docs(s, dir))

  /** Point/boolean queries read the PERSISTED term-bucketed index
    * (built once per corpus per session via the K2 sink) so the scan
    * prunes to the queried term's buckets instead of re-tokenizing the
    * corpus — the 100 TB-safe plan. Output is identical to the on-the-fly
    * posting relation, so the oracles are unchanged.
    */
  private def storedPostings(s: SparkSession, dir: String): DataFrame =
    graft.sources.IndexStore.postings(s, dir)

  /** Shared by q_index_stats and its streamed twin. postings_csv is
    * CAPPED at the first 100 doc_ids: an unbounded collect_list per term
    * means a common term's row holds the whole corpus at scale.
    */
  private def indexStatsOf(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(
      count(lit(1)).as("df"),
      min("doc_id").as("min_doc"),
      max("doc_id").as("max_doc"),
      array_join(transform(slice(sort_array(collect_list(col("doc_id"))), 1, 100),
        d => d.cast("string")), ",").as("postings_csv"))

  /** Session-scoped streamed index table — ingested by doc_id slice
    * (`SessionStores.streamed`), compacted once (restores
    * (term, doc_id) uniqueness and per-bucket single files), then served
    * read-only under its table name.
    */
  private[graft] object StreamedIndex {
    def table(s: SparkSession, dir: String): String = {
      val tbl = "graft_stridx_" + SessionStores.tagOf(dir)
      lazy val d = docs(s, dir)
      SessionStores.streamed(s, "graft_stridx", "store", dir,
          build = (path, ingest) => {
            ingest()
            graft.streaming.StreamingIndex.compact(s, tbl, path, buckets = 32)
          }) { (slice, path) =>
        graft.streaming.StreamingIndex.appendBatch(
          InvertedIndex.postings(d.filter(slice(col("doc_id")))),
          slice.id, tbl, path, buckets = 32): Unit
      }: Unit
      tbl
    }
  }

  /** Session-scoped StreamingFuzzy store holding `dir`'s urls ingested
    * incrementally (`SessionStores.streamed`, sliced on doc_id).
    */
  private[graft] object FuzzyStores {
    def streamedStore(s: SparkSession, dir: String): String = {
      lazy val d = docs(s, dir)
      SessionStores.streamed(s, "graft_fuzzystream", "store", dir) { (slice, path) =>
        graft.streaming.StreamingFuzzy.processBatch(
          d.filter(slice(col("doc_id"))).select("url"), slice.id, path): Unit
      }
    }

    /** The word co-occurrence edge relation for TextRank, persisted
      * once per (process, corpus): symmetric count-weighted
      * adjacent-term pairs — bigram-vocab-sized, the corpus tokenize
      * runs at store build, not per query.
      */
    def cooccurrenceEdges(s: SparkSession, dir: String): DataFrame =
      SessionStores.parquet(s, "graft_fuzzystream", "cooc_edges", dir) {
        val bg = docs(s, dir).select(explode(
            Text.shinglesFromTokens(Text.tokensNoStop(col("text")), 2)).as("bg"))
          .select(split(col("bg"), " ").getItem(0).as("a"),
            split(col("bg"), " ").getItem(1).as("b"))
          .filter(col("a") =!= col("b"))
        bg.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
          .select(col("e.src"), col("e.dst"))
          .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      }

    /** One doc_id slice's co-occurrence edge CONTRIBUTIONS: bigram
      * counts are additive over any partition of the doc set, so the
      * slices' deltas accumulate to `cooccurrenceEdges` bit-for-bit —
      * the StreamingGraph additive contract, now on STRING (term) keys.
      */
    private def coocContribs(s: SparkSession, dir: String,
                             slice: SessionStores.Slice): DataFrame = {
      val bg = docs(s, dir).filter(slice(col("doc_id")))
        .select(explode(
          Text.shinglesFromTokens(Text.tokensNoStop(col("text")), 2)).as("bg"))
        .select(split(col("bg"), " ").getItem(0).as("a"),
          split(col("bg"), " ").getItem(1).as("b"))
        .filter(col("a") =!= col("b"))
      bg.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"), lit(1L).as("w"))
    }

    /** String-keyed StreamingGraph store accumulating the TextRank
      * co-occurrence edge deltas — the `GraphStores.streamedStore`
      * pattern at term keys.
      */
    def streamedCoocStore(s: SparkSession, dir: String): String =
      SessionStores.streamed(s, "graft_graphstream", "cooc_store", dir) { (slice, path) =>
        graft.streaming.StreamingGraph.processBatch(
          coocContribs(s, dir, slice), slice.id, path,
          keyType = org.apache.spark.sql.types.StringType): Unit
      }

    /** String-keyed StreamingGraph store accumulating the DOC-graph
      * edge deltas: the ED-1 fuzzy pair relation sliced on a url hash
      * (each pair lands in exactly one slice, so the unit weights are
      * additive), exploded both directions. Feeds the streamed twin of
      * the SHUFFLE-path q_pagerank_docs.
      */
    def streamedDocGraphStore(s: SparkSession, dir: String): String =
      SessionStores.streamed(s, "graft_graphstream", "docgraph_store", dir) { (slice, path) =>
        graft.streaming.StreamingGraph.processBatch(
          DocGraphStores.edges(batchPairs(s, dir).filter(slice(xxhash64(col("url_a"))))),
          slice.id, path,
          keyType = org.apache.spark.sql.types.StringType): Unit
      }

    /** The BATCH corpus-wide ED-1 pair relation, persisted once per
      * (process, corpus) — the `DedupStore.pairs` discipline applied
      * to the fuzzy family: q_fuzzy_urls, the URL component clustering,
      * and the doc-graph PageRank all consume this relation, so the
      * variant self-join runs once, not once per consuming query.
      */
    def batchPairs(s: SparkSession, dir: String): DataFrame =
      SessionStores.parquet(s, "graft_fuzzystream", "batch_pairs", dir) {
        graft.operators.FuzzyJoin.ed1Pairs(docs(s, dir), "url")
      }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_postings" -> ((s, dir) => postings(s, dir)),

    "q_term_lookup" -> ((s, dir) => InvertedIndex.lookup(storedPostings(s, dir), "spark")),

    "q_doc_freq" -> ((s, dir) => InvertedIndex.docFreq(postings(s, dir))),

    // docFreq again via the two-phase SALTED aggregation (skew-mitigation
    // operator) — same result, hot-key shuffle split 16 ways.
    "q_salted_df" -> ((s, dir) =>
      graft.operators.Skew.saltedCount(postings(s, dir), "term")
        .withColumnRenamed("count", "df")),

    "q_topk_df" -> ((s, dir) => InvertedIndex.topKByDocFreq(postings(s, dir), 20)),

    // postings_csv is CAPPED at the first 100 doc_ids: an unbounded
    // collect_list per term means a common term's row holds the whole
    // corpus at scale.
    "q_index_stats" -> ((s, dir) => indexStatsOf(postings(s, dir))),

    // STREAMED-INDEX twins: the flagship index built incrementally —
    // doc_id-sliced posting micro-batches appended through
    // `StreamingIndex.appendBatch` into the bucketed table layout, one
    // compaction (the pause-compact-resume discipline). The accumulated
    // table equals the batch index relation, so both rows hash-check
    // under the batch oracles; the lookup still bucket-prunes because
    // the streamed table carries the same bucket spec.
    "q_index_stats_streamed" -> ((s, dir) =>
      indexStatsOf(s.table(StreamedIndex.table(s, dir)))),

    "q_term_lookup_streamed" -> ((s, dir) =>
      InvertedIndex.lookup(s.table(StreamedIndex.table(s, dir)), "spark")),

    // Fuzzy string join via SymSpell deletion-neighborhood blocking
    // (Garbe's spell-correction index, applied to crawl-frontier URL
    // near-dup detection): candidates come from an equi-join on each
    // url's {identity} ∪ {1-deletion} variant set — never an all-pairs
    // edit-distance pass — and `levenshtein` verifies the survivors.
    // The identity variant is what catches pure insert/delete pairs
    // (lengths n vs n+1 — trailing-slash twins); deletions alone can
    // never collide across the length gap (the r12 recall hole).
    // Variant fan is |url|+1, so the join stays flat at any corpus
    // size. Served from the session-scoped batch pair store (the
    // DedupStore.pairs discipline — three queries consume this
    // relation; the variant self-join runs once at store build).
    "q_fuzzy_urls" -> ((s, dir) => FuzzyStores.batchPairs(s, dir)),

    // Streamed twin: the crawl frontier arriving incrementally —
    // doc_id-sliced url micro-batches through StreamingFuzzy.processBatch
    // (new urls' variants broadcast-join the accumulated variant store;
    // a pair lands in the batch where its later endpoint arrives), the
    // accumulated pair store hash-checked under the batch oracle.
    "q_fuzzy_urls_streamed" -> ((s, dir) =>
      graft.streaming.StreamingFuzzy.pairs(s, FuzzyStores.streamedStore(s, dir))),

    // Crawl-frontier URL canonicalization: connected components over
    // the ED-1 fuzzy pair graph (pointer-jumping Dedup.clusters,
    // O(log diameter) rounds), each near-dup URL mapped to its
    // component's canonical (min doc_id) URL — the dedup step a crawler
    // runs on trailing-slash/typo URL families before fetch. Pairs map
    // to doc ids through the 1:1 url↔doc_id relation; only URLs in ≥1
    // pair appear (isolated URLs need no canonicalization).
    "q_url_clusters" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("url"))
      val pairs = FuzzyStores.batchPairs(s, dir)
      val idPairs = pairs
        .join(d.select(col("url").as("url_a"), col("doc_id").as("doc_a")), "url_a")
        .join(d.select(col("url").as("url_b"), col("doc_id").as("doc_b")), "url_b")
        .select("doc_a", "doc_b")
      graft.operators.Dedup.clusters(idPairs)
        .join(d, "doc_id")
        .join(d.select(col("doc_id").as("cluster_id"),
          col("url").as("canonical_url")), "cluster_id")
        .select("url", "canonical_url")
    }),

    // PageRank over the DOCUMENT graph (nodes = every distinct url,
    // edges = the ED-1 fuzzy pairs, both directions, unit weight) — the
    // iterative family exercised where node count is corpus-sized, NOT
    // a 25-row dimension: the engine call gates the broadcast hint OFF
    // (broadcastRanksMax = 0), so the oracle checks the stats/AQE
    // src-keyed SHUFFLE iteration path — the plan that actually runs at
    // web-scale node counts — not the broadcast fast path q_pagerank
    // covers.
    "q_pagerank_docs" -> ((s, dir) => {
      val edges = DocGraphStores.edges(FuzzyStores.batchPairs(s, dir))
      val nodes = DocGraphStores.nodes(s, dir)
      graft.operators.Graph.pageRank(edges, nodes, iters = 8,
        broadcastRanksMax = 0)
        .select(col("node").as("url"), col("pr"))
    }),

    // COMMUNITY DETECTION over the document graph: synchronous min-label
    // label propagation (Graph.labelPropagation) on the SHUFFLE path
    // (broadcastRanksMax = 0) over the ED-1 fuzzy pairs — the graph-
    // family member between components (q_url_clusters) and the rank
    // fixpoints. 4 fixed rounds, deterministic max-weight/min-label
    // votes, so the unrolled-iteration oracle hash-checks. Unlike
    // components' transitive closure, LPA communities respect local
    // edge density — a long chain splits where closure would not.
    "q_communities" -> ((s, dir) => {
      val edges = DocGraphStores.edges(FuzzyStores.batchPairs(s, dir))
      val nodes = DocGraphStores.nodes(s, dir)
      graft.operators.Graph.labelPropagation(edges, nodes, iters = 4,
          broadcastRanksMax = 0)
        .select(col("node").as("url"), col("label").as("community"))
    }),

    // MODULARITY of the LPA partition — the quality score community
    // detection is judged by (Newman's Q, the objective Louvain climbs):
    // per community c, dq = W_in(c)/2m − (K(c)/2m)², all masses exact
    // integer sums (directed-double-counted convention), the division
    // spelled once and mirrored. Labels come from the session label
    // store (LPA trained once beside the other derived stores — labels
    // are input state for scoring; q_communities stays the timed live
    // fixpoint); the timed work is the edge-sized label joins + three
    // aggregates, every join key-equi and AQE-splittable.
    "q_modularity" -> ((s, dir) => {
      val edges = DocGraphStores.edges(FuzzyStores.batchPairs(s, dir))
      val lab = CommunityStores.labels(s, dir)
      val deg = edges.groupBy("src").agg(sum(col("w")).cast("long").as("k"))
      val tot2 = edges.agg(sum(col("w")).cast("long").as("m2"))
      val el = edges
        .join(lab.select(col("node").as("src"), col("label").as("cla")), "src")
        .join(lab.select(col("node").as("dst"), col("label").as("clb")), "dst")
      val win = el.filter(col("cla") === col("clb"))
        .groupBy(col("cla").as("community"))
        .agg(sum(col("w")).cast("long").as("w_in"))
      val kc = lab.join(deg, col("node") === col("src"), "left_outer")
        .groupBy(col("label").as("community"))
        .agg(coalesce(sum(col("k")), lit(0L)).cast("long").as("k_tot"))
      kc.join(win.withColumnRenamed("community", "wc_community"),
          col("community") === col("wc_community"), "left_outer")
        .crossJoin(broadcast(tot2))
        .select(col("community"),
          coalesce(col("w_in"), lit(0L)).as("w_in"),
          col("k_tot"),
          round(coalesce(col("w_in"), lit(0L)).cast("double") / col("m2")
            - (col("k_tot").cast("double") / col("m2"))
              * (col("k_tot").cast("double") / col("m2")), 6).as("dq"))
    }),

    // HITS over the document graph — the two-sided fixpoint exercised
    // where node count is CORPUS-SIZED on the non-broadcast path
    // (broadcastRanksMax = 0), completing the per-family shuffle-path
    // oracle coverage q_pagerank_docs started: every half-step joins
    // the node-sized score relation onto the edge relation without a
    // hint, the plan that runs at web-scale node counts.
    "q_hits_docs" -> ((s, dir) => {
      val edges = DocGraphStores.edges(FuzzyStores.batchPairs(s, dir))
      val nodes = DocGraphStores.nodes(s, dir)
      graft.operators.Graph.hits(edges, nodes, iters = 4, broadcastRanksMax = 0)
        .select(col("node").as("url"), col("hub"), col("auth"))
    }),

    // BFS levels over the document graph from a DETERMINISTIC source
    // (the lexicographically-first URL appearing in any fuzzy pair —
    // a 1-row bounded driver lift, computed identically in the
    // oracle's scalar subquery), shuffle path per q_hits_docs. Only
    // the source's ED-1 component is reached — the expected shape of
    // near-dup URL families.
    "q_bfs_docs" -> ((s, dir) => {
      val pairs = FuzzyStores.batchPairs(s, dir)
      val srcRow = pairs.agg(min(least(col("url_a"), col("url_b")))).head
      val nodes = DocGraphStores.nodes(s, dir)
      // zero ED-1 pairs → no source → an EMPTY (url, hops) frame, never
      // a walk seeded at NULL (the oracle's seed row is conditional on
      // the same scalar being non-null, so both sides agree on empty)
      if (srcRow.isNullAt(0))
        nodes.select(col("node").as("url"), lit(0L).as("hops")).limit(0)
      else {
        val edges = DocGraphStores.edges(pairs)
        graft.operators.Graph.shortestHopsAt(edges, nodes, lit(srcRow.getString(0)),
            maxHops = 6, broadcastRanksMax = 0)
          .select(col("node").as("url"), col("hops"))
      }
    }),

    // TextRank keyword extraction (Mihalcea & Tarau '04): PageRank over
    // the word CO-OCCURRENCE graph — nodes are stopword-filtered terms,
    // edges are adjacent-token pairs (both directions, count-weighted),
    // top-20 terms by rank are the corpus keywords. The graph family
    // composed with the text stack: bigrams come from the same
    // shingling kernel as the dedup/gram queries, the fixpoint from the
    // shared power-iteration core (vocab-sized nodes ≪ broadcast gate).
    "q_textrank" -> ((s, dir) => {
      val edges = FuzzyStores.cooccurrenceEdges(s, dir)
      val nodes = edges.select(col("src").as("node")).distinct()
      graft.operators.Graph.pageRank(edges, nodes, iters = 8)
        .select(col("node").as("term"), col("pr"))
        .orderBy(col("pr").desc, col("term"))
        .limit(20)
    }),

    // Streamed twin of q_textrank: the co-occurrence edges accumulated
    // as three additive delta micro-batches in the STRING-keyed
    // StreamingGraph store, the fixpoint served from the version-keyed
    // `derived` memo (recomputed only when the edge store moves) —
    // hash-checks under q_textrank's identical oracle.
    "q_textrank_streamed" -> ((s, dir) =>
      graft.streaming.StreamingGraph.derived(
          s, FuzzyStores.streamedCoocStore(s, dir), "textrank",
          org.apache.spark.sql.types.StringType) { e =>
        val nodes = e.select(col("src").as("node")).distinct()
        graft.operators.Graph.pageRank(e, nodes, iters = 8)
      }
        .select(col("node").as("term"), col("pr"))
        .orderBy(col("pr").desc, col("term"))
        .limit(20)),

    // Streamed twin of q_pagerank_docs — the SHUFFLE-path fixpoint
    // (broadcastRanksMax = 0) over the accumulated doc-graph delta
    // store, served from the derived memo under the identical oracle:
    // the corpus-node-count iteration the r13 verdict asked to see
    // streamed, not just batch.
    "q_pagerank_docs_streamed" -> ((s, dir) =>
      graft.streaming.StreamingGraph.derived(
          s, FuzzyStores.streamedDocGraphStore(s, dir), "pr_docs",
          org.apache.spark.sql.types.StringType) { e =>
        val nodes = DocGraphStores.nodes(s, dir)
        graft.operators.Graph.pageRank(e, nodes, iters = 8,
          broadcastRanksMax = 0)
      }
        .select(col("node").as("url"), col("pr"))),

    // Prefix search over the persisted index (autocomplete shape): the
    // range form of LIKE 's%' pushes BOTH bounds to the parquet scan,
    // and because the stored postings are SORTED BY term inside each
    // bucket, row-group min/max statistics skip the non-matching mass —
    // hash bucketing can't prune a prefix (no single bucket), the sort
    // layout is what serves it.
    "q_prefix_terms" -> ((s, dir) =>
      storedPostings(s, dir)
        .filter(col("term") >= "s" && col("term") < "t")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy("term")),

    // Typo-tolerant term lookup (the retrieval feature the SymSpell
    // block exists for): probe "park" is NOT in the vocabulary; its
    // ED-1 dictionary neighbors — "part" (substitution) and "spark"
    // (insertion, the class the r12 blocking missed) — come from one
    // pass over the vocab-sized term-stats dictionary, then their
    // posting lists are unioned from the persisted index. The matched
    // term set lifts to the driver as an IN literal — bounded by
    // contract (≤ ~alphabet × |probe| candidates for one probe) — so
    // the postings scan bucket-prunes STATICALLY like q_term_lookup,
    // never a join against an unpruned corpus-sized relation.
    "q_term_fuzzy" -> ((s, dir) => {
      val dict = graft.sources.TermStatsStore.stats(s, dir)
        .filter(!col("stop"))
      val matched = graft.operators.FuzzyJoin.ed1Matches(dict, "term", "park")
        .collect().map(_.getString(0)).toSeq.sorted
      storedPostings(s, dir)
        .filter(col("term").isin(matched: _*))
        .select("doc_id", "url").distinct()
    }),

    "q_bool_and" -> ((s, dir) => BooleanQuery.and(storedPostings(s, dir), Seq("spark", "hash"))),

    // ranked retrieval: tf-idf-scored top-10 for a two-term query — the
    // scoring counterpart of the boolean family, served from the
    // persisted term-statistics store: the query-term filter prunes the
    // bucketed tf relation to its terms' buckets, df/N come from the
    // vocab-sized stats/scalars relations, and the corpus is never
    // re-tokenized at query time (InvertedIndex.rankedSearch is the
    // direct twin; TermStatsSpec pins them bit-for-bit equal)
    "q_ranked_search" -> ((s, dir) =>
      graft.sources.TermStatsStore.rankedSearch(s, dir, Seq("spark", "hash"), 10)),

    // BM25 for the same query: saturated tf + length normalization,
    // served from the same store (doc lengths + corpus scalars persisted)
    "q_bm25" -> ((s, dir) =>
      graft.sources.TermStatsStore.bm25(s, dir, Seq("spark", "hash"), 10)),

    // HYBRID retrieval (the RAG-stack shape): reciprocal-rank fusion of
    // the lexical BM25 top-10 and the embedding cosine top-10 (vec_id is
    // the document's embedding id in the fixtures). Both legs are the
    // store-served queries above; fusion is a 10+10-row full outer join —
    // rank arithmetic only, so both engines agree exactly.
    "q_hybrid" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lex = graft.sources.TermStatsStore.bm25(s, dir, Seq("spark", "hash"), 10)
        .withColumn("rl", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("rl"))
      val vec = graft.sources.VectorStore.topK(s, dir, queryId = 0L, k = 10)
        .withColumn("rv", row_number().over(
          Window.orderBy(col("sim").desc, col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("rv"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(
            coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    }),

    "q_bool_or" -> ((s, dir) => BooleanQuery.or(storedPostings(s, dir), Seq("spark", "hash"))),

    // phrase query over the persisted POSITIONAL index: docs where
    // "value table" appear at consecutive (stopword-filtered) positions
    "q_phrase" -> ((s, dir) => InvertedIndex.phraseQuery(
      graft.sources.IndexStore.positionalPostings(s, dir), Seq("value", "table"))),

    // proximity (phrase-with-slop, unordered) over the same positional
    // index: "spark" and "hash" within 5 filtered positions — two
    // bucket-pruned slices, never a corpus re-tokenize
    "q_near" -> ((s, dir) => InvertedIndex.proximityQuery(
      graft.sources.IndexStore.positionalPostings(s, dir), "spark", "hash", 5)),

    "q_bool_not" -> ((s, dir) => BooleanQuery.andNot(storedPostings(s, dir), "spark", Seq("hash"))),

    "q_token_count" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        size(Text.tokenize(col("text"))).cast("long").as("n_tokens"),
        size(Text.terms(col("text"))).cast("long").as("n_terms"))),

    "q_tf" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(Text.tokensNoStop(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))),

    // tf-idf: tf × ln(N/df), served from the persisted term-statistics
    // store — the stored tf relation joined with the vocab-sized df
    // relation (map-side partial agg collapsed hot terms at build; the
    // join is AQE-skew-splittable). The former count-over-window
    // formulation put every row of a hot term on ONE task — a straggler
    // AQE cannot split, since it splits join/agg skew but never window
    // partitions — and re-derived df inside every call. The scalar N is
    // a single broadcast row at any scale. Rounded to 6dp on both
    // sides — ln() libm rounding is engine-specific.
    // (TermScoring.tfidfOver is the direct twin; TermStatsSpec pins
    // stored ≡ direct bit-for-bit.)
    "q_tfidf" -> ((s, dir) => graft.sources.TermStatsStore.tfidf(s, dir)),

    // Window function (SURVEY §2.2): top-3 terms by document frequency per
    // source, rank via row_number with a deterministic term tie-break.
    "q_top_terms_per_source" -> ((s, dir) =>
      topTermsOf(docs(s, dir)
        .select(col("source"), col("doc_id"), explode(Text.terms(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("df")))),

    // Streamed twin: DOCUMENT frequency per (source, term) is additive
    // over doc slices (each doc contributes 1 per distinct term), so
    // the df relation accumulates in a string-keyed StreamingGraph
    // delta store (the DriftStores pattern with Text.terms' doc-
    // distinct, stopword-filtered tokens); the window body is shared,
    // the batch oracle verbatim.
    "q_top_terms_per_source_streamed" -> ((s, dir) =>
      topTermsOf(graft.streaming.StreamingGraph
        .edges(s, TermDfStores.store(s, dir), org.apache.spark.sql.types.StringType)
        .select(col("src").as("source"), col("dst").as("term"), col("w").as("df")))),
  )

  /** q_top_terms_per_source's window body over a (source, term, df)
    * relation — shared by the batch query and the delta-store twin.
    */
  private def topTermsOf(perSource: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("df").desc, col("term"))
    perSource
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
  }

  /** The document-graph NODE UNIVERSE — one row per distinct corpus
    * URL — persisted once per (process, corpus). Five timed graph
    * queries (q_pagerank_docs, q_hits_docs, q_bfs_docs, q_communities,
    * q_pagerank_docs_streamed's memo build) plus the community-label
    * store each re-ran the corpus-sized scan + distinct exchange per
    * serve, and the rank fixpoints then paid a second corpus pass for
    * `nodes.count()` (r22 second pass; the FuzzyStores.batchPairs /
    * RevenueLeaf multi-consumer discipline). The store is one narrow
    * string column, so the count() the fixpoints need is answered from
    * parquet footer metadata, not a corpus scan, and each serve reads
    * the node set instead of re-deriving it.
    */
  private[graft] object DocGraphStores {
    def nodes(s: SparkSession, dir: String): DataFrame =
      SessionStores.parquet(s, "graft_docgraph", "nodes", dir) {
        docs(s, dir).select(col("url").as("node")).distinct()
      }

    /** The doc graph's symmetric edges (src, dst): every ED-1 fuzzy pair
      * in both directions, from one explode of `pairs` (a union would
      * plan the pair relation twice), each with unit weight `w`.
      */
    def edges(pairs: DataFrame): DataFrame =
      pairs.select(explode(array(
          struct(col("url_a").as("src"), col("url_b").as("dst")),
          struct(col("url_b").as("src"), col("url_a").as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"), lit(1L).as("w"))
  }

  /** Session-scoped community-label store: the shuffle-path LPA over
    * the fuzzy URL graph runs ONCE per (process, corpus); q_modularity
    * scores the persisted partition (labels are input state, the
    * centroid-store discipline).
    */
  private[graft] object CommunityStores {
    def labels(s: SparkSession, dir: String): DataFrame =
      SessionStores.parquet(s, "graft_communities", "labels", dir) {
        val edges = DocGraphStores.edges(FuzzyStores.batchPairs(s, dir))
        val nodes = DocGraphStores.nodes(s, dir)
        graft.operators.Graph.labelPropagation(edges, nodes, iters = 4,
            broadcastRanksMax = 0)
          .coalesce(1)
      }
  }

  /** Per-(source, term) DOC-FREQUENCY delta store: doc-distinct
    * stopword-filtered terms (Text.terms) per doc slice, additive under
    * any doc partition.
    */
  private[graft] object TermDfStores {
    def store(s: SparkSession, dir: String): String =
      SessionStores.streamed(s, "graft_graphstream", "termdf_store", dir) { (slice, path) =>
        val contribs = docs(s, dir).filter(slice(col("doc_id")))
          .select(col("source").as("src"),
            explode(graft.functions.Text.terms(col("text"))).as("dst"),
            lit(1L).as("w"))
        graft.streaming.StreamingGraph.processBatch(contribs, slice.id, path,
          keyType = org.apache.spark.sql.types.StringType): Unit
      }
  }

  /** q_pagerank_docs oracle, shared verbatim by the streamed twin
    * (the accumulated doc-graph delta store must serve the identical
    * shuffle-path fixpoint).
    */
  private lazy val pagerankDocsOracleSql: String =
      s"""WITH u AS (
         |  SELECT DISTINCT $urlSql AS url FROM documents
         |), dels AS (
         |  SELECT url,
         |         unnest(list_concat([url], list_transform(range(1, len(url)+1),
         |                i -> substr(url, 1, i-1) || substr(url, i+1, len(url))))) AS v
         |  FROM u
         |), cand AS (
         |  SELECT DISTINCT a.url AS url_a, b.url AS url_b
         |  FROM dels a JOIN dels b ON a.v = b.v AND a.url < b.url
         |), prs AS (
         |  SELECT url_a, url_b FROM cand WHERE levenshtein(url_a, url_b) = 1
         |), e0 AS (
         |  SELECT url_a AS src, url_b AS dst, 1 AS w FROM prs
         |  UNION ALL
         |  SELECT url_b AS src, url_a AS dst, 1 AS w FROM prs
         |), ow AS (
         |  SELECT src, sum(w) AS outw FROM e0 GROUP BY src
         |), e AS (
         |  SELECT e0.src, dst, w, outw FROM e0 JOIN ow USING (src)
         |), nodes AS (
         |  SELECT url AS node FROM u
         |), ${RelationalQueries.prInitSql}, ${(0 until 8).map(RelationalQueries.prIterSql).mkString(", ")}
         |SELECT node AS url, pr FROM r8""".stripMargin

  /** q_textrank oracle, shared verbatim by the streamed twin. */
  private lazy val textrankOracleSql: String =
      s"""WITH toksl AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+'),
         |                     t -> t <> '') AS ts
         |  FROM documents
         |), filt AS (
         |  SELECT doc_id, list_filter(ts, t -> t NOT IN ($stopList)) AS fs FROM toksl
         |), bg AS (
         |  SELECT fs[i] AS a, fs[i+1] AS b
         |  FROM filt, unnest(range(1, len(fs))) AS t(i)
         |  WHERE fs[i] <> fs[i+1]
         |), e0 AS (
         |  SELECT a AS src, b AS dst, count(*) AS w FROM bg GROUP BY 1, 2
         |  UNION ALL
         |  SELECT b AS src, a AS dst, count(*) AS w FROM bg GROUP BY 1, 2
         |), e1 AS (
         |  SELECT src, dst, sum(w) AS w FROM e0 GROUP BY 1, 2
         |), ow AS (
         |  SELECT src, sum(w) AS outw FROM e1 GROUP BY src
         |), e AS (
         |  SELECT e1.src, dst, w, outw FROM e1 JOIN ow USING (src)
         |), nodes AS (
         |  SELECT DISTINCT src AS node FROM e1
         |), ${RelationalQueries.prInitSql}, ${(0 until 8).map(RelationalQueries.prIterSql).mkString(", ")}
         |SELECT node AS term, pr FROM r8
         |ORDER BY pr DESC, term LIMIT 20""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_postings" ->
      s"""$termsCte SELECT term, doc_id, $urlSql AS url FROM terms""",

    "q_term_lookup" ->
      s"""$termsCte SELECT doc_id, $urlSql AS url FROM terms WHERE term = 'spark'""",

    "q_doc_freq" ->
      s"""$termsCte SELECT term, count(*) AS df FROM terms GROUP BY term""",

    "q_salted_df" ->
      s"""$termsCte SELECT term, count(*) AS df FROM terms GROUP BY term""",

    "q_topk_df" ->
      s"""$termsCte SELECT term, count(*) AS df FROM terms GROUP BY term
         |ORDER BY df DESC, term LIMIT 20""".stripMargin,

    "q_index_stats" ->
      s"""$termsCte SELECT term, count(*) AS df, min(doc_id) AS min_doc, max(doc_id) AS max_doc,
         |  array_to_string(list_transform(list_slice(list(doc_id ORDER BY doc_id), 1, 100),
         |                  d -> CAST(d AS VARCHAR)), ',') AS postings_csv
         |FROM terms GROUP BY term""".stripMargin,

    // mirror of FuzzyJoin.ed1Pairs: variants = [url itself] ++ all
    // 1-deletions — the identity entry is what lets length-(n, n+1)
    // insert/delete pairs collide
    "q_fuzzy_urls" -> fuzzyUrlsOracleSql,

    // URL components: the fuzzy-pair CTEs verbatim, ids through the
    // 1:1 url↔doc_id relation, then the recursive min-label reach (the
    // q_dedup_clusters oracle shape) mapped back to urls
    "q_url_clusters" ->
      s"""WITH RECURSIVE u AS (
         |  SELECT DISTINCT doc_id, $urlSql AS url FROM documents
         |), dels AS (
         |  SELECT url,
         |         unnest(list_concat([url], list_transform(range(1, len(url)+1),
         |                i -> substr(url, 1, i-1) || substr(url, i+1, len(url))))) AS v
         |  FROM u
         |), cand AS (
         |  SELECT DISTINCT a.url AS url_a, b.url AS url_b
         |  FROM dels a JOIN dels b ON a.v = b.v AND a.url < b.url
         |), prs AS (
         |  SELECT url_a, url_b FROM cand WHERE levenshtein(url_a, url_b) = 1
         |), idp AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM prs JOIN u a ON prs.url_a = a.url JOIN u b ON prs.url_b = b.url
         |), sym AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM idp
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM idp
         |), nds AS (
         |  SELECT DISTINCT src AS node FROM sym
         |), reach(node, lab) AS (
         |  SELECT node, node FROM nds
         |  UNION
         |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON r.node = s.src
         |), cl AS (
         |  SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
         |)
         |SELECT un.url, uc.url AS canonical_url
         |FROM cl JOIN u un ON cl.doc_id = un.doc_id
         |JOIN u uc ON cl.cluster_id = uc.doc_id""".stripMargin,

    // communities: the fuzzy-pair CTEs verbatim, then 4 unrolled
    // synchronous LPA rounds — votes (dst, label, weight), max weight
    // per dst, min label achieving it, coalesce onto the previous
    // labels. MATERIALIZED state CTEs (each round references its
    // predecessor twice; inlined, the tree re-expands geometrically —
    // the q_bpe_train lesson)
    "q_communities" ->
      s"""$lpaStateCte
         |SELECT node AS url, label AS community FROM lab4""".stripMargin,

    // modularity over the SAME labels (lab4) and edge relation:
    // per-community internal mass and degree mass, dq spelled with the
    // identical double-op sequence as the engine
    "q_modularity" ->
      s"""$lpaStateCte, deg AS (
         |  SELECT src, CAST(sum(w) AS BIGINT) AS k FROM sym GROUP BY 1
         |), tot2 AS (
         |  SELECT CAST(sum(w) AS BIGINT) AS m2 FROM sym
         |), el AS (
         |  SELECT la.label AS cla, lb.label AS clb, e.w
         |  FROM sym e JOIN lab4 la ON e.src = la.node JOIN lab4 lb ON e.dst = lb.node
         |), win AS (
         |  SELECT cla AS community, CAST(sum(w) AS BIGINT) AS w_in
         |  FROM el WHERE cla = clb GROUP BY 1
         |), kc AS (
         |  SELECT label AS community, CAST(coalesce(sum(k), 0) AS BIGINT) AS k_tot
         |  FROM lab4 LEFT JOIN deg ON lab4.node = deg.src GROUP BY 1
         |)
         |SELECT kc.community, coalesce(w_in, 0) AS w_in, k_tot,
         |       round(CAST(coalesce(w_in, 0) AS DOUBLE) / m2
         |             - (CAST(k_tot AS DOUBLE) / m2) * (CAST(k_tot AS DOUBLE) / m2),
         |             6) AS dq
         |FROM kc LEFT JOIN win ON kc.community = win.community, tot2""".stripMargin,

    // doc-graph PageRank: the fuzzy-pair CTEs verbatim, then the shared
    // iteration SQL (RelationalQueries.prIterSql — n computed in SQL)
    "q_pagerank_docs" -> pagerankDocsOracleSql,

    // doc-graph HITS: the fuzzy-pair CTEs verbatim, then the shared
    // HITS half-step CTEs (RelationalQueries.hitsIterSql)
    "q_hits_docs" ->
      s"""WITH u AS MATERIALIZED (
         |  SELECT DISTINCT $urlSql AS url FROM documents
         |), dels AS (
         |  SELECT url,
         |         unnest(list_concat([url], list_transform(range(1, len(url)+1),
         |                i -> substr(url, 1, i-1) || substr(url, i+1, len(url))))) AS v
         |  FROM u
         |), cand AS (
         |  SELECT DISTINCT a.url AS url_a, b.url AS url_b
         |  FROM dels a JOIN dels b ON a.v = b.v AND a.url < b.url
         |), prs AS (
         |  SELECT url_a, url_b FROM cand WHERE levenshtein(url_a, url_b) = 1
         |), e AS MATERIALIZED (
         |  SELECT url_a AS src, url_b AS dst FROM prs
         |  UNION ALL
         |  SELECT url_b AS src, url_a AS dst FROM prs
         |), nodes AS MATERIALIZED (
         |  SELECT url AS node FROM u
         |), h0 AS (
         |  SELECT node, CAST(1 AS DOUBLE) AS h FROM nodes
         |), ${(0 until 4).map(RelationalQueries.hitsIterSql).mkString(", ")}
         |SELECT node AS url, h4.h AS hub, a4.a AS auth
         |FROM h4 JOIN a4 USING (node)""".stripMargin,

    // doc-graph BFS: the fuzzy-pair CTEs, a recursive ≤6-hop walk from
    // the lexicographically-first paired URL (scalar subquery — the
    // engine's 1-row driver lift computed in SQL)
    "q_bfs_docs" ->
      s"""WITH RECURSIVE u AS (
         |  SELECT DISTINCT $urlSql AS url FROM documents
         |), dels AS (
         |  SELECT url,
         |         unnest(list_concat([url], list_transform(range(1, len(url)+1),
         |                i -> substr(url, 1, i-1) || substr(url, i+1, len(url))))) AS v
         |  FROM u
         |), cand AS (
         |  SELECT DISTINCT a.url AS url_a, b.url AS url_b
         |  FROM dels a JOIN dels b ON a.v = b.v AND a.url < b.url
         |), prs AS (
         |  SELECT url_a, url_b FROM cand WHERE levenshtein(url_a, url_b) = 1
         |), sym AS (
         |  SELECT url_a AS src, url_b AS dst FROM prs
         |  UNION ALL
         |  SELECT url_b AS src, url_a AS dst FROM prs
         |), walk(node, hops) AS (
         |  SELECT seed, CAST(0 AS BIGINT)
         |  FROM (SELECT min(least(url_a, url_b)) AS seed FROM prs)
         |  WHERE seed IS NOT NULL
         |  UNION
         |  SELECT s.dst, w.hops + 1 FROM walk w JOIN sym s ON w.node = s.src
         |  WHERE w.hops < 6
         |)
         |SELECT node AS url, min(hops) AS hops FROM walk GROUP BY node""".stripMargin,

    // TextRank: ordered stopword-filtered token list → adjacent pairs →
    // symmetric count-weighted edges → the shared PR iteration CTEs
    "q_textrank" -> textrankOracleSql,

    "q_prefix_terms" ->
      s"""$termsCte SELECT term, count(*) AS df FROM terms
         |WHERE term >= 's' AND term < 't'
         |GROUP BY term ORDER BY term""".stripMargin,

    // independent formulation: brute-force levenshtein over the whole
    // vocabulary (no SymSpell blocking to mirror — the blocking scheme
    // itself is under test, per the r12 lesson that an oracle sharing
    // the engine's blocking masks recall holes)
    "q_term_fuzzy" ->
      s"""$termsCte SELECT DISTINCT doc_id, $urlSql AS url FROM terms
         |WHERE levenshtein(term, 'park') <= 1""".stripMargin,

    "q_bool_and" ->
      s"""$termsCte SELECT a.doc_id FROM terms a JOIN terms b USING (doc_id)
         |WHERE a.term = 'spark' AND b.term = 'hash'""".stripMargin,

    "q_bool_or" ->
      s"""$termsCte SELECT DISTINCT doc_id FROM terms WHERE term IN ('spark', 'hash')""",

    // independent formulation: instead of the positional self-join the
    // engine plans, slide a window over the stopword-filtered token list
    // and count positions where the phrase starts
    "q_phrase" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+'),
         |                     t -> t <> '') AS ts
         |  FROM documents
         |), filt AS (
         |  SELECT doc_id, list_filter(ts, t -> t NOT IN ($stopList)) AS fs FROM toks
         |), m AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(range(1, len(fs)),
         |                  i -> fs[i] = 'value' AND fs[i+1] = 'table')) AS BIGINT) AS n_matches
         |  FROM filt
         |)
         |SELECT doc_id, n_matches FROM m WHERE n_matches > 0""".stripMargin,

    // independent formulation: explicit 0-based positions via range over
    // the filtered token list, banded self-join — mirrors posexplode's
    // position semantics exactly
    "q_near" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+'),
         |                     t -> t <> '') AS ts
         |  FROM documents
         |), filt AS (
         |  SELECT doc_id, list_filter(ts, t -> t NOT IN ($stopList)) AS fs FROM toks
         |), pos AS (
         |  SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos, fs[CAST(t.i AS INT)] AS term
         |  FROM filt, unnest(range(1, len(fs) + 1)) AS t(i)
         |), a AS (SELECT doc_id, pos AS pa FROM pos WHERE term = 'spark'),
         |   b AS (SELECT doc_id, pos AS pb FROM pos WHERE term = 'hash')
         |SELECT a.doc_id, count(*) AS n_pairs, min(abs(pa - pb)) AS min_dist
         |FROM a JOIN b USING (doc_id)
         |WHERE abs(pa - pb) <= 5
         |GROUP BY a.doc_id""".stripMargin,

    "q_bool_not" ->
      s"""$termsCte SELECT doc_id FROM terms WHERE term = 'spark'
         |EXCEPT SELECT doc_id FROM terms WHERE term = 'hash'""".stripMargin,

    "q_token_count" ->
      s"""SELECT doc_id,
         |  len(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+'),
         |      t -> t <> '')) AS n_tokens,
         |  len(list_distinct(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+'),
         |      t -> t <> '' AND t NOT IN ($stopList)))) AS n_terms
         |FROM documents""".stripMargin,

    "q_tf" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         unnest(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+')) AS term
         |  FROM documents
         |)
         |SELECT doc_id, term, count(*) AS tf FROM toks
         |WHERE term <> '' AND term NOT IN ($stopList)
         |GROUP BY doc_id, term""".stripMargin,

    "q_ranked_search" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         unnest(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+')) AS term
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks
         |  WHERE term IN ('spark', 'hash') GROUP BY doc_id, term
         |), df AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |w AS (
         |  SELECT tf.doc_id, round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS w
         |  FROM tf JOIN df USING (term) CROSS JOIN n
         |)
         |SELECT doc_id, round(sum(w), 6) AS score, count(*) AS n_matched
         |FROM w GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // float-op ordering mirrors the engine expression exactly (idf ×
    // saturated-tf ÷ length norm, per-term round 6, rounded sum) — the
    // only non-exact inputs are double divisions, identical both sides;
    // dl comes from a per-document LIST length so zero-token docs count
    // in N/avgdl exactly as the engine's size() projection does
    "q_bm25" ->
      s"""WITH dl AS (
         |  SELECT doc_id,
         |         len(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+'),
         |             t -> t <> '' AND t NOT IN ($stopList))) AS dl
         |  FROM documents
         |), stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |toks AS (
         |  SELECT doc_id,
         |         unnest(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+')) AS term
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks
         |  WHERE term IN ('spark', 'hash') GROUP BY doc_id, term
         |), df AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), w AS (
         |  SELECT tf.doc_id,
         |         round(ln((n_docs - df + 0.5) / (df + 0.5) + 1)
         |               * (tf * (1.2 + 1))
         |               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)), 6) AS w
         |  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
         |)
         |SELECT doc_id, round(sum(w), 6) AS score, count(*) AS n_matched
         |FROM w GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // hybrid RRF: the BM25 leg is q_bm25's SQL verbatim + rank; the
    // vector leg is q_sim_topk's + rank; fusion is rank arithmetic
    "q_hybrid" ->
      s"""WITH dl AS (
         |  SELECT doc_id,
         |         len(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+'),
         |             t -> t <> '' AND t NOT IN ($stopList))) AS dl
         |  FROM documents
         |), stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |toks AS (
         |  SELECT doc_id,
         |         unnest(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+')) AS term
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks
         |  WHERE term IN ('spark', 'hash') GROUP BY doc_id, term
         |), df AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), w AS (
         |  SELECT tf.doc_id,
         |         round(ln((n_docs - df + 0.5) / (df + 0.5) + 1)
         |               * (tf * (1.2 + 1))
         |               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)), 6) AS w
         |  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
         |), btop AS (
         |  SELECT doc_id, round(sum(w), 6) AS score FROM w GROUP BY doc_id
         |  ORDER BY score DESC, doc_id LIMIT 10
         |), brank AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rl FROM btop
         |), ve AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), vn AS (
         |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS norm FROM ve
         |), qv AS (SELECT v AS qv, norm AS qn FROM vn WHERE vec_id = 0),
         |vtop AS (
         |  SELECT vec_id AS doc_id,
         |         round(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*qv[i]))
         |               / (norm * qn), 6) AS sim
         |  FROM vn, qv WHERE vec_id <> 0
         |  ORDER BY sim DESC, vec_id LIMIT 10
         |), vrank AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rv FROM vtop
         |)
         |SELECT doc_id,
         |       round(COALESCE(CAST(1 AS DOUBLE) / (60 + rl), 0.0)
         |             + COALESCE(CAST(1 AS DOUBLE) / (60 + rv), 0.0), 6) AS rrf
         |FROM brank FULL OUTER JOIN vrank USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "q_tfidf" ->
      s"""$termsCte, toks2 AS (
         |  SELECT doc_id,
         |         unnest(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+')) AS term
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks2
         |  WHERE term <> '' AND term NOT IN ($stopList) GROUP BY doc_id, term
         |), df AS (
         |  SELECT term, count(*) AS df FROM terms GROUP BY term
         |), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
         |SELECT tf.doc_id, tf.term, tf.tf,
         |       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
         |FROM tf JOIN df USING (term) CROSS JOIN n""".stripMargin,

    "q_top_terms_per_source" -> topTermsOracleSql,
  )

  private lazy val topTermsOracleSql: String =
    s"""$termsCte, per_source AS (
       |  SELECT source, term, count(*) AS df FROM terms GROUP BY source, term
       |)
       |SELECT source, term, df,
       |       CAST(row_number() OVER (PARTITION BY source ORDER BY df DESC, term) AS BIGINT) AS rank
       |FROM per_source QUALIFY rank <= 3""".stripMargin
}

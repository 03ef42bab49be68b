package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.Query
import graft.operators.Dedup
import graft.sources.{Corpus, SessionStores}

/** Dedup operator surface (⊕ LLM-pipeline): exact, MinHash-LSH near-dup
  * with Jaccard verification, SimHash fingerprints. Oracles re-express the
  * identical algorithm in DuckDB SQL — possible because every hash in the
  * operators is md5-derived (engine-portable), not an engine-private seed.
  */
object DedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = Corpus.documents(s, dir)

  /** The brightness-shift alphabet pair: every payload byte 32..125
    * maps to byte+1 — a global luminance shift, the transform a lossy
    * re-encode applies uniformly and the one perceptual hashes are
    * DEFINED to survive (gradient SIGNS are shift-invariant; corpus
    * charset is 32..121, so no byte escapes the map). Shared by the
    * store build and, escaped, by the oracle's `translate`.
    */
  private val shiftFrom = (32 to 125).map(_.toChar).mkString
  private val shiftTo = (33 to 126).map(_.toChar).mkString
  private[graft] def sqlQuote(sq: String): String = "'" + sq.replace("'", "''") + "'"

  /** ID offset marking a re-encoded variant payload (doc ids are far
    * below it at any corpus scale here; a deployment keys variants
    * however its catalog does).
    */
  private val VariantIdOffset = 1000000000L

  /** q_img_dedup's dHash fingerprint relation: the corpus payloads
    * PLUS a deterministic re-encoded variant of each (the brightness
    * shift above, ids offset by [[VariantIdOffset]]), thumbnailed and
    * gradient-hashed through the batched `Multimodal.dHashesStub`
    * pipeline (9×8 grid, classic pixel dHash). Persisted once per
    * (process, corpus) — the `DedupStore.hashes` discipline: the
    * corpus-proportional decode pass runs at store build; the timed
    * query is the banded pair join over the fingerprint read.
    */
  private[graft] def dHashStore(s: SparkSession, dir: String): DataFrame =
    SessionStores.parquet(s, "graft_imgdedup", "dhash", dir) {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val variants = base.select((col("doc_id") + VariantIdOffset).as("doc_id"),
        translate(col("text"), shiftFrom, shiftTo).as("text"))
      val payloads = base.unionByName(variants)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
      graft.operators.Multimodal.dHashesStub(payloads)
    }

  /** q_clip_dedup's per-frame fingerprint relation: every payload of
    * the [[dHashStore]] set (corpus + shifted re-encodes) sampled into
    * 4 evenly-spaced 96-byte frames (`Multimodal.frameSample` — the
    * q_frame_sample kernel), each frame pixel-dHashed through the same
    * batched stub pipeline. Frames ride the hash pass packed as
    * clip_id·8+frame and are unpacked on store write. Same build-once
    * discipline: the payload-proportional slice+hash pass runs at store
    * build; the timed query is the banded pair join + majority verify.
    */
  private val ClipFrames = 4
  private val ClipFrameBytes = 96
  private[graft] def clipHashStore(s: SparkSession, dir: String): DataFrame =
    SessionStores.parquet(s, "graft_clipdedup", "clipdhash", dir) {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val variants = base.select((col("doc_id") + VariantIdOffset).as("doc_id"),
        translate(col("text"), shiftFrom, shiftTo).as("text"))
      val frames = base.unionByName(variants)
        .select(col("doc_id"),
          posexplode(graft.operators.Multimodal.frameSample(
            encode(col("text"), "utf-8"), ClipFrames, ClipFrameBytes))
            .as(Seq("frame", "fpay")))
        .select((col("doc_id") * 8 + col("frame")).as("doc_id"),
          col("fpay").as("payload"))
      graft.operators.Multimodal.dHashesStub(frames)
        .select(expr("doc_id DIV 8").as("clip_id"), (col("doc_id") % 8).as("frame"),
          col("dhash"))
    }

  val queries: Map[String, Query] = Map[String, Query](
    "q_dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir))),
    "q_dedup_near" -> ((s, dir) => DedupStore.pairs(s, dir)),
    "q_dedup_clusters" -> ((s, dir) => DedupStore.clusters(s, dir)),

    // DOC-level MIRROR detection: near-dup pairs that CROSS source
    // boundaries, rolled to a source-pair matrix — which sources
    // republish each other's documents (the doc-grain complement of
    // q_source_overlap's shingle-level Jaccard). Rides the session
    // pair store: two doc-keyed joins of the pair-sized relation
    // against the (doc_id, source) projection, one source-pair
    // aggregate — the LSH pipeline never re-runs.
    "q_mirror_pairs" -> ((s, dir) =>
      mirrorPairsOf(docs(s, dir), DedupStore.pairs(s, dir))),

    // Twin over the ACCUMULATED streaming pair store (canonical pairs
    // are spec-proven equal to the batch relation; these rows
    // hash-check the derived matrices under the batch oracles).
    "q_mirror_pairs_streamed" -> ((s, dir) =>
      mirrorPairsOf(docs(s, dir), graft.streaming.StreamingDedup.pairs(
        s, DedupStore.streamedStorePath(s, dir)))),

    // THRESHOLD SWEEP calibration (the dedup-tuning query an operator
    // runs before picking a Jaccard cutoff): pair and touched-doc
    // counts at each candidate threshold, one pass over the session
    // pair store (pair-sized × |thresholds|, never a corpus re-scan);
    // a threshold-ordered spine keeps zero-pair thresholds visible.
    "q_dedup_sweep" -> ((s, dir) =>
      dedupSweepOf(s, DedupStore.pairs(s, dir))),
    "q_dedup_sweep_streamed" -> ((s, dir) =>
      dedupSweepOf(s, graft.streaming.StreamingDedup.pairs(
        s, DedupStore.streamedStorePath(s, dir)))),

    // Line-level boilerplate removal (CCNet/RefinedWeb cleaner): per-doc
    // removal mass + retained-text digest after dropping 8-token
    // segments verbatim-shared by ≥ 3 docs of the same source — over
    // the PERSISTED segment relation (r17: banner enrichment + segment
    // explode build untimed in EnrichedStores; the timed row is the
    // boilerplate detect + join + per-doc aggregate alone).
    "q_line_dedup" -> ((s, dir) => lineDedupFromSegments(
      AnalysisQueries.EnrichedStores.lineSegments(s, dir, "batch",
        docs(s, dir)))),

    // Streamed twin over the doc-fact store — boilerplate membership
    // depends on the exact accumulated doc set, so this checks the
    // store's corpus contract, not just a per-doc projection.
    "q_line_dedup_streamed" -> ((s, dir) => lineDedupFromSegments(
      AnalysisQueries.EnrichedStores.lineSegments(s, dir, "streamed",
        AnalysisQueries.DocStores.streamedDocs(s, dir)))),

    // Duplicate-aware LOSS WEIGHTING (soft dedup — keep every near-dup
    // but downweight by family size, the alternative to hard removal
    // when duplicates carry signal): weight = 1/cluster_size for
    // clustered docs, 1.0 for singletons. One left join against the
    // session cluster store + a cluster-sized count join.
    "q_dup_weights" -> ((s, dir) => {
      val sizes = DedupStore.clusters(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("csz"))
      docs(s, dir).select(col("doc_id"))
        .join(DedupStore.clusters(s, dir), Seq("doc_id"), "left_outer")
        .join(sizes, Seq("cluster_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("csz"), lit(1L)).as("cluster_size"),
          round(lit(1.0) / coalesce(col("csz"), lit(1L)), 6).as("weight"))
    }),

    // Near-dup cluster-size histogram — the dedup release metric
    // (how much mass sits in how-big duplicate families): two tiny
    // aggregates over the shared cluster store; only docs in ≥1 pair
    // appear, so every size is ≥ 2.
    "q_cluster_sizes" -> ((s, dir) =>
      DedupStore.clusters(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))),

    // The end-to-end curation pipeline a training-data stack runs: score
    // quality, cluster near-duplicates, keep high-quality cluster
    // representatives (or unduplicated docs). Composes the quality,
    // LSH-dedup and clustering operators; the cluster relation comes from
    // the shared store, so the LSH + clustering work is NOT re-run when
    // the other dedup queries already materialized it.
    "q_curate" -> ((s, dir) => curate(docs(s, dir), DedupStore.clusters(s, dir))),

    // The curation YIELD FUNNEL — the per-stage survivor report a
    // pipeline publishes with every corpus release: raw → language gate
    // (predicted 'en') → quality gate (score ≥ 0.75, q_curate's
    // threshold) → near-dup canonicalization (corpus-wide cluster
    // representatives, the shared DedupStore relation) → eval-set
    // decontamination (flagged-overlap docs dropped). Stages apply
    // SEQUENTIALLY; each count is one doc_id-keyed semi/anti join on
    // the previous survivor set, so the whole funnel is a chain of
    // AQE-splittable equi-joins plus five 1-row aggregates — cluster
    // and shingle relations come from the session stores, never
    // re-derived here.
    "q_yield" -> ((s, dir) => yieldOf(docs(s, dir),
      DedupStore.clusters(s, dir),
      DedupStore.hashes(s, dir).select(col("doc_id"), col("sh")))),

    // The WHOLE release funnel over the ACCUMULATED streaming-ingest
    // state: docs from the doc-fact store, clusters + shingles from
    // the incremental dedup store — the snapshot-cut release report a
    // continuously-ingesting stack publishes. Batch oracle verbatim
    // (every streamed relation is contract-equal to its batch twin).
    "q_yield_streamed" -> ((s, dir) => {
      val storePath = DedupStore.streamedStorePath(s, dir)
      yieldOf(AnalysisQueries.DocStores.streamedDocs(s, dir),
        DedupStore.streamedClusters(s, storePath),
        graft.streaming.StreamingDedup.hashes(s, storePath)
          .select(col("doc_id"), col("sh")))
    }),

    // The SAME curation but served from the ACCUMULATED streaming-ingest
    // store (`curateStreamed`): the corpus is fed through
    // `StreamingDedup.processBatch` in deterministic micro-batches into a
    // session-scoped store (built once, untimed in Bench), and curation
    // reads the accumulated pair relation — the snapshot-cut shape a
    // continuously-ingesting stack runs. Oracled with the identical SQL
    // as `q_curate`: the streamed store is contract-equal to the batch
    // LSH run, so a store-layout or collapse-rule change that breaks the
    // equivalence fails CORRECTNESS here instead of only a unit spec.
    "q_curate_streamed" -> ((s, dir) =>
      curateStreamed(docs(s, dir).select("doc_id", "text"),
        DedupStore.streamedStorePath(s, dir))),

    // N-gram NOVELTY scoring (the memorization/staleness curation
    // signal): per document, the fraction of its distinct 3-gram
    // shingles FIRST seen in that document (by doc_id ingest order) —
    // boilerplate-heavy late documents score near 0, fresh content near
    // 1. Served from the shared hash store's shingle sets (no corpus
    // re-tokenize); the first-seen relation is one vocab-sized min
    // aggregate, the join is shingle-keyed (AQE-splittable).
    "q_novelty" -> ((s, dir) => noveltyOf(DedupStore.hashes(s, dir))),

    // Streamed twin: the same body over the ACCUMULATED streaming-
    // ingest hash store (canonical-by-doc — the q_curate_streamed
    // surface); first-seen-by-doc_id is a pure function of the
    // accumulated doc set, so the twin hash-checks under the batch
    // oracle verbatim.
    "q_novelty_streamed" -> ((s, dir) =>
      noveltyOf(graft.streaming.StreamingDedup.hashes(
        s, DedupStore.streamedStorePath(s, dir)))),

    // Pins the minSharedRare=1 vs =2 recall divergence IN the correctness
    // artifact (not only in DedupSpec): pair counts under both settings
    // plus the pairs the =2 opt-in drops, oracle-checked — a corpus or
    // operator change that widens the divergence shows up as a CORRECTNESS
    // mismatch, not a silent recall loss. Deliberately re-runs the
    // rejected =1 candidate formulation; excluded from the timed bench
    // (a diagnostic, not a serving query — see Bench).
    "q_jaccard_mindiverge" -> ((s, dir) => {
      val h = DedupStore.hashes(s, dir)
      // each pipeline is materialized ONCE: p1 and p2 both feed a count
      // AND the except — without the boundary each full candidate+verify
      // pass (the =1 one is the expensive rejected formulation) runs twice
      val p1 = Dedup.materializeOnce(
        Dedup.jaccardPairsFromShingles(h, minSharedRare = 1).select("doc_a", "doc_b"))
      val p2 = Dedup.materializeOnce(
        Dedup.jaccardPairsFromShingles(h, minSharedRare = 2).select("doc_a", "doc_b"))
      p1.agg(count(lit(1)).as("pairs_m1"))
        .crossJoin(broadcast(p2.agg(count(lit(1)).as("pairs_m2"))))
        .crossJoin(broadcast(p1.except(p2).agg(count(lit(1)).as("dropped_by_m2"))))
    }),
    // SPARSE document similarity — idf-weighted shingle-set cosine
    // pairs, the sparse-vector counterpart of the dense ANN family
    // (mirror detection on weighted shingles; unigrams carry no rarity
    // on a narrow-vocabulary corpus, 3-gram shingles do). Candidates
    // share a RARE shingle (2 ≤ df ≤ 10 — the q_jaccard_pairs
    // discipline: fan ≤ df²/2 per shingle at ANY corpus size, never
    // all-pairs); verify is an exact cosine over the session hash
    // store's shingle sets — per-(doc, shingle) weight = idf, dot
    // products as exact DECIMAL sums (a double dot is association-
    // order-dependent at doc width), norms sqrt'd once per doc. Both
    // sides filter on the ROUNDED cosine so the threshold can't flake.
    "q_sparse_sim" -> ((s, dir) => {
      val dec = (c: org.apache.spark.sql.Column) =>
        c.cast(org.apache.spark.sql.types.DecimalType(13, 6))
      val h = DedupStore.hashes(s, dir).filter(size(col("sh")) > 0)
      val ex = h.select(col("doc_id"), explode(col("sh")).as("shingle"))
      val dfRel = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
      // n_docs = docs carrying ≥1 shingle. The hash store is ONE ROW PER
      // DOC (doc_id is the corpus key), so a plain row count over the
      // already-cached per-doc frame equals countDistinct(doc_id) over
      // the exploded shingle stream — without the explode (shingle-count
      // row amplification) or the distinct's exchange (guide §2: don't
      // shuffle rows an input-grain count already answers).
      val n = h.agg(count(lit(1)).as("n_docs"))
      // w feeds the norm pass AND both dot legs — one materialized cut
      val w = Dedup.materializeOnce(
        ex.join(dfRel, "shingle").crossJoin(broadcast(n))
          .select(col("doc_id"), col("shingle"),
            round(log(col("n_docs").cast("double") / col("df")), 6).as("idf")))
      val nrm = w.groupBy("doc_id")
        .agg(sqrt(sum(dec(col("idf")) * dec(col("idf"))).cast("double")).as("nrm"))
      // the SESSION-CACHED =2 candidate relation (q_jaccard_pairs /
      // q_containment share it): requiring TWO shared rare shingles is
      // the verify-mass bound the =1 formulation lacks (measured here:
      // 7.0 s → in family, the r5 jaccard lesson re-learned)
      val cand = DedupStore.rareCandidates(s, dir).select("doc_a", "doc_b")
      val dot = cand
        .join(w.select(col("doc_id").as("doc_a"), col("shingle"),
          col("idf").as("wa")), Seq("doc_a"))
        .join(w.select(col("doc_id").as("doc_b"), col("shingle"),
          col("idf").as("wb")), Seq("doc_b", "shingle"))
        .groupBy("doc_a", "doc_b")
        .agg(sum(dec(col("wa")) * dec(col("wb"))).cast("double").as("dot"))
      dot
        .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
        .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
        .filter(col("cosine") >= 0.3)
    }),

    "q_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir))),
    "q_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(docs(s, dir))),

    // PERCEPTUAL image dedup — multimodal tied into the dedup family:
    // classic pixel dHash (9×8 thumbnails through the batched stub
    // resize, gradient-sign bits) over the corpus payloads AND a
    // deterministic brightness-shifted re-encode of each, then banded
    // Hamming pairs through the same pigeonhole + capped-bucket +
    // codegen'd hamming_hex machinery as q_simhash_pairs — NEVER
    // all-pairs. The result is the property that makes dHash
    // PERCEPTUAL rather than cryptographic: every (original,
    // re-encode) pair collides at distance 0 (gradient signs are
    // shift-invariant) while unrelated payloads stay ≥ 13 bits apart
    // (measured; nothing else within 6). The oracle is an INDEPENDENT
    // formulation — brute-force pairwise bit disagreement over ALL
    // payload pairs, no banding to mirror — so the 4-chunk pigeonhole
    // recall claim is itself under test.
    "q_img_dedup" -> ((s, dir) =>
      Dedup.hammingPairs(dHashStore(s, dir), "dhash", maxDistance = 3)),

    // FRAME-SEQUENCE (video-shaped) perceptual dedup — q_frame_sample's
    // evenly-spaced slices × q_img_dedup's pixel dHash, sequence-level
    // near-dup via per-(frame, chunk) pigeonhole banding + a 3-of-4
    // aligned-frame majority vote (Dedup.clipPairs) — never all-pairs,
    // tolerant to one edited frame where whole-payload hashing is not.
    // Every (original, re-encode) pair matches 4/4 (gradient signs are
    // shift-invariant per frame). Oracle: INDEPENDENT brute-force —
    // all clip pairs, per-frame bit disagreement, no banding to mirror,
    // so the per-frame pigeonhole recall claim is itself under test.
    "q_clip_dedup" -> ((s, dir) =>
      Dedup.clipPairs(clipHashStore(s, dir), "dhash", maxDistance = 3,
        minMatchedFrames = 3)),
    // shares the session-cached shingle+hash frame with the LSH build —
    // the tokenize→shingle→md5 pass runs once per corpus, not per query
    // opts into minSharedRare=2 (verify-mass cut; the library default
    // stays 1 for recall stability — see Dedup.jaccardPairs scaladoc).
    // MEASURED recall cost of the opt-in: zero divergence from =1 at
    // sf0.001/sf0.01; at sf0.1 exactly one true pair of 237 is dropped —
    // pinned per scale in DedupSpec ("divergence is pinned per scale") so
    // a corpus or operator change can't silently widen it
    // both verifiers share the SESSION-CACHED candidate relation
    // (DedupStore.rareCandidates) — the generation stage is ~half of
    // either query's cost and byte-identical between them
    "q_jaccard_pairs" -> ((s, dir) =>
      Dedup.verifyJaccard(
        DedupStore.rareCandidates(s, dir),
        DedupStore.hashes(s, dir).filter(size(col("sh")) > 0),
        threshold = 0.5)),

    // containment (subset-duplicate) pairs: the asymmetric overlap the
    // Jaccard threshold misses — same shared candidate stage, verify
    // WITHOUT the size-ratio prune (that prune encodes J ≤ min/max,
    // exactly the mass containment exists to keep)
    "q_containment" -> ((s, dir) =>
      Dedup.containmentFromCandidates(
        DedupStore.rareCandidates(s, dir),
        DedupStore.hashes(s, dir).filter(size(col("sh")) > 0),
        threshold = 0.8)),

    // benchmark decontamination: a deterministic slice of the corpus
    // stands in for the eval set; training docs that share any trigram
    // shingle with it are flagged with their distinct overlap count.
    // The doc_id cap keeps the slice at most 64 docs at ANY corpus
    // scale — the eval side must stay eval-set-sized (it is
    // force-broadcast), not a fixed fraction that grows with the corpus.
    // Served from the session shingle store: the tokenize→shingle pass
    // runs once per corpus, not per decontamination pass.
    "q_decontaminate" -> ((s, dir) => {
      val sh = DedupStore.hashes(s, dir).select(col("doc_id"), col("sh"))
      Dedup.decontaminateFromShingles(sh.filter(!evalDocPred), sh.filter(evalDocPred))
    }),

    // Bloom-filter decontamination, hash-checked via the deterministic
    // guarantee-projection protocol (the HLL/MG/CMS/GK pattern): the
    // probabilistic structure's ONE-SIDED contract — every exactly-
    // contaminated doc is bloom-flagged (no false negatives, Bloom
    // `false` is definite) and doc-level false positives stay within a
    // generous fixed bound — is computed as booleans the oracle states
    // as literals. Both branches share the session shingle store; the
    // bloom branch itself is join-FREE (scan → codegen'd bloom_contains
    // probe → per-doc agg), which is its 100 TB reason to exist: the
    // eval broadcast shrinks from full shingle strings to ~19 bits per
    // shingle. DedupSpec pins ≥2× headroom on the fp bound per scale so
    // corpus drift names itself before flipping the hash.
    "q_bloom_decontaminate" -> ((s, dir) =>
      bloomDecontChecked(s, dir, (c, _) =>
        Dedup.decontaminateBloomWith(c, DedupStore.benchBloom(s, dir)))),

    // The STREAMED twin: the filter comes from the session's incremental
    // bloom store (eval shingles ingested per micro-batch, OR-merged at
    // read — StreamingSketch's bloom family), probed by the identical
    // codegen'd pass. Bloom OR-merge is bit-exact for the union stream,
    // so the guarantee projection — and therefore the oracle SQL — is
    // IDENTICAL to the batch query's: stream ≡ batch at the guarantee
    // level, hash-checked.
    "q_bloom_decontaminate_streamed" -> ((s, dir) => {
      val store = AnalysisQueries.SketchStores.streamedMgStore(s, dir)
      val filter = graft.streaming.StreamingSketch.Bloom.state(s, store)
      bloomDecontChecked(s, dir, (c, _) => Dedup.decontaminateBloomWith(c, filter))
    }),
  ) ++ AnalysisQueries.DocStores.twins(
    // EXACT-SUBSTRING span dedup (the Lee et al. 2022 "Deduplicating
    // Training Data" operator, distinct from the SET-based Jaccard
    // family): document pairs sharing verbatim 8-token windows, with
    // the shared-window count — catches copied passages inside
    // otherwise-different documents that set-similarity dilutes away.
    // Candidates come from an equi-join on the window STRING itself
    // (exact by construction — no hash verify step), with the
    // rare-window df ∈ [2, 16] band bounding per-window fan exactly
    // like q_jaccard_pairs' rare-shingle discipline; boilerplate
    // windows above the cap are dropped (a df-16 window at corpus
    // scale is a template, not a copy).
    "q_span_dups" -> ((_, _, d) => spanDupsOf(d)),
  )

  /** Shared checked projection for the Bloom decontamination family:
    * `flaggedOf` supplies the probabilistic branch (batch-built filter
    * or the streamed store's accumulated one); the exact branch and the
    * guarantee booleans are common. Single hash-checked row.
    */
  private def bloomDecontChecked(s: SparkSession, dir: String,
      flaggedOf: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val sh = DedupStore.hashes(s, dir).select(col("doc_id"), col("sh"))
    val corpusSh = sh.filter(!evalDocPred)
    val benchSh = sh.filter(evalDocPred)
    val exact = Dedup.materializeOnce(
      Dedup.decontaminateFromShingles(corpusSh, benchSh).select("doc_id"))
    val flagged = Dedup.materializeOnce(flaggedOf(corpusSh, benchSh).select("doc_id"))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(exact.join(flagged, Seq("doc_id"), "left_anti")
        .agg((count(lit(1)) === 0).as("no_false_negatives"))))
      .crossJoin(broadcast(flagged.join(exact, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_fp"))
        .crossJoin(broadcast(corpusSh.agg(count(lit(1)).as("n_docs"))))
        .select((col("n_fp") <= col("n_docs") * lit(0.05) + lit(10))
          .as("fp_within_bound"))))
  }

  /** Stand-in eval-slice parameters: doc_id multiples of `EvalDocMod`
    * below `EvalDocCap` — at most 64 eval docs at ANY corpus scale. ONE
    * definition each, interpolated into the oracle SQL too — the Spark
    * query and the oracle must never disagree on either.
    */
  private[graft] val EvalDocMod: Int = 97
  private[graft] val EvalDocCap: Int = EvalDocMod * 64

  /** The stand-in eval-set membership predicate for `q_decontaminate`. */
  private[graft] def evalDocPred: Column =
    col("doc_id") % EvalDocMod === 0 && col("doc_id") < EvalDocCap

  /** The curation filter proper, shared by the batch (`q_curate`) and
    * streamed paths: quality-score the docs, keep high-quality cluster
    * representatives (or unduplicated docs).
    */
  private[graft] def curate(docsDf: DataFrame, clusters: DataFrame): DataFrame = {
    // materialized once (r22): the quality filter otherwise pushes past
    // this projection with the FULL qualityScore expression substituted
    // in, so every row paid the band evaluation twice (filter + output
    // column) — measured 5× on the projection (0.39 → 1.95 s at sf0.1)
    val scored = graft.operators.Dedup.materializeOnce(
      docsDf.select(col("doc_id"),
        graft.functions.TextAnalysis.qualityScore(col("text")).as("quality")))
    scored.join(clusters, Seq("doc_id"), "left")
      .filter(col("quality") >= 0.75 &&
        (col("cluster_id").isNull || col("cluster_id") === col("doc_id")))
      .select("doc_id", "quality")
  }

  /** `q_curate` over a STREAMED corpus: the cluster relation comes from
    * the ACCUMULATED `StreamingDedup` pair store (built incrementally,
    * per-batch cost ∝ batch) instead of a batch LSH run — the shape a
    * training-data stack runs continuously: ingest streams all day,
    * curation reads the accumulated store whenever a snapshot is cut.
    * `docsDf` is the landed document relation of the same stream
    * (doc_id, text). Clustering runs over the pair relation only
    * (near-dup-pairs-sized, tiny relative to the corpus), so calling
    * this per snapshot re-clusters pairs, never re-shingles documents.
    * StreamingSpec pins streamed ≡ batch `q_curate` on a micro-batched
    * corpus.
    */
  def curateStreamed(docsDf: DataFrame, storePath: String): DataFrame =
    curate(docsDf, DedupStore.streamedClusters(docsDf.sparkSession, storePath))

  /** q_novelty's body over any (doc_id, sh) shingle-set relation —
    * shared by the batch query (session hash store) and the streamed
    * twin (accumulated ingest store).
    */
  private def noveltyOf(hashFrame: DataFrame): DataFrame = {
    val sh = hashFrame.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val first = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
    sh.join(first, "shingle")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
  }

  /** Session-scoped shared dedup relations (the `IndexStore` pattern,
    * `sources/Sinks.scala`): the MinHash-LSH near-dup PAIR relation and the
    * connected-component CLUSTER relation for a corpus dir are each
    * computed and persisted ONCE per session, then served to every
    * consumer — `q_dedup_near`, `q_dedup_clusters`, `q_curate` and
    * `q_jaccard_pairs` share one shingle/hash pass, one LSH run and one
    * clustering run instead of re-running the pipeline per query. The
    * pair and cluster relations are tiny (pairs of near-duplicates, one
    * row per clustered doc). The shingle/hash frame (`hashes`) is NOT
    * tiny — (doc_id, shingle array, hash array) is the widest
    * intermediate in the system — and it stays persisted
    * (MEMORY_AND_DISK, spillable) for the session so the LSH and
    * jaccard paths share it; size executor storage for roughly the
    * tokenized corpus, or `SessionStores.release(spark)` at end of job to
    * release it.
    *
    * CACHE CONTRACT: entries are `SessionStores.memo` values keyed by
    * (session, corpus dir) and live for the SESSION lifetime — a corpus
    * dir whose contents change mid-session keeps serving the relations
    * computed at first touch (exactly like a materialized view).
    */
  object DedupStore {

    /** The shared shingle+hash frame (doc_id, sh, hv): the CPU-heavy
      * tokenize→shingle→md5 pass, persisted once per corpus and fed to
      * BOTH the LSH build (`pairs`) and `q_jaccard_pairs`.
      */
    def hashes(s: SparkSession, dir: String): DataFrame =
      SessionStores.memo(s, "dedup.hashes:" + dir) {
        val h = Dedup.shingleHashFrame(Corpus.documents(s, dir)).persist()
        h.count() // materialize before fan-out (cache does not dedupe within one action)
        h
      }

    /** The batch decontamination Bloom filter for `dir`'s eval slice,
      * built ONCE per (session, corpus) — the filter is a deterministic
      * function of the eval shingles, so per-execution rebuild jobs
      * (count + distributed aggregation) are pure steady-state waste.
      */
    def benchBloom(s: SparkSession, dir: String): Array[Byte] =
      SessionStores.memo(s, "dedup.bloom:" + dir) {
        Dedup.benchShingleBloom(
          hashes(s, dir).select(col("doc_id"), col("sh")).filter(evalDocPred))
      }

    /** The rare-shingle candidate pair relation (maxDf=10,
      * minSharedRare=2), generated ONCE per (session, corpus) and shared
      * by the Jaccard and containment verifiers — the candidate stage is
      * ~half of either query's cost and is byte-identical between them.
      * Near-dup-pairs-sized (tiny); persisted.
      */
    def rareCandidates(s: SparkSession, dir: String): DataFrame =
      SessionStores.memo(s, "dedup.candidates:" + dir) {
        val c = Dedup.rareShingleCandidates(
          hashes(s, dir).filter(size(col("sh")) > 0),
          maxDf = 10, minSharedRare = 2).persist()
        c.count() // materialize before fan-out
        c
      }

    def pairs(s: SparkSession, dir: String): DataFrame =
      SessionStores.memo(s, "dedup.pairs:" + dir) {
        val p = Dedup.nearDuplicatesFromHashes(hashes(s, dir)).persist()
        p.count() // materialize in one pass before fan-out to consumers
        p
      }

    def clusters(s: SparkSession, dir: String): DataFrame =
      SessionStores.memo(s, "dedup.clusters:" + dir) {
        val c = Dedup.clusters(pairs(s, dir)).persist()
        c.count()
        c
      }

    /** Connected components over the streamed store's CURRENT pair
      * relation, memoized per (session, store) and keyed by the store's
      * change witness (`StreamingDedup.pairsVersion`) — an unchanged
      * store serves the persisted cluster frame (the snapshot-cut read a
      * continuously-ingesting stack runs between batches), a new ingest
      * batch or compaction recomputes and unpersists the frame it
      * supersedes. The per-call cost on the common unchanged path is one
      * scan of the pair store (near-dup-pair-sized), not the O(log d)
      * pointer-jumping rounds.
      */
    def streamedClusters(s: SparkSession, storePath: String): DataFrame = {
      val v = graft.streaming.StreamingDedup.pairsVersion(s, storePath)
      val key = "dedup.stream_clusters:" + storePath + "@"
      SessionStores.memo(s, key + v) {
        SessionStores.forget(s, key)
        val c = Dedup.clusters(
          graft.streaming.StreamingDedup.pairs(s, storePath)).persist()
        c.count()
        c
      }
    }

    /** Path of a session-scoped `StreamingDedup` store holding `dir`'s
      * corpus INGESTED INCREMENTALLY (`SessionStores.streamed`, sliced
      * on doc_id), so the store exercises the real accumulate path
      * (new×old candidates against the growing signature store) rather
      * than one batch-sized pass.
      */
    def streamedStorePath(s: SparkSession, dir: String): String = {
      lazy val d = Corpus.documents(s, dir).select("doc_id", "text")
      SessionStores.streamed(s, "graft_streamcur", "store", dir) { (slice, path) =>
        graft.streaming.StreamingDedup.processBatch(
          d.filter(slice(col("doc_id"))), slice.id, path): Unit
      }
    }
  }

  /** Tokens (stopwords kept) per doc — mirror of `Text.tokenize`. */
  private val toksCte =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z\s]', '', 'g'), '\s+'),
      |                     t -> t <> '') AS ts
      |  FROM documents
      |)""".stripMargin

  /** Distinct 3-gram shingle sets — mirror of `Dedup.shingleSets(_, 3)`. */
  private val shingleCte =
    s"""$toksCte, sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, greatest(len(ts)-2, 0)+1),
       |                       i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
       |  FROM toks
       |), shs AS (SELECT * FROM sh WHERE len(sh) > 0)""".stripMargin

  private val stopList = graft.functions.Text.EffectiveStopwords.map(w => s"'$w'").mkString(", ")

  /** SQL mirror of Dedup's nibble decode: first 8 hex chars of a hash
    * string `h` → BIGINT (first term cast so the accumulation never
    * overflows 32-bit ints).
    */
  private val nibDecodeSql: String = {
    def nibSql(i: Int) =
      s"(CASE WHEN ascii(substr(h,$i,1)) <= 57 THEN ascii(substr(h,$i,1)) - 48 ELSE ascii(substr(h,$i,1)) - 87 END)"
    (2 to 8).map(nibSql).foldLeft(s"CAST(${nibSql(1)} AS BIGINT)")((acc, n) => s"($acc * 16 + $n)")
  }

  /** The identical (k, a, b) universal-hash literals the Spark operator
    * uses (Dedup.hashParams), as VALUES rows — 24 bands × band size 3.
    */
  private val hashParamRows: String =
    (0 until 72).map { k =>
      val (a, b) = graft.operators.Dedup.hashParams(k)
      s"($k, $a, $b)"
    }.mkString(", ")

  /** Shared oracle of the batch (`q_curate`) and streamed
    * (`q_curate_streamed`) curation paths: the streamed store is
    * contract-equal to the batch LSH run (StreamingSpec proves pair-set
    * equality), so one SQL covers both registrations.
    */
  private lazy val curateOracleSql: String =
    s"""WITH RECURSIVE pairs AS (
         |${nearDupSql.linesIterator.map("  " + _).mkString("\n")}
         |), sym AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), nodes AS (
         |  SELECT DISTINCT src AS node FROM sym
         |), reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON r.node = s.src
         |), comp AS (
         |  SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
         |), qtoks AS (
         |  SELECT doc_id, text,
         |         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z\\s]', '', 'g'), '\\s+'),
         |                     t -> t <> '') AS ts
         |  FROM documents
         |), qm AS (
         |  SELECT doc_id,
         |    CAST(len(ts) AS BIGINT) AS n_tokens,
         |    round(CASE WHEN len(ts) = 0 THEN 0.0
         |          ELSE CAST(list_sum(list_transform(ts, t -> len(t))) AS DOUBLE) / len(ts) END, 6) AS mean_token_len,
         |    round(CASE WHEN len(ts) = 0 THEN 0.0
         |          ELSE CAST(len(list_filter(ts, t -> list_contains([$stopList], t))) AS DOUBLE) / len(ts) END, 6) AS stopword_ratio,
         |    round(CASE WHEN len(text) = 0 THEN 0.0
         |          ELSE CAST(len(text) - len(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / len(text) END, 6) AS punct_ratio
         |  FROM qtoks
         |), qscore AS (
         |  SELECT doc_id,
         |    round(((CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 1 ELSE 0 END) +
         |           (CASE WHEN mean_token_len BETWEEN 2.5 AND 12.0 THEN 1 ELSE 0 END) +
         |           (CASE WHEN stopword_ratio <= 0.6 THEN 1 ELSE 0 END) +
         |           (CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END)) / 4.0, 2) AS quality
         |  FROM qm
         |)
         |SELECT qscore.doc_id, quality
         |FROM qscore LEFT JOIN comp ON qscore.doc_id = comp.doc_id
         |WHERE quality >= 0.75 AND (cluster_id IS NULL OR cluster_id = qscore.doc_id)""".stripMargin

  /** q_span_dups' body, shared by batch and the doc-fact-store twin:
    * verbatim 8-token-window pair counts under the rare-window df band.
    */
  private def spanDupsOf(d: DataFrame): DataFrame = {
    // sh has THREE consumers (the rare-window df aggregate and both
    // sides of the candidate self-join) and Catalyst shares none of
    // them: the r22 plan ran the tokenize + 8-token shingle explode
    // over the corpus FOUR times (the df aggregate replanned once per
    // broadcast side). One materialized cut = one corpus pass; the
    // q_curate / fixpoint materializeOnce discipline (guide §1.2 —
    // don't compute things twice before tuning anything else).
    val sh = graft.operators.Dedup.materializeOnce(d
      .select(col("doc_id"), graft.functions.Text.tokenize(col("text")).as("ts"))
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.Text.shinglesFromTokens(col("ts"), 8))).as("w")))
    val rare = sh.groupBy("w").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 16)).select("w")
    val cand = sh.join(rare, "w")
    cand.select(col("doc_id").as("doc_a"), col("w"))
      .join(cand.select(col("doc_id").as("doc_b"), col("w")), "w")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_windows"))
  }

  /** q_dedup_sweep's body over any (doc_a, doc_b, jaccard) pair
    * relation — shared by the session-pair-store query and the
    * streaming-store twin.
    */
  private def dedupSweepOf(s: SparkSession, pairs: DataFrame): DataFrame = {
    val ths = Seq(0.9, 0.95, 0.97, 0.98, 0.985)
    val spine = s.createDataFrame(s.sparkContext.parallelize(
        ths.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("threshold",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val e = pairs
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(array(ths.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
    val pc = e.groupBy("threshold").agg(count(lit(1)).as("np"))
    val dc = e.select(col("threshold"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy("threshold").agg(countDistinct(col("doc")).as("nd"))
    spine.join(pc, Seq("threshold"), "left_outer")
      .join(dc, Seq("threshold"), "left_outer")
      .select(col("threshold"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("nd"), lit(0L)).as("n_docs"))
  }

  /** q_mirror_pairs' body over any (doc_a, doc_b, jaccard) pair
    * relation (see the registration comments).
    */
  private def mirrorPairsOf(d: DataFrame, pairs: DataFrame): DataFrame = {
    val src = d.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .filter(col("src_a") =!= col("src_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
  }

  /** q_line_dedup's body: LINE-LEVEL BOILERPLATE REMOVAL (the CCNet /
    * RefinedWeb cleaner pass — navigation bars, cookie banners and
    * share buttons repeat VERBATIM across a site's pages and survive
    * doc-level dedup because each page is otherwise unique). "Lines"
    * here are the corpus's position-grained unit: consecutive
    * non-overlapping 8-token segments (the tail segment kept partial).
    * A segment text seen in ≥ 3 DISTINCT docs of the SAME source is
    * boilerplate; the per-doc report carries the removal mass and an
    * md5 digest of the retained text in segment order, so the oracle
    * pins the exact surviving byte stream, not just counts.
    *
    * SCALE SHAPE: the segment relation is a map-side explode
    * (corpus-token-sized, no state); the boilerplate relation is ONE
    * (source, segtext) exchange with map-side partial distinct-counts;
    * the join back is segtext-keyed with fan exactly 1 (the boiler side
    * is unique per key — a hot boilerplate segment is a hot HASH key,
    * AQE-splittable, never a window); the per-doc aggregate reshuffles
    * on doc_id. Three exchanges total, all data-sized.
    */
  /** The segment ENRICHMENT + grid alone (r16 VERDICT What's-wrong #1:
    * input synthesis moves out of the timed query; persisted by
    * `AnalysisQueries.EnrichedStores.lineSegments`): even-id docs get
    * their source's NAVIGATION BANNER — exactly 8 tokens, so it lands
    * as segment 0 verbatim (the fixture corpus repeats no 8-token
    * segment across ≥3 docs, so an un-enriched run never exercises the
    * removal branch) — then the tokenize + non-overlapping-8-token
    * segment explode, yielding the (doc_id, source, seg, segtext,
    * segtok) relation the cleaner operates on.
    */
  private[graft] def lineSegmentsOf(d: DataFrame): DataFrame = {
    val banner = concat(lit("home about contact privacy terms cookie nav "),
      col("source"), lit(" "))
    val enriched = d.select(col("doc_id"), col("source"),
      when(col("doc_id") % 2 === 0, concat(banner, col("text")))
        .otherwise(col("text")).as("text"))
    enriched
      .select(col("doc_id"), col("source"),
        graft.functions.Text.tokenize(col("text")).as("ts"))
      .filter(size(col("ts")) > 0) // 0-token docs carry no segments
      .select(col("doc_id"), col("source"),
        posexplode(transform(sequence(lit(0), expr("(size(ts) + 7) div 8") - 1),
          i => struct(
            array_join(slice(col("ts"), i * 8 + 1, lit(8)), " ").as("segtext"),
            least(lit(8), size(col("ts")) - i * 8).cast("long").as("segtok"))))
          .as(Seq("seg", "sv")))
      .select(col("doc_id"), col("source"), col("seg"),
        col("sv.segtext").as("segtext"), col("sv.segtok").as("segtok"))
  }

  /** The CLEANER OPERATOR alone over any segment relation. */
  private[graft] def lineDedupFromSegments(seg: DataFrame): DataFrame = {
    val boiler = seg.groupBy("source", "segtext")
      .agg(countDistinct(col("doc_id")).as("bdf"))
      .filter(col("bdf") >= 3)
      .select(col("source"), col("segtext"), lit(true).as("boiler"))
    seg.join(boiler, Seq("source", "segtext"), "left_outer")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        count(when(col("boiler"), lit(1))).as("n_removed"),
        coalesce(sum(when(col("boiler").isNull, col("segtok"))), lit(0L))
          .cast("long").as("kept_tokens"),
        sort_array(collect_list(
          when(col("boiler").isNull, struct(col("seg"), col("segtext"))))).as("kc"))
      .select(col("doc_id"), col("n_segs"), col("n_removed"), col("kept_tokens"),
        // NULL (not md5('')) when everything was boilerplate — the
        // oracle's FILTERed string_agg is NULL over an empty group
        when(size(col("kc")) > 0,
          md5(array_join(transform(col("kc"), x => x.getField("segtext")), " ")))
          .as("kept_digest"))
  }

  /** Enrichment + operator composed — for the crafted-input specs. */
  private[graft] def lineDedupOf(d: DataFrame): DataFrame =
    lineDedupFromSegments(lineSegmentsOf(d))

  /** q_yield's body over any (doc, cluster, shingle) relation triple —
    * shared verbatim by the batch query and the accumulated-store twin:
    * the sequential lang → quality → dedup-canonical → decontamination
    * survivor chain with per-stage counts.
    */
  private def yieldOf(d: DataFrame, clusters: DataFrame,
                      shingles: DataFrame): DataFrame = {
    // ONE corpus scan, ONE aggregate (self-review rewrite, twice): the
    // original chain counted five derived relations — five re-scans of
    // the gate projection — and the first fusion attempt still
    // recomputed the fused projection per union branch. All four gate
    // flags now ride one projection (lang scores + quality in the same
    // select), the cluster/decon memberships left-join in on doc_id,
    // and one conditional aggregation produces every stage count,
    // reshaped to stage rows from the 1-row result.
    val g = AnalysisQueries.langIdOf(d,
        Seq(graft.functions.TextAnalysis.qualityScore(col("text")).as("quality")))
      .select(col("doc_id"), col("predicted"), col("quality"))
    val decon = Dedup.decontaminateFromShingles(
      shingles.filter(!evalDocPred), shingles.filter(evalDocPred))
      .select(col("doc_id"), lit(true).as("hit"))
    val en = col("predicted") === "en"
    val qual = col("quality") >= 0.75
    val canon = col("cluster_id").isNull || col("cluster_id") === col("doc_id")
    val clean = col("hit").isNull
    val agg = g
      .join(clusters, Seq("doc_id"), "left_outer")
      .join(decon, Seq("doc_id"), "left_outer")
      .agg(
        count(lit(1)).as("n0"),
        count(when(en, lit(1))).as("n1"),
        count(when(en && qual, lit(1))).as("n2"),
        count(when(en && qual && canon, lit(1))).as("n3"),
        count(when(en && qual && canon && clean, lit(1))).as("n4"))
    agg.select(explode(array(
        struct(lit("0_raw").as("stage"), col("n0").as("n_docs"), col("n0").as("n_raw")),
        struct(lit("1_lang").as("stage"), col("n1").as("n_docs"), col("n0").as("n_raw")),
        struct(lit("2_quality").as("stage"), col("n2").as("n_docs"), col("n0").as("n_raw")),
        struct(lit("3_dedup").as("stage"), col("n3").as("n_docs"), col("n0").as("n_raw")),
        struct(lit("4_decontam").as("stage"), col("n4").as("n_docs"), col("n0").as("n_raw")))).as("r"))
      .select(col("r.stage"), col("r.n_docs"),
        round(col("r.n_docs").cast("double") / col("r.n_raw"), 6).as("retained"))
  }

  /** q_yield's oracle: the four gate relations re-stated as inner WITH
    * blocks — each the SAME text as its standalone oracle (lang /
    * quality / components / decontamination) — then the sequential
    * survivor chain s1..s4 and the five stage counts.
    */
  private lazy val yieldOracleSql: String = {
    val langInner =
      s"""$toksCte, scored AS (
         |  SELECT doc_id,
         |         ${AnalysisQueries.langScoreSql}
         |  FROM toks
         |)
         |SELECT doc_id, ${AnalysisQueries.langPredSql} AS predicted FROM scored""".stripMargin
    val qualInner =
      s"""$toksCte, qm AS (
         |  SELECT doc_id,
         |    CAST(len(ts) AS BIGINT) AS n_tokens,
         |    round(CASE WHEN len(ts) = 0 THEN 0.0
         |          ELSE CAST(list_sum(list_transform(ts, t -> len(t))) AS DOUBLE) / len(ts) END, 6) AS mean_token_len,
         |    round(CASE WHEN len(ts) = 0 THEN 0.0
         |          ELSE CAST(len(list_filter(ts, t -> list_contains([$stopList], t))) AS DOUBLE) / len(ts) END, 6) AS stopword_ratio,
         |    round(CASE WHEN len(text) = 0 THEN 0.0
         |          ELSE CAST(len(text) - len(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / len(text) END, 6) AS punct_ratio
         |  FROM toks JOIN documents USING (doc_id)
         |)
         |SELECT doc_id,
         |  round(((CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 1 ELSE 0 END) +
         |         (CASE WHEN mean_token_len BETWEEN 2.5 AND 12.0 THEN 1 ELSE 0 END) +
         |         (CASE WHEN stopword_ratio <= 0.6 THEN 1 ELSE 0 END) +
         |         (CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END)) / 4.0, 2) AS quality
         |FROM qm""".stripMargin
    val deconInner =
      s"""$shingleCte, ex AS (
         |  SELECT doc_id, t.s AS shingle FROM shs, unnest(sh) AS t(s)
         |), bench AS (
         |  SELECT DISTINCT shingle FROM ex WHERE doc_id % $EvalDocMod = 0 AND doc_id < $EvalDocCap
         |)
         |SELECT e.doc_id, count(*) AS n_overlap
         |FROM ex e JOIN bench b ON e.shingle = b.shingle
         |WHERE NOT (e.doc_id % $EvalDocMod = 0 AND e.doc_id < $EvalDocCap)
         |GROUP BY e.doc_id""".stripMargin
    s"""WITH RECURSIVE pairs AS (
       |${nearDupSql.linesIterator.map("  " + _).mkString("\n")}
       |), sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs
       |), nodes AS (
       |  SELECT DISTINCT src AS node FROM sym
       |), reach(node, lab) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON r.node = s.src
       |), comp AS (
       |  SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
       |), lang AS (
       |${langInner.linesIterator.map("  " + _).mkString("\n")}
       |), qual AS (
       |${qualInner.linesIterator.map("  " + _).mkString("\n")}
       |), decon AS (
       |${deconInner.linesIterator.map("  " + _).mkString("\n")}
       |), s1 AS (
       |  SELECT d.doc_id FROM documents d JOIN lang USING (doc_id)
       |  WHERE lang.predicted = 'en'
       |), s2 AS (
       |  SELECT s1.doc_id FROM s1 JOIN qual USING (doc_id)
       |  WHERE qual.quality >= 0.75
       |), s3 AS (
       |  SELECT s2.doc_id FROM s2 LEFT JOIN comp USING (doc_id)
       |  WHERE comp.cluster_id IS NULL OR comp.cluster_id = s2.doc_id
       |), s4 AS (
       |  SELECT doc_id FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM decon)
       |), r AS (SELECT CAST(count(*) AS BIGINT) AS n_raw FROM documents),
       |stages AS (
       |  SELECT '0_raw' AS stage, (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs
       |  UNION ALL SELECT '1_lang', (SELECT CAST(count(*) AS BIGINT) FROM s1)
       |  UNION ALL SELECT '2_quality', (SELECT CAST(count(*) AS BIGINT) FROM s2)
       |  UNION ALL SELECT '3_dedup', (SELECT CAST(count(*) AS BIGINT) FROM s3)
       |  UNION ALL SELECT '4_decontam', (SELECT CAST(count(*) AS BIGINT) FROM s4)
       |)
       |SELECT stage, n_docs, round(CAST(n_docs AS DOUBLE) / n_raw, 6) AS retained
       |FROM stages, r""".stripMargin
  }

  /** q_span_dups' oracle — identical window construction (distinct
    * 8-token shingles per doc), identical df band, identical pair
    * aggregation; shared verbatim by the doc-fact-store streamed twin.
    */
  private lazy val spanDupsOracle: String =
    s"""$toksCte, w AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(list_transform(range(1, greatest(len(ts)-7, 0)+1),
       |                i -> ${(0 to 7).map(k => s"ts[i+$k]").mkString(" || ' ' || ")}))) AS w
       |  FROM toks
       |), rare AS (
       |  SELECT w FROM w GROUP BY 1 HAVING count(*) BETWEEN 2 AND 16
       |), cand AS (
       |  SELECT doc_id, w.w FROM w JOIN rare USING (w)
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_windows
       |FROM cand a JOIN cand b ON a.w = b.w AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** q_line_dedup's oracle — the identical segment grid (1-based
    * inclusive list slice, clipped tail), ≥3-distinct-docs boilerplate
    * rule and ordered retained-text digest; the FILTERed string_agg is
    * NULL over an all-boilerplate doc exactly like the engine's
    * empty-array guard. Shared verbatim by the doc-fact-store twin.
    */
  private lazy val lineDedupOracle: String =
    """WITH enr AS (
      |  SELECT doc_id, source,
      |         CASE WHEN doc_id % 2 = 0
      |              THEN 'home about contact privacy terms cookie nav ' || source || ' ' || text
      |              ELSE text END AS text
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, source,
      |         list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z\s]', '', 'g'), '\s+'),
      |                     t -> t <> '') AS ts
      |  FROM enr
      |), sidx AS (
      |  SELECT doc_id, source, ts,
      |         unnest(range(0, CAST(ceil(len(ts) / 8.0) AS BIGINT))) AS seg
      |  FROM toks WHERE len(ts) > 0
      |), segx AS (
      |  SELECT doc_id, source, seg,
      |         array_to_string(ts[CAST(seg*8+1 AS INT):CAST(seg*8+8 AS INT)], ' ') AS segtext,
      |         least(8, len(ts) - seg*8) AS segtok
      |  FROM sidx
      |), boiler AS (
      |  SELECT source, segtext FROM segx
      |  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3
      |)
      |SELECT s.doc_id, count(*) AS n_segs,
      |       count(b.segtext) AS n_removed,
      |       CAST(coalesce(sum(s.segtok) FILTER (b.segtext IS NULL), 0) AS BIGINT) AS kept_tokens,
      |       md5(string_agg(s.segtext, ' ' ORDER BY s.seg) FILTER (b.segtext IS NULL)) AS kept_digest
      |FROM segx s LEFT JOIN boiler b
      |  ON s.source = b.source AND s.segtext = b.segtext
      |GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_yield" -> yieldOracleSql,

    "q_line_dedup" -> lineDedupOracle,

    // the same pair derivation, rolled to the cross-source matrix
    "q_mirror_pairs" ->
      s"""WITH pairs AS (
         |${nearDupSql.linesIterator.map("  " + _).mkString("\n")}
         |), lab AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b, p.jaccard
         |  FROM pairs p
         |  JOIN documents da ON p.doc_a = da.doc_id
         |  JOIN documents db ON p.doc_b = db.doc_id
         |  WHERE da.source <> db.source
         |)
         |SELECT source_a, source_b, count(*) AS n_pairs,
         |       max(jaccard) AS max_jaccard
         |FROM lab GROUP BY 1, 2""".stripMargin,

    // sweep over the SAME pair derivation nearDupSql mirrors; DECIMAL
    // threshold literals cast to DOUBLE = the engine's lit() doubles
    "q_dedup_sweep" ->
      s"""WITH pairs AS (
         |${nearDupSql.linesIterator.map("  " + _).mkString("\n")}
         |), th(t) AS (VALUES (0.9), (0.95), (0.97), (0.98), (0.985)),
         |e AS (
         |  SELECT t, doc_a, doc_b FROM pairs, th WHERE jaccard >= CAST(t AS DOUBLE)
         |), pc AS (
         |  SELECT t, count(*) AS np FROM e GROUP BY 1
         |), dc AS (
         |  SELECT t, count(DISTINCT doc) AS nd
         |  FROM (SELECT t, unnest([doc_a, doc_b]) AS doc FROM e) GROUP BY 1
         |)
         |SELECT CAST(th.t AS DOUBLE) AS threshold,
         |       coalesce(pc.np, 0) AS n_pairs, coalesce(dc.nd, 0) AS n_docs
         |FROM th LEFT JOIN pc ON th.t = pc.t LEFT JOIN dc ON th.t = dc.t""".stripMargin,

    // the component CTE again, rolled to sizes, left-joined onto every
    // doc; identical 1/size arithmetic
    "q_dup_weights" ->
      s"""WITH RECURSIVE pairs AS (
         |${nearDupSql.linesIterator.map("  " + _).mkString("\n")}
         |), sym AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), nodes AS (
         |  SELECT DISTINCT src AS node FROM sym
         |), reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON r.node = s.src
         |), comp AS (
         |  SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
         |), sz AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS csz FROM comp GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       coalesce(sz.csz, 1) AS cluster_size,
         |       round(CAST(1.0 AS DOUBLE) / coalesce(sz.csz, 1), 6) AS weight
         |FROM documents d
         |LEFT JOIN comp ON d.doc_id = comp.doc_id
         |LEFT JOIN sz ON comp.cluster_id = sz.cluster_id""".stripMargin,

    // identical window construction (distinct 8-token shingles per
    // doc), identical df band, identical pair aggregation
    "q_span_dups" -> spanDupsOracle,

    // the same recursive component CTE as q_dedup_clusters' oracle,
    // rolled up to the size histogram
    "q_cluster_sizes" ->
      s"""WITH RECURSIVE pairs AS (
         |${nearDupSql.linesIterator.map("  " + _).mkString("\n")}
         |), sym AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), nodes AS (
         |  SELECT DISTINCT src AS node FROM sym
         |), reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON r.node = s.src
         |), comp AS (
         |  SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
         |), sz AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM comp GROUP BY 1
         |)
         |SELECT cluster_size, count(*) AS n_clusters FROM sz GROUP BY 1""".stripMargin,

    "q_dedup_exact" ->
      """WITH fp AS (
        |  SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z\s]', '', 'g')) AS fp
        |  FROM documents
        |)
        |SELECT doc_id, fp,
        |       min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
        |       doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
        |FROM fp""".stripMargin,

    "q_dedup_near" -> nearDupSql,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS (
         |${nearDupSql.linesIterator.map("  " + _).mkString("\n")}
         |), sym AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), nodes AS (
         |  SELECT DISTINCT src AS node FROM sym
         |), reach(node, lab) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT s.dst, r.lab FROM reach r JOIN sym s ON r.node = s.src
         |)
         |SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node""".stripMargin,

    "q_curate" -> curateOracleSql,


    "q_simhash" -> simhashSql,

    // sparse cosine pairs: the shingle CTEs verbatim, the rare-shingle
    // candidate rule mirrored, dot products as exact decimal sums
    "q_sparse_sim" ->
      s"""$shingleCte, ex AS (
         |  SELECT doc_id, t.shingle FROM shs, unnest(sh) AS t(shingle)
         |), dfq AS (
         |  SELECT shingle, count(*) AS df FROM ex GROUP BY 1
         |), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM ex),
         |w AS MATERIALIZED (
         |  SELECT doc_id, ex.shingle,
         |         round(ln(CAST(n.n_docs AS DOUBLE) / dfq.df), 6) AS idf
         |  FROM ex JOIN dfq USING (shingle) CROSS JOIN n
         |), nrm AS (
         |  SELECT doc_id,
         |         sqrt(CAST(sum(CAST(idf AS DECIMAL(13,6))
         |                       * CAST(idf AS DECIMAL(13,6))) AS DOUBLE)) AS nrm
         |  FROM w GROUP BY 1
         |), rare AS (
         |  SELECT shingle FROM dfq WHERE df BETWEEN 2 AND 10
         |), szq AS (
         |  SELECT doc_id, len(sh) AS ns FROM shs
         |), cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  JOIN rare r ON a.shingle = r.shingle
         |  JOIN szq sa ON sa.doc_id = a.doc_id
         |  JOIN szq sb ON sb.doc_id = b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= least(2, min(sa.ns), min(sb.ns))
         |), dot AS (
         |  SELECT c.doc_a, c.doc_b,
         |         CAST(sum(CAST(wa.idf AS DECIMAL(13,6))
         |                  * CAST(wb.idf AS DECIMAL(13,6))) AS DOUBLE) AS dot
         |  FROM cand c
         |  JOIN w wa ON wa.doc_id = c.doc_a
         |  JOIN w wb ON wb.doc_id = c.doc_b AND wb.shingle = wa.shingle
         |  GROUP BY 1, 2
         |)
         |SELECT d.doc_a, d.doc_b,
         |       round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
         |FROM dot d JOIN nrm na ON d.doc_a = na.doc_id
         |JOIN nrm nb ON d.doc_b = nb.doc_id
         |WHERE round(d.dot / (na.nrm * nb.nrm), 6) >= 0.3""".stripMargin,

    // novelty: first-seen = min doc_id per shingle over the same
    // distinct shingle sets the hash store holds
    "q_novelty" ->
      s"""$shingleCte, ex AS (
         |  SELECT doc_id, t.shingle FROM shs, unnest(sh) AS t(shingle)
         |), fst AS (
         |  SELECT shingle, min(doc_id) AS first_doc FROM ex GROUP BY shingle
         |)
         |SELECT e.doc_id, count(*) AS n_shingles,
         |       CAST(count(*) FILTER (e.doc_id = f.first_doc) AS BIGINT) AS n_novel,
         |       round(CAST(count(*) FILTER (e.doc_id = f.first_doc) AS DOUBLE)
         |             / count(*), 6) AS novelty
         |FROM ex e JOIN fst f USING (shingle)
         |GROUP BY e.doc_id""".stripMargin,

    "q_jaccard_pairs" ->
      s"""$shingleCte, ex AS (
         |  SELECT doc_id, t.shingle FROM shs, unnest(sh) AS t(shingle)
         |), rare AS (
         |  SELECT shingle FROM ex GROUP BY shingle HAVING count(*) BETWEEN 2 AND 10
         |), sz AS (
         |  SELECT doc_id, len(sh) AS ns FROM shs
         |), cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  JOIN rare r ON a.shingle = r.shingle
         |  JOIN sz sa ON sa.doc_id = a.doc_id
         |  JOIN sz sb ON sb.doc_id = b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= least(2, min(sa.ns), min(sb.ns))
         |), j AS (
         |  SELECT doc_a, doc_b,
         |         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |               / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
         |  FROM cand
         |  JOIN shs sa ON cand.doc_a = sa.doc_id
         |  JOIN shs sb ON cand.doc_b = sb.doc_id
         |)
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin,

    // same candidate CTE as q_jaccard_pairs (minSharedRare=2), but the
    // verify computes BOTH directional coverages and keeps either ≥ 0.8
    "q_containment" ->
      s"""$shingleCte, ex AS (
         |  SELECT doc_id, t.shingle FROM shs, unnest(sh) AS t(shingle)
         |), rare AS (
         |  SELECT shingle FROM ex GROUP BY shingle HAVING count(*) BETWEEN 2 AND 10
         |), sz AS (
         |  SELECT doc_id, len(sh) AS ns FROM shs
         |), cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  JOIN rare r ON a.shingle = r.shingle
         |  JOIN sz sa ON sa.doc_id = a.doc_id
         |  JOIN sz sb ON sb.doc_id = b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= least(2, min(sa.ns), min(sb.ns))
         |), c AS (
         |  SELECT doc_a, doc_b,
         |         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sa.sh), 6) AS cont_a,
         |         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sb.sh), 6) AS cont_b
         |  FROM cand
         |  JOIN shs sa ON cand.doc_a = sa.doc_id
         |  JOIN shs sb ON cand.doc_b = sb.doc_id
         |)
         |SELECT doc_a, doc_b, cont_a, cont_b FROM c
         |WHERE greatest(cont_a, cont_b) >= 0.8""".stripMargin,

    "q_decontaminate" ->
      s"""$shingleCte, ex AS (
         |  SELECT doc_id, t.s AS shingle FROM shs, unnest(sh) AS t(s)
         |), bench AS (
         |  SELECT DISTINCT shingle FROM ex WHERE doc_id % $EvalDocMod = 0 AND doc_id < $EvalDocCap
         |)
         |SELECT e.doc_id, count(*) AS n_overlap
         |FROM ex e JOIN bench b ON e.shingle = b.shingle
         |WHERE NOT (e.doc_id % $EvalDocMod = 0 AND e.doc_id < $EvalDocCap)
         |GROUP BY e.doc_id""".stripMargin,

    // the Bloom guarantees the oracle can state exactly: the engine's
    // booleans must come back true, n_exact must equal the exact SQL
    "q_bloom_decontaminate" ->
      s"""$shingleCte, ex AS (
         |  SELECT doc_id, t.s AS shingle FROM shs, unnest(sh) AS t(s)
         |), bench AS (
         |  SELECT DISTINCT shingle FROM ex WHERE doc_id % $EvalDocMod = 0 AND doc_id < $EvalDocCap
         |), exact AS (
         |  SELECT DISTINCT e.doc_id
         |  FROM ex e JOIN bench b ON e.shingle = b.shingle
         |  WHERE NOT (e.doc_id % $EvalDocMod = 0 AND e.doc_id < $EvalDocCap)
         |)
         |SELECT (SELECT count(*) FROM exact) AS n_exact,
         |       true AS no_false_negatives,
         |       true AS fp_within_bound""".stripMargin,

    // both settings' full pipelines, unrolled with suffixed CTE names; the
    // scalar-subquery SELECT makes the three counts one hash-checked row
    "q_jaccard_mindiverge" ->
      s"""$shingleCte, ex AS (
         |  SELECT doc_id, t.shingle FROM shs, unnest(sh) AS t(shingle)
         |), rare AS (
         |  SELECT shingle FROM ex GROUP BY shingle HAVING count(*) BETWEEN 2 AND 10
         |), sz AS (
         |  SELECT doc_id, len(sh) AS ns FROM shs
         |), ${jaccardFilteredCte(1)}, ${jaccardFilteredCte(2)}
         |SELECT (SELECT count(*) FROM f1) AS pairs_m1,
         |       (SELECT count(*) FROM f2) AS pairs_m2,
         |       (SELECT count(*) FROM (SELECT * FROM f1 EXCEPT SELECT * FROM f2) tx)
         |         AS dropped_by_m2""".stripMargin,

    "q_simhash_pairs" ->
      s"""WITH fp AS (
         |${simhashSql.linesIterator.map("  " + _).mkString("\n")}
         |), c AS (
         |  SELECT doc_id, simhash, i AS ci, substr(simhash, CAST(i*4+1 AS INT), 4) AS chunk
         |  FROM fp, range(4) t(i)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.simhash AS ha, b.simhash AS hb
         |  FROM c a JOIN c b ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id
         |), bits AS (
         |  SELECT da, db,
         |    CASE WHEN ascii(substr(ha, CAST(p+1 AS INT), 1)) <= 57
         |         THEN ascii(substr(ha, CAST(p+1 AS INT), 1)) - 48
         |         ELSE ascii(substr(ha, CAST(p+1 AS INT), 1)) - 87 END AS na,
         |    CASE WHEN ascii(substr(hb, CAST(p+1 AS INT), 1)) <= 57
         |         THEN ascii(substr(hb, CAST(p+1 AS INT), 1)) - 48
         |         ELSE ascii(substr(hb, CAST(p+1 AS INT), 1)) - 87 END AS nb
         |  FROM cand, range(16) t(p)
         |), ham AS (
         |  SELECT da, db, CAST(sum(bit_count(xor(na, nb))) AS INT) AS hamming
         |  FROM bits GROUP BY da, db
         |)
         |SELECT da AS doc_a, db AS doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin,

    // INDEPENDENT formulation: the same payload set (corpus + shifted
    // re-encodes via the shared translate alphabet), the stub-resize
    // mirror at 72 grid cells (the q_resize floor-index arithmetic;
    // ASCII corpus ⇒ byte == char code), gradient-sign bits in the
    // engine's row-major order, then BRUTE-FORCE pairwise bit
    // disagreement over ALL payload pairs — no banding to mirror, so
    // the engine's pigeonhole recall claim is itself under test.
    "q_img_dedup" ->
      s"""WITH allp AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000,
         |         translate(text, ${sqlQuote(shiftFrom)}, ${sqlQuote(shiftTo)})
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, i,
         |         ascii(substr(text, CAST((i*len(text))//72 AS INT)+1, 1)) AS b
         |  FROM allp, range(0, 72) t(i)
         |), bits AS (
         |  SELECT a.doc_id, y*8 + x AS k,
         |         CASE WHEN a.b > c.b THEN 1 ELSE 0 END AS bit
         |  FROM range(0, 8) ty(y), range(0, 8) tx(x), g a, g c
         |  WHERE a.i = y*9 + x AND c.i = y*9 + x + 1 AND a.doc_id = c.doc_id
         |), ham AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INT) AS hamming
         |  FROM bits a JOIN bits b ON a.k = b.k AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin,

    // INDEPENDENT formulation: same clip set (corpus + shifted
    // re-encodes), the q_frame_sample float-step slice arithmetic
    // (engine `/` is double division; positions floor at the cast),
    // the stub-resize 72-cell grid per FRAME, gradient-sign bits, then
    // BRUTE-FORCE per-frame bit disagreement over ALL clip pairs and
    // the 3-of-4 majority — no banding to mirror, so the per-frame
    // pigeonhole recall claim is itself under test.
    "q_clip_dedup" ->
      s"""WITH allp AS (
         |  SELECT doc_id AS clip_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $VariantIdOffset,
         |         translate(text, ${sqlQuote(shiftFrom)}, ${sqlQuote(shiftTo)})
         |  FROM documents
         |), fr AS MATERIALIZED (
         |  SELECT clip_id, f AS frame,
         |         substr(text,
         |                CAST(floor(f * greatest((len(text) - 96) / 3.0, 0) + 1) AS INT),
         |                96) AS ftext
         |  FROM allp, range(0, 4) t(f)
         |), g AS MATERIALIZED (
         |  SELECT clip_id, frame, i,
         |         ascii(substr(ftext, CAST((i*len(ftext))//72 AS INT)+1, 1)) AS b
         |  FROM fr, range(0, 72) t(i)
         |), bits AS MATERIALIZED (
         |  SELECT a.clip_id, a.frame, y*8 + x AS k,
         |         CASE WHEN a.b > c.b THEN 1 ELSE 0 END AS bit
         |  FROM range(0, 8) ty(y), range(0, 8) tx(x), g a, g c
         |  WHERE a.i = y*9 + x AND c.i = y*9 + x + 1
         |    AND a.clip_id = c.clip_id AND a.frame = c.frame
         |), fham AS (
         |  SELECT a.clip_id AS clip_a, b.clip_id AS clip_b, a.frame,
         |         sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
         |  FROM bits a JOIN bits b
         |    ON a.k = b.k AND a.frame = b.frame AND a.clip_id < b.clip_id
         |  GROUP BY 1, 2, 3
         |)
         |SELECT clip_a, clip_b,
         |       CAST(sum(CASE WHEN hamming <= 3 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS matched_frames
         |FROM fham GROUP BY 1, 2
         |HAVING sum(CASE WHEN hamming <= 3 THEN 1 ELSE 0 END) >= 3""".stripMargin,
  )

  /** The rare-shingle candidate + verify + threshold pipeline at
    * `minSharedRare = m`, as suffixed CTEs over the shared `ex`/`rare`/
    * `sz` relations — ends in `f$m (doc_a, doc_b)`. Mirror of the
    * `q_jaccard_pairs` oracle with the HAVING floor parameterized.
    */
  private def jaccardFilteredCte(m: Int): String =
    s"""cand$m AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN rare r ON a.shingle = r.shingle
       |  JOIN sz sa ON sa.doc_id = a.doc_id
       |  JOIN sz sb ON sb.doc_id = b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= least($m, min(sa.ns), min(sb.ns))
       |), j$m AS (
       |  SELECT doc_a, doc_b,
       |         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |               / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
       |  FROM cand$m
       |  JOIN shs sa ON cand$m.doc_a = sa.doc_id
       |  JOIN shs sb ON cand$m.doc_b = sb.doc_id
       |), f$m AS (
       |  SELECT doc_a, doc_b FROM j$m WHERE jaccard >= 0.5
       |)""".stripMargin

  private lazy val nearDupSql: String =
    s"""$shingleCte, hv AS (
       |  SELECT doc_id, sh,
       |         list_transform(list_transform(sh, s -> substr(md5(s), 1, 8)),
       |                        h -> $nibDecodeSql) AS hv
       |  FROM shs
       |), params(k, a, b) AS (VALUES $hashParamRows),
       |mins AS (
       |  SELECT doc_id, k,
       |         list_min(list_transform(hv, v -> (v * a + b) % ${Dedup.HashModulus})) AS mh
       |  FROM hv, params
       |), sigs AS (
       |  SELECT doc_id, k // 3 AS band,
       |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY k) AS sig
       |  FROM mins GROUP BY doc_id, k // 3
       |), cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sigs a JOIN sigs b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |), j AS (
       |  SELECT doc_a, doc_b,
       |         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |               / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
       |  FROM cands
       |  JOIN shs sa ON cands.doc_a = sa.doc_id
       |  JOIN shs sb ON cands.doc_b = sb.doc_id
       |)
       |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""".stripMargin

  private lazy val simhashSql: String =
      s"""$toksCte, terms AS (
         |  SELECT DISTINCT doc_id, t.term FROM toks, unnest(ts) AS t(term)
         |  WHERE t.term NOT IN ($stopList)
         |), h AS (
         |  SELECT doc_id, substr(md5(term), 1, 16) AS h FROM terms
         |), nib AS (
         |  SELECT doc_id, p, ascii(substr(h, CAST(p+1 AS INT), 1)) AS c
         |  FROM h, range(16) t(p)
         |), v AS (
         |  SELECT doc_id, p, CASE WHEN c <= 57 THEN c - 48 ELSE c - 87 END AS v FROM nib
         |), agg AS (
         |  SELECT doc_id, p, count(*) AS n,
         |         sum(floor(v/8) % 2) AS s3, sum(floor(v/4) % 2) AS s2,
         |         sum(floor(v/2) % 2) AS s1, sum(v % 2) AS s0
         |  FROM v GROUP BY doc_id, p
         |), nv AS (
         |  SELECT doc_id, p,
         |         CAST((CASE WHEN s3*2 > n THEN 8 ELSE 0 END) +
         |              (CASE WHEN s2*2 > n THEN 4 ELSE 0 END) +
         |              (CASE WHEN s1*2 > n THEN 2 ELSE 0 END) +
         |              (CASE WHEN s0*2 > n THEN 1 ELSE 0 END) AS INT) AS nv
         |  FROM agg
         |)
         |SELECT doc_id, string_agg(substr('0123456789abcdef', nv+1, 1), '' ORDER BY p) AS simhash
         |FROM nv GROUP BY doc_id""".stripMargin
}
